"""Mutation path: learn / update / setValue / upsert — the reference's
insert-and-query loop.

Reference: ``learn(sentence)`` parses a 3-token "s p o" sentence (stop
words " a " / " the " stripped) or an ``s.p=o`` evaluate form and calls
``addStatement`` (src/netbase.cpp:2200-2218; src/query.cpp:338-394,
579-595); ``update(query)`` applies ``UPDATE x SET p=v`` over a
parseProperties result set (src/query.cpp:1824-1843); ``setValue``
replaces a property value if different (src/netbase.cpp:2368-2377);
mutations append to the replay log (``replay()``,
src/netbase.cpp:2521-2533).  Learning the same fact twice returns the
SAME statement (``testFactLearning``, src/tests.cpp:1227-1259) — i.e.
the upsert is idempotent.

Spark-first: sentences parse JVM-side (regexp + array ops, no UDF);
the upsert is a set-semantics union + dropDuplicates (our storage has
no physical insert order — SURVEY.md §2.5 Mutation note); setValue is
an anti-join replace.  Predicates resolve through the canonical
registry (``getRelation``) with an md5-derived stable id fallback so
the DuckDB oracle can reproduce ids bit-for-bit.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from netbase_spark.normalize import norm_name, norm_name_col
from netbase_spark.plans.broadcast_gate import local_frame
from netbase_spark.relations import PREDICATE_CANON, canon_predicate

# learned free predicates get a stable md5-slice id in [10^4, 2^30)
# (positive: never collides with built-in negative relation ids);
# DuckDB: ('0x' || substr(md5(name), 1, 8))::BIGINT % 1073741824
_HASH_MOD = 1 << 30


def rel_id_for(pred_name: str) -> int:
    """Relation id for a predicate NAME: canonical registry first
    (``getRelation``, src/relations.cpp:479-592), else md5-slice."""
    nn = norm_name(pred_name) or ""
    canon = canon_predicate(nn)
    if canon is not None:
        return canon
    import hashlib

    return int(hashlib.md5(nn.encode()).hexdigest()[:8], 16) % _HASH_MOD


def sub_predicate_ids(rel: int) -> frozenset[int]:
    """{rel} ∪ its sub-property ids per the ``initWikiRelations``
    hierarchy (src/relations.cpp:595-612): a match over the canonical
    relation must also hit narrower wiki predicates (P131 edges answer
    PartOf patterns).  Sub-property ids resolve through the same
    name->id path the importers use, so hash-fallback ids line up."""
    from netbase_spark.relations import PREDICATE_SUBPROPERTY

    return frozenset(
        {rel}
        | {rel_id_for(n) for n, anc in PREDICATE_SUBPROPERTY.items() if anc == rel}
    )


def rel_id_col(pred_name_col: Column) -> Column:
    """Column twin of :func:`rel_id_for` (MUST stay equivalent; pinned
    by tests/test_mutate.py)."""
    nn = norm_name_col(pred_name_col)
    items = [F.lit(x) for kv in PREDICATE_CANON.items() for x in kv]
    canon = F.create_map(*items)[nn]
    hashed = F.pmod(
        F.conv(F.substring(F.md5(nn), 1, 8), 16, 10).cast("long"),
        F.lit(_HASH_MOD),
    )
    return F.coalesce(canon.cast("long"), hashed).cast("int")


def parse_sentence(s: str) -> tuple[str, int, str] | None:
    """Pure-Python sentence parse (oracle/test twin of
    :func:`parse_sentences`): ``s.p=o`` or 3 tokens after stop-word
    strip -> (subj_norm, rel_id, obj_norm), else None."""
    import re

    from netbase_spark.relations import MEMBER

    s = (s or "").strip()
    m = re.match(r"^(\S+)\.(\S+?)=(\S+)$", s)
    if m:
        subj, pred, obj = m.groups()
    else:
        # valueless dotted form "a.b" -> (a, Member, b)
        # (parseFilter, src/query.cpp:398-412; learn("testDummy.funny")
        # in testDummyLogic src/tests.cpp:294)
        m2 = re.match(r"^(\S+)\.(\D\S*)$", s)
        if m2:
            sn, on = norm_name(m2.group(1)), norm_name(m2.group(2))
            if not sn or not on:
                return None
            return (sn, MEMBER, on)
        toks = [t for t in s.split(" ") if t and t.lower() not in ("a", "the")]
        if len(toks) != 3:
            return None
        subj, pred, obj = toks
    sn, on = norm_name(subj), norm_name(obj)
    if not sn or not on:
        return None
    return (sn, rel_id_for(pred), on)


def parse_sentences(sentences: DataFrame, col: str = "sentence") -> DataFrame:
    """sentences(col) -> triples(subj, rel, obj, rule='learn', doc_id)
    — JVM-side parse, malformed rows dropped."""
    from netbase_spark.relations import MEMBER

    c = F.trim(F.col(col))
    dotted = F.regexp_extract(c, r"^(\S+)\.(\S+?)=(\S+)$", 0) != ""
    d_subj = F.regexp_extract(c, r"^(\S+)\.(\S+?)=(\S+)$", 1)
    d_pred = F.regexp_extract(c, r"^(\S+)\.(\S+?)=(\S+)$", 2)
    d_obj = F.regexp_extract(c, r"^(\S+)\.(\S+?)=(\S+)$", 3)
    # valueless "a.b" -> (a, Member, b); numeric tails ("3.14") are
    # values, not property splits (src/query.cpp:398-416)
    member = ~dotted & (F.regexp_extract(c, r"^(\S+)\.(\D\S*)$", 0) != "")
    m_subj = F.regexp_extract(c, r"^(\S+)\.(\D\S*)$", 1)
    m_obj = F.regexp_extract(c, r"^(\S+)\.(\D\S*)$", 2)
    toks = F.filter(
        F.split(c, " "),
        lambda t: (t != "") & ~F.lower(t).isin("a", "the"),
    )
    three = F.size(toks) == 3
    subj = F.when(dotted, d_subj).when(member, m_subj).when(three, toks[0])
    obj = F.when(dotted, d_obj).when(member, m_obj).when(three, toks[2])
    rel = F.when(dotted, rel_id_col(d_pred)).when(
        member, F.lit(MEMBER)
    ).when(three, rel_id_col(toks[1]))
    out = sentences.select(
        norm_name_col(subj).alias("subj"),
        rel.alias("rel"),
        norm_name_col(obj).alias("obj"),
        F.lit("learn").alias("rule"),
        F.lit(None).cast("string").alias("doc_id"),
    )
    return out.where(
        F.col("subj").isNotNull()
        & F.col("obj").isNotNull()
        & (F.length("subj") > 0)
        & (F.length("obj") > 0)
    )


def upsert_triples(base: DataFrame, new: DataFrame) -> DataFrame:
    """Idempotent MERGE: set-semantics union keyed (subj, rel, obj);
    an existing fact's row (rule/doc_id provenance) wins over the new
    duplicate — learning a fact twice is the same statement
    (src/netbase.cpp:760-767 duplicate check; testFactLearning).
    One shuffle on the triple key; at Iceberg scale this is the
    MERGE INTO pattern with the same key."""
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        new.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy("subj", "rel", "obj").orderBy("_src")
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )


def learn(triples: DataFrame, sentences: DataFrame, col: str = "sentence") -> DataFrame:
    """``learn``: parse sentences and upsert the resulting facts."""
    return upsert_triples(triples, parse_sentences(sentences, col))


def set_value(
    triples: DataFrame, subj: str, pred_name: str, new_obj: str
) -> DataFrame:
    """``setValue`` (src/netbase.cpp:2368-2377): replace the value of
    (subj, rel) if different — single-valued property semantics: any
    existing (subj, rel, *) rows are dropped, the new fact added."""
    rel = rel_id_for(pred_name)
    # filter on the SAME normalized node key the insert uses — a raw
    # (e.g. capitalized) caller name must still replace the stored row,
    # not leave it beside the new one
    key = norm_name(subj) or subj
    keep = triples.where(~((F.col("subj") == key) & (F.col("rel") == rel)))
    spark = triples.sparkSession
    row = local_frame(
        spark,
        [(key, rel, norm_name(new_obj) or new_obj, "update", None)],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    return keep.unionByName(row.select(*triples.columns))


def update_statements(
    triples: DataFrame, targets: DataFrame, pred_name: str, value: str
) -> DataFrame:
    """``update(query)`` (src/query.cpp:1824-1843): for every node in
    ``targets(node)``, SET pred = value (single-valued replace) — the
    distributed form of setValue over a parseProperties result set.
    Anti-join drop + union insert: two narrow shuffles, no collect."""
    rel = rel_id_for(pred_name)
    t = F.broadcast(targets.select(F.col("node").alias("subj")))
    dropped = triples.join(
        t.withColumn("_r", F.lit(rel)),
        (triples["subj"] == t["subj"]) & (triples["rel"] == F.col("_r")),
        "left_anti",
    )
    inserts = targets.select(
        F.col("node").alias("subj"),
        F.lit(rel).alias("rel"),
        F.lit(norm_name(value) or value).alias("obj"),
        F.lit("update").alias("rule"),
        F.lit(None).cast("string").alias("doc_id"),
    )
    return dropped.unionByName(inserts.select(*triples.columns))


def ensure_singletons(
    triples: DataFrame,
    names: DataFrame,
    name_col: str = "name",
    type_name: str | None = None,
) -> DataFrame:
    """``getSingleton`` (src/netbase.cpp:1180-1193): probe ``hasWord``;
    a missing name gets created once (kind ``_singleton``), with a Type
    statement when a type is given.  Present names are untouched —
    idempotent get-or-create.

    Name-keyed triple-store analog: a node "exists" iff its name occurs
    as a subject or object; missing requested names get one inserted
    ``(name, Type, type|'singleton')`` row.  Distributed form: one
    anti-join of the (dimension-sized) request set against the node
    set + union — no collect, broadcast-sized right side.
    """
    from netbase_spark.relations import TYPE

    nn = norm_name_col(F.col(name_col)).alias("subj")
    requested = names.select(nn).where(F.length("subj") > 0).distinct()
    nodes = (
        triples.select(F.col("subj").alias("n"))
        .unionByName(triples.select(F.col("obj").alias("n")))
        .distinct()
    )
    missing = requested.join(
        nodes, requested["subj"] == nodes["n"], "left_anti"
    )
    inserts = missing.select(
        "subj",
        F.lit(TYPE).alias("rel"),
        F.lit(norm_name(type_name) if type_name else "singleton").alias("obj"),
        F.lit("singleton").alias("rule"),
        F.lit(None).cast("string").alias("doc_id"),
    )
    return triples.unionByName(inserts.select(*triples.columns))


def get_new_names(
    triples: DataFrame, names: DataFrame, name_col: str = "name"
) -> DataFrame:
    """``getNew`` (src/netbase.cpp:1168-1173): ALWAYS allocates a fresh
    node, even when the name is taken — ambiguous surface forms are
    distinct nodes in the reference (``add(thing, type)`` with no probe).

    Name-keyed analog: the n-th node sharing a base name gets the id
    ``name~n`` (the first keeps the bare name).  The ordinal continues
    after existing allocations: existing node ids are grouped by base
    name (``~k`` suffix stripped), and each requested row ranks after
    them.  Returns ``names`` with an ``allocated`` node-id column.
    Two narrow shuffles (group-count + per-name window) — no collect.
    """
    base = norm_name_col(F.col(name_col)).alias("base")
    req = names.select(base).where(F.length("base") > 0)
    # _taken = HIGHEST existing ordinal per base (bare name counts as 1),
    # not a row count: with non-contiguous suffixes (bare name deleted,
    # or '~k' imported) a count under-shoots and re-allocates an id that
    # already exists, silently merging two entities
    suffix = F.regexp_extract("n", r"~(\d+)$", 1)
    existing = (
        triples.select(F.col("subj").alias("n"))
        .unionByName(triples.select(F.col("obj").alias("n")))
        .distinct()
        .select(
            F.regexp_replace("n", r"~\d+$", "").alias("base"),
            F.coalesce(F.nullif(suffix, F.lit("")).cast("int"), F.lit(1)).alias("k"),
        )
        # keep only requested base names so the broadcast side below
        # stays dimension-sized even over a web-scale node set
        .join(F.broadcast(req.distinct()), "base", "leftsemi")
        .groupBy("base")
        .agg(F.max("k").alias("_taken"))
    )
    w = Window.partitionBy("base").orderBy("base")
    ranked = req.withColumn("_rn", F.row_number().over(w)).join(
        F.broadcast(existing), "base", "left"
    )
    ordinal = F.coalesce(F.col("_taken"), F.lit(0)) + F.col("_rn")
    return ranked.select(
        F.col("base").alias(name_col),
        F.when(ordinal == 1, F.col("base"))
        .otherwise(F.concat("base", F.lit("~"), ordinal.cast("string")))
        .alias("allocated"),
    )


def append_replay_log(new: DataFrame, path: str) -> None:
    """Append learned facts to the replay log (``replay()``,
    src/netbase.cpp:2521-2533; console append src/console.cpp:697-700):
    an append-only parquet commit — replaying = reading the log and
    upserting over a snapshot."""
    new.write.mode("append").parquet(path)


def replay(triples: DataFrame, log_path: str) -> DataFrame:
    """Re-apply the replay log over a triple snapshot."""
    spark = triples.sparkSession
    try:
        log = spark.read.parquet(log_path)
    except AnalysisException as e:
        # ONLY an absent log is a no-op; a corrupt/unreadable log must
        # surface, not silently drop every logged mutation
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return triples
        raise
    return upsert_triples(triples, log.select(*triples.columns))
