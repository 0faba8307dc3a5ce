"""Per-node ``include``/``exclude`` display filters stored as statements.

The reference console writes view filters INTO the graph as ordinary
statements (``:exclude term`` / ``node :include prop``,
src/console.cpp:435-458): ``(node, exclude, term)`` hides matching
statements when the node is rendered, ``(node, include, term)`` turns
the node's view into a whitelist, a bare ``:exclude term`` attaches the
rule to the global ``excluded`` node, and ``:include`` auto-propagates
the rule onto the node's type (src/console.cpp:455-457).  The webserver
applies them per rendered statement (``okStatement``,
src/webserver.cpp:580-620): rule statements themselves never render, a
hardcoded meta-predicate list (Key / expected type / Range /
usage domain / schema / http* / 2-letter language codes) is always
skipped, an excluded term hides any statement whose subject, predicate
or object name CONTAINS it case-insensitively (or whose numeric id
equals it, 603-607), and a non-empty include set keeps only matching
statements (608-620).

Spark-first shape: the rule set is dimension-bounded (humans type these)
-> both legs are broadcast joins against the corpus-sized statement
table; the substring theta-join runs as BroadcastNestedLoopJoin over the
tiny rule side, the corpus side is a single pass with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netbase_spark.operators.mutate import rel_id_for, upsert_triples
from netbase_spark.plans.broadcast_gate import local_frame
from netbase_spark.relations import REL_NAMES

INCLUDE_REL = rel_id_for("include")
EXCLUDE_REL = rel_id_for("exclude")
#: bare ``:exclude term`` attaches to this well-known node
#: (src/console.cpp:444) and then applies to EVERY rendered subject.
GLOBAL_EXCLUDE_NODE = "excluded"


def pred_name_col(rel_col="rel"):
    """Display name of a relation id: the built-in registry name, else
    the id rendered as a string (custom md5-slice predicate ids have no
    inverse; the reference's exclude matcher falls back to comparing
    ``itoa(s->predicate)``, src/webserver.cpp:606)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in REL_NAMES.items() for x in kv]
    )
    return F.coalesce(
        mapping[F.col(rel_col)], F.col(rel_col).cast("string")
    )


def exclude_rule_rows(spark, node: str | None, term: str) -> DataFrame:
    """One ``(node, exclude, term)`` statement; ``node=None`` is the
    global ``:exclude term`` form (src/console.cpp:442-446)."""
    owner = node if node is not None else GLOBAL_EXCLUDE_NODE
    return local_frame(
        spark, [(owner, EXCLUDE_REL, term)], "subj string, rel int, obj string"
    )


def include_rule_rows(
    spark, triples: DataFrame, node: str, term: str
) -> DataFrame:
    """``(node, include, term)`` plus the same rule on the node's type
    (``:include`` auto-add-to-type, src/console.cpp:455-457)."""
    from netbase_spark.operators.query_ops import get_type

    rows = [(node, INCLUDE_REL, term)]
    typ = get_type(triples, [node]).select("type").limit(1).collect()
    if typ and typ[0][0] is not None and typ[0][0] != node:
        rows.append((typ[0][0], INCLUDE_REL, term))
    return local_frame(spark, rows, "subj string, rel int, obj string")


def add_view_rule(
    triples: DataFrame, kind: str, node: str | None, term: str
) -> DataFrame:
    """Insert an include/exclude rule statement (idempotent upsert)."""
    spark = triples.sparkSession
    if kind == "exclude":
        new = exclude_rule_rows(spark, node, term)
    elif kind == "include":
        if node is None:
            raise ValueError("include rules need a node")
        new = include_rule_rows(spark, triples, node, term)
    else:
        raise ValueError(f"unknown view rule kind: {kind}")
    for c in triples.columns:  # align provenance columns (rule, doc_id, ...)
        if c not in new.columns:
            new = new.withColumn(
                c,
                F.lit("view" if c == "rule" else None).cast(
                    dict(triples.dtypes)[c]
                ),
            )
    return upsert_triples(triples, new.select(*triples.columns))


def _meta_pred_skip(pname):
    """The always-hidden predicate list (src/webserver.cpp:595-601) plus
    the 2-letter/locale-code heuristic (``predicateName[2]`` is ``-``,
    ``_`` or NUL -> zh-cn, id, ...; src/webserver.cpp:598-599)."""
    lowered = F.lower(pname)
    listed = lowered.isin(
        "key", "expected type", "range", "usage domain", "schema"
    )
    http = F.lower(pname).startswith("http")
    third = F.substring(pname, 3, 1)
    localeish = (F.length(pname) == 2) | third.isin("-", "_")
    return listed | http | localeish


def _term_match(term, subj, pname, obj, rel):
    """One exclude/include term vs one statement: case-insensitive
    substring on any of the three names, or exact id-string equality
    (src/webserver.cpp:603-607)."""
    t = F.lower(term)
    return (
        F.lower(subj).contains(t)
        | F.lower(pname).contains(t)
        | F.lower(obj).contains(t)
        | (rel.cast("string") == term)
        | (subj == term)
        | (obj == term)
    )


def visible_statements(
    triples: DataFrame, skip_meta: bool = True
) -> DataFrame:
    """Statements that survive the per-node view filters
    (``okStatement``, src/webserver.cpp:580-620).

    Rules are read from ``triples`` itself: ``(S, exclude, T)`` hides
    matching statements of subject S, ``(excluded, exclude, T)`` hides
    them for every subject, and a subject with at least one
    ``(S, include, T)`` rule keeps ONLY matching statements.  Rule
    statements never appear in the output.  Plan: corpus side is one
    scan; the two rule legs are broadcast (nested-loop for the substring
    predicate) joins — no shuffle touches the statement table.
    """
    is_rule = F.col("rel").isin(INCLUDE_REL, EXCLUDE_REL)
    body = triples.where(~is_rule)
    pname = pred_name_col()
    if skip_meta:
        body = body.where(~_meta_pred_skip(pname))

    # Per-owner rule ARRAYS keep the corpus side to ONE scan and ONE
    # broadcast HASH join per rule kind (subj equi-key), with the
    # substring matching as an `exists()` higher-order expr over the
    # (human-typed, tiny) term array — no nested-loop join, no second
    # pass for the include leg.  The global exclude terms ride along as
    # a one-row cross-joined broadcast array.
    rules = triples.where(is_rule).select(
        F.col("subj").alias("r_owner"),
        F.col("rel").alias("r_kind"),
        F.col("obj").alias("r_term"),
    )

    def _per_owner(kind, out_col):
        return (
            rules.where(F.col("r_kind") == kind)
            .groupBy(F.col("r_owner").alias("subj"))
            .agg(F.collect_set("r_term").alias(out_col))
        )

    exc_own = _per_owner(EXCLUDE_REL, "_exc")
    glob = F.broadcast(
        rules.where(
            (F.col("r_kind") == EXCLUDE_REL)
            & (F.col("r_owner") == GLOBAL_EXCLUDE_NODE)
        ).agg(
            F.coalesce(F.collect_set("r_term"), F.array()).alias("_gexc")
        )
    )
    inc_own = _per_owner(INCLUDE_REL, "_inc")

    subj, rel, obj = F.col("subj"), F.col("rel"), F.col("obj")

    def matcher(term):
        return _term_match(term, subj, pname, obj, rel)

    out = (
        body.join(
            F.broadcast(exc_own.where(F.col("subj") != GLOBAL_EXCLUDE_NODE)),
            "subj",
            "left",
        )
        .join(F.broadcast(inc_own), "subj", "left")
        .crossJoin(glob)
        .where(
            ~F.exists(
                F.concat(
                    F.coalesce(F.col("_exc"), F.array()), F.col("_gexc")
                ),
                matcher,
            )
        )
        .where(F.col("_inc").isNull() | F.exists(F.col("_inc"), matcher))
    )
    return out.drop("_exc", "_gexc", "_inc")
