"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is a KG-construction / training-data operator
from SURVEY.md §2 expressed Spark-first, with a DuckDB-equivalent SQL
oracle in ``oracle_sql()``.  Shared derivations (the "contract" both
sides implement):

- ``labels``: gazetteer rows from the five name-bearing testdata tables,
  keyed ``P<partkey> | N<nationkey> | R<regionkey> | S<suppkey> |
  C<custkey>``.
- ``enriched docs``: documents.text with two deterministically chosen
  part names appended (``doc_id*7 % n_part`` and ``doc_id*13+5 % n_part``,
  the second pluralized when ``doc_id%3=0``) — gives the mention scanner
  real multi-word gazetteer hits, plural stemming, and blacklist cases.
- blacklist for the scan: {"old rod"}.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared Spark-side derivations
# ---------------------------------------------------------------------------

SCAN_BLACKLIST = {"old rod"}

NORM_SQL = (
    "lower(trim(regexp_replace(regexp_replace({c}, '^[\"''\\s]+|[\"''\\s]+$', '', 'g'),"
    " '[\\s_\\-]+', ' ', 'g')))"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _labels_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    def src(tbl, key_col, prefix, label_col, source):
        return _t(spark, sf_dir, tbl).select(
            F.concat(F.lit(prefix), F.col(key_col).cast("string")).alias("key"),
            F.col(label_col).alias("label"),
            F.lit(source).alias("label_type"),
            F.lit("en").alias("lang"),
        )

    return (
        src("part", "p_partkey", "P", "p_name", "part")
        .unionByName(src("nation", "n_nationkey", "N", "n_name", "nation"))
        .unionByName(src("region", "r_regionkey", "R", "r_name", "region"))
        .unionByName(src("supplier", "s_suppkey", "S", "s_name", "supplier"))
        .unionByName(src("customer", "c_custkey", "C", "c_name", "customer"))
    )


def _enriched_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    n = part.count()
    p1 = part.select(
        F.col("p_partkey").alias("k1"), F.col("p_name").alias("pn1")
    )
    p2 = part.select(
        F.col("p_partkey").alias("k2"), F.col("p_name").alias("pn2")
    )
    return (
        docs.join(F.broadcast(p1), (F.col("doc_id") * 7) % n == F.col("k1"))
        .join(F.broadcast(p2), (F.col("doc_id") * 13 + 5) % n == F.col("k2"))
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.col("pn1"),
                F.lit(" "),
                F.col("pn2"),
                F.when(F.col("doc_id") % 3 == 0, F.lit("s")).otherwise(F.lit("")),
            ).alias("text"),
        )
    )


ENRICHED_SQL = """
enriched AS (
    SELECT d.doc_id,
           d.text || ' ' || p1.p_name || ' ' || p2.p_name ||
           (CASE WHEN d.doc_id % 3 = 0 THEN 's' ELSE '' END) AS text
    FROM documents d
    JOIN part p1 ON p1.p_partkey = (d.doc_id * 7) % (SELECT count(*) FROM part)
    JOIN part p2 ON p2.p_partkey = (d.doc_id * 13 + 5) % (SELECT count(*) FROM part)
)
"""

LABELS_SQL = """
labels AS (
    SELECT 'P' || CAST(p_partkey AS VARCHAR) AS key, p_name AS label, 'part' AS label_type FROM part
    UNION ALL SELECT 'N' || CAST(n_nationkey AS VARCHAR), n_name, 'nation' FROM nation
    UNION ALL SELECT 'R' || CAST(r_regionkey AS VARCHAR), r_name, 'region' FROM region
    UNION ALL SELECT 'S' || CAST(s_suppkey AS VARCHAR), s_name, 'supplier' FROM supplier
    UNION ALL SELECT 'C' || CAST(c_custkey AS VARCHAR), c_name, 'customer' FROM customer
)
"""

# SQL fragment for the bigram mention scan over the enriched docs
MENTIONS_SQL = (
    ENRICHED_SQL
    + """,
toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM enriched),
bigrams AS (
    SELECT doc_id, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS bg
    FROM toks
),
matches AS (
    SELECT DISTINCT b.doc_id, p.p_name AS alias
    FROM bigrams b
    JOIN (SELECT DISTINCT p_name FROM part) p
      ON b.bg = p.p_name
      OR (b.bg LIKE '%s' AND substr(b.bg, 1, length(b.bg) - 1) = p.p_name)
    WHERE p.p_name <> 'old rod'
),
mentions AS (
    SELECT m.doc_id, m.alias FROM matches m
    WHERE NOT EXISTS (
        SELECT 1 FROM matches m2
        WHERE m2.doc_id = m.doc_id AND m2.alias <> m.alias
          AND contains(m2.alias, m.alias)
    )
)
"""
)


def _mentions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real engine scan (findEntites semantics) over the enriched docs."""
    from netbase_spark.operators.mentions import detect_mentions_text

    part_names = [
        r[0]
        for r in _t(spark, sf_dir, "part").select("p_name").distinct().collect()
    ]
    m = detect_mentions_text(
        _enriched_docs(spark, sf_dir), part_names, SCAN_BLACKLIST
    )
    return m.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("alias_key").alias("alias"),
    ).dropDuplicates(["doc_id", "alias"])


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_alias_table(spark, sf_dir):
    """Gazetteer build (importWikiLabels analog, SURVEY.md §2.1/§2.2)."""
    from netbase_spark.operators.gazetteer import build_alias_table

    return build_alias_table(_labels_df(spark, sf_dir), with_seo=False)


def q_best_alias(spark, sf_dir):
    """Rank-1 entity per alias — getThe prior selection (SURVEY.md §2.3)."""
    from netbase_spark.operators.gazetteer import (
        best_entity_per_alias,
        build_alias_table,
    )

    return best_entity_per_alias(
        build_alias_table(_labels_df(spark, sf_dir), with_seo=False)
    ).select("name_norm", "key", "prior")


def q_dissect_part_names(spark, sf_dir):
    """dissectWord/dissectParent over part names (SURVEY.md §2.2)."""
    from netbase_spark.operators.extraction import dissect_triples

    labels = (
        _t(spark, sf_dir, "part")
        .select(
            F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("key"),
            F.col("p_name").alias("label"),
            F.lit("label").alias("label_type"),
        )
    )
    return dissect_triples(labels).select("subj", "rel", "obj", "rule")


def q_dissect_paren_names(spark, sf_dir):
    """Paren rule coverage: dissect over 'name (type)' labels."""
    from netbase_spark.operators.extraction import dissect_triples

    labels = _t(spark, sf_dir, "part").select(
        F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("key"),
        F.concat(
            F.col("p_name"), F.lit(" ("), F.lower(F.col("p_type")), F.lit(")")
        ).alias("label"),
        F.lit("label").alias("label_type"),
    )
    return dissect_triples(labels).select("subj", "rel", "obj", "rule")


def q_mention_scan(spark, sf_dir):
    """Gazetteer mention detection (findEntites) over enriched docs."""
    return _mentions_df(spark, sf_dir)


def q_mention_scan_shuffle(spark, sf_dir):
    """Shuffle-join twin of mention_scan (SURVEY.md §2.3): identical
    findEntites semantics, but the gazetteer stays a PARTITIONED
    DataFrame joined against enumerated probe keys — the size-gated
    fallback used when the alias table exceeds the broadcast cap
    (operators/mentions.detect_mentions_shuffle, plans/broadcast_gate).
    Oracled against the same SQL as mention_scan: the driver verifies
    both physical paths produce the same mention set."""
    from netbase_spark.operators.mentions import detect_mentions_shuffle

    aliases = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_name").alias("alias_key"))
        .distinct()
    )
    m = detect_mentions_shuffle(
        _enriched_docs(spark, sf_dir), aliases, SCAN_BLACKLIST
    )
    return m.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("alias_key").alias("alias"),
    ).dropDuplicates(["doc_id", "alias"])


def q_entity_link(spark, sf_dir):
    """Mentions joined to rank-1 candidate entity via the PACKAGE
    operators (operators/linking.py::link_mentions over the gazetteer's
    best_entity_per_alias): prior desc, key asc — part names repeat with
    prior 1, so rank-1 is min key, matching the SQL oracle."""
    from netbase_spark.operators.gazetteer import build_alias_table
    from netbase_spark.operators.linking import link_mentions

    labels = _t(spark, sf_dir, "part").select(
        F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("key"),
        F.col("p_name").alias("label"),
        F.lit("label").alias("label_type"),
        F.lit("en").alias("lang"),
    )
    aliases = build_alias_table(labels, with_seo=False)
    mentions = _mentions_df(spark, sf_dir).select(
        "doc_id", F.col("alias").alias("alias_key")
    )
    linked = link_mentions(mentions, aliases, already_distinct=True)
    return linked.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("subj").alias("entity"),
    )


def q_link_ranked(spark, sf_dir):
    """prior x context-coherence candidate ranking (north-star's batched
    prior*context-similarity linking) via
    operators/ranking.py::rank_link_candidates: part-name aliases all
    carry prior 1, so the winner per mention is decided by how many
    OTHER same-doc rank-1 entities are chain-adjacent (P_k ~ P_k+1) to
    the candidate, ties on min entity key — i.e. getThe plus coherence."""
    from netbase_spark.operators.gazetteer import build_alias_table
    from netbase_spark.operators.ranking import rank_link_candidates

    part = _t(spark, sf_dir, "part")
    labels = part.select(
        F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("key"),
        F.col("p_name").alias("label"),
        F.lit("label").alias("label_type"),
        F.lit("en").alias("lang"),
    )
    aliases = build_alias_table(labels, with_seo=False)
    mentions = _mentions_df(spark, sf_dir).select(
        "doc_id", F.col("alias").alias("alias_key")
    )
    edges = part.where(F.col("p_partkey") % 10 != 9).select(
        F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("src"),
        F.concat(F.lit("P"), (F.col("p_partkey") + 1).cast("string")).alias("dst"),
    )
    r = rank_link_candidates(mentions, aliases, edges)
    return r.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "alias_key",
        "entity",
        "coh",
        "score",
    )


def q_mention_counts(spark, sf_dir):
    """Two-stage salted aggregation of mention counts per entity —
    the hub-skew pattern from north_rule (equivalent to a plain count)."""
    linked = q_entity_link(spark, sf_dir)
    salted = linked.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(16)))
    partial = salted.groupBy("entity", "salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("entity").agg(F.sum("c").alias("n_docs"))


def q_cc_chain(spark, sf_dir):
    """Union-find connected components (mergeNode analog, SURVEY.md §2.4)
    over deterministic chain edges between part keys."""
    from netbase_spark.operators.canonicalize import connected_components

    part = _t(spark, sf_dir, "part").select("p_partkey")
    edges = (
        part.where(F.col("p_partkey") % 10 != 9)
        .select(
            F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("src"),
            F.concat(F.lit("P"), (F.col("p_partkey") + 1).cast("string")).alias(
                "dst"
            ),
        )
    )
    return connected_components(edges)


def q_degree_rank(spark, sf_dir):
    """Degree ranking prior (sortNodes, SURVEY.md §2.5) with salted
    two-stage aggregation; top-20 nodes."""
    from netbase_spark.operators.materialize import node_degrees

    triples = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("subj"),
        F.lit("ordered").alias("rel"),
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("obj"),
    )
    return (
        node_degrees(triples)
        .orderBy(F.col("degree").desc(), F.col("node").asc())
        .limit(20)
    )


def q_facets(spark, sf_dir):
    """Facet counting via the PACKAGE operator
    (operators/query_ops.py::facet_counts): top-3 values per predicate,
    count>1 (findFacet/renderResults, SURVEY.md §2.5)."""
    from netbase_spark.operators.query_ops import facet_counts

    orders = _t(spark, sf_dir, "orders")
    melted = orders.selectExpr(
        "stack(2, 'orderstatus', o_orderstatus, 'orderpriority', o_orderpriority) AS (pred, val)"
    )
    return facet_counts(melted, max_facets=3, min_count=2)


def _supplier_type_triples(spark, sf_dir):
    """(S, Type, N) + (N, Type, R) triples for the subsumption queries."""
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    from netbase_spark.relations import TYPE

    return supplier.select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("subj"),
        F.lit(TYPE).alias("rel"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("obj"),
    ).unionByName(
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("subj"),
            F.lit(TYPE).alias("rel"),
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("obj"),
        )
    )


def q_isa_closure(spark, sf_dir):
    """Transitive subsumption closure via the PACKAGE operator
    (operators/query_ops.py::isa_closure) over supplier->nation->region
    Type triples (isA4 analog, SURVEY.md §2.5)."""
    from netbase_spark.operators.query_ops import isa_closure

    return isa_closure(_supplier_type_triples(spark, sf_dir)).select(
        "node", "anc"
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash (training-data op)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper")
    )


def _shingles(spark, sf_dir):
    """3-token shingles per doc — pure array expressions, NO shuffle
    (the posexplode+Window version sorted every token through one
    exchange before any shingle existed).  Three shifted slices zipped
    pairwise: split() evaluates O(1) times per row.  The previous
    transform+element_at version re-evaluated split() per ELEMENT
    (CollapseProject inlines the alias into the lambda) — measured 4x
    slower than this at sf0.1."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tk = F.split(F.col("text"), " ")
    ln = F.greatest(F.size(tk) - 2, F.lit(0))
    sh = F.zip_with(
        F.zip_with(
            F.slice(tk, 1, ln), F.slice(tk, 2, ln),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        F.slice(tk, 3, ln),
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    return docs.select(
        "doc_id", F.explode(sh).alias("shingle")
    ).distinct()


# contract parameterization for the hot-shingle stopword cap
# (sandbox-sized so the cap is EXERCISED at sf0.01 — max df there is 7;
# the operator default is 2000, dedup.DEDUP_KEY_CAP)
JACCARD_SHINGLE_CAP = 6


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup detection: 3-token-shingle Jaccard >= 0.5 pairs, with
    the hot-shingle stopword cap (dedup.cap_keys — the same
    quadratic-bucket guard the simhash path has; round-2 verdict #3).
    Capped shingles leave BOTH the intersection and the set sizes, so
    the score stays a true Jaccard over the capped shingle space.
    Dropped shingles are reported by the jaccard_hot_shingles query.

    The intersection is dedup.shared_key_pairs, and the per-doc size
    aggregate reads the same cached shingle table inside its ``finish``
    step: one shingle scan feeds both self-join sides and the sizes
    (audited: 4 scans + 4 shingle recomputations without the cache)."""
    from netbase_spark.operators.dedup import cap_keys, shared_key_pairs

    def jaccard(pairs, sh):
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("nb"))
        return (
            pairs.withColumnRenamed("shared", "inter")
            .join(sa, "a")
            .join(sb, "b")
            .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
            .withColumn("jac_e4", F.expr("(10000 * inter) div uni"))
            .where(F.col("jac_e4") >= 2000)
            .select("a", "b", "inter", "uni", "jac_e4")
        )

    sh = cap_keys(_shingles(spark, sf_dir), ["shingle"], JACCARD_SHINGLE_CAP)
    return shared_key_pairs(sh, ["shingle"], finish=jaccard)


def q_jaccard_hot_shingles(spark, sf_dir):
    """No-silent-caps audit for ngram_jaccard: the shingles the
    stopword cap drops, with their document frequency (dedup.over_cap,
    the audit of every capped dedup join)."""
    from netbase_spark.operators.dedup import over_cap

    return over_cap(_shingles(spark, sf_dir), ["shingle"], JACCARD_SHINGLE_CAP)


# contract parameterization for MinHash (sandbox-sized; the operator
# defaults to 128 hashes / 16 bands x 8 rows for real scale)
MINHASH_N, MINHASH_BANDS, MINHASH_ROWS = 16, 4, 4


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates via the parameterized operators
    (netbase_spark.operators.dedup.minhash_signatures/minhash_lsh_pairs):
    each md5 yields four 32-bit hash slices, bands hash to one md5 band
    key, hot bands are bucket-capped."""
    from netbase_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_shingles(spark, sf_dir), n_hashes=MINHASH_N)
    return minhash_lsh_pairs(
        sigs, bands=MINHASH_BANDS, rows_per_band=MINHASH_ROWS
    )


def _minhash_pairs_ctes() -> str:
    """Shared CTE body (no WITH keyword) producing candidate pairs
    `pr(a, b)` — used by the minhash_lsh and neardup_clusters oracles."""
    mins = ",\n                       ".join(
        f"min(('0x' || substr(md5(CAST({k // 4} AS VARCHAR) || ':' || shingle),"
        f" {1 + 8 * (k % 4)}, 8))::BIGINT) AS s{k}"
        for k in range(MINHASH_N)
    )
    band_selects = []
    for b in range(MINHASH_BANDS):
        key = " || ',' || ".join(
            f"CAST(s{b * MINHASH_ROWS + r} AS VARCHAR)"
            for r in range(MINHASH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({key}) AS bv FROM sigs"
        )
    bands = "\n                UNION ALL ".join(band_selects)
    return f"""lists AS (
                SELECT doc_id, string_split(text, ' ') AS l FROM documents
            ), sh0 AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(l) - 1),
                              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
                FROM lists
            ), sh AS (
                SELECT DISTINCT doc_id, shingle FROM sh0
            ), sigs AS (
                SELECT doc_id,
                       {mins}
                FROM sh GROUP BY doc_id
            ), bands AS (
                {bands}
            ), kept AS (
                SELECT doc_id, band, bv FROM bands
                QUALIFY COUNT(*) OVER (PARTITION BY band, bv) <= 2000
            ), pr AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM kept l JOIN kept r
                  ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id
            )"""


def _minhash_oracle_sql() -> str:
    """DuckDB oracle generated from the same (n_hashes, bands, rows)
    parameters as q_minhash_lsh."""
    return f"""
            WITH {_minhash_pairs_ctes()}
            SELECT a, b FROM pr
    """


def q_neardup_clusters(spark, sf_dir):
    """Fuzzy-dedup end-to-end (netbase_spark.operators.dedup.
    near_dup_clusters): MinHash+LSH candidate pairs -> union-find
    connected components -> one survivor per cluster (max n_chars, ties
    to min doc_id; the reference's first-insert-wins duplicate rule,
    src/netbase.cpp:760-767, with quality standing in for insert
    order).  Singleton docs keep themselves."""
    from netbase_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        near_dup_clusters,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sigs = minhash_signatures(_shingles(spark, sf_dir), n_hashes=MINHASH_N)
    pairs = minhash_lsh_pairs(
        sigs, bands=MINHASH_BANDS, rows_per_band=MINHASH_ROWS
    )
    return near_dup_clusters(docs, pairs)


def _neardup_clusters_oracle_sql() -> str:
    """Recursive-CTE connected components over the same MinHash pairs,
    then the same survivor window (DuckDB)."""
    return f"""
            WITH RECURSIVE {_minhash_pairs_ctes()}, sym AS (
                SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr
            ), reach(node, r) AS (
                SELECT a, a FROM sym
                UNION
                SELECT re.node, s.b FROM reach re JOIN sym s ON s.a = re.r
            ), clus AS (
                SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            ), lab AS (
                SELECT d.doc_id,
                       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                       d.n_chars
                FROM documents d LEFT JOIN clus c ON c.node = d.doc_id
            )
            SELECT doc_id, cluster_id,
                   CASE WHEN row_number() OVER (
                            PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) = 1
                        THEN 1 ELSE 0 END AS keep
            FROM lab
    """


def q_ann_cosine(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 query vector
    (similarity-search baseline).  Scores as e4-scaled ints."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    joined = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    scored = joined.select(
        "vec_id",
        F.floor(dot / (norm(F.col("embedding")) * norm(F.col("qv"))) * 10000)
        .cast("long")
        .alias("sim_e4"),
    )
    return scored.orderBy(F.col("sim_e4").desc(), F.col("vec_id").asc()).limit(10)


def q_lang_id(spark, sf_dir):
    """Heuristic language ID by stopword hits
    (netbase_spark.operators.textstats.lang_id)."""
    from netbase_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_text_quality(spark, sf_dir):
    """Quality scoring: token counts, stopword ratio, mean token length
    (netbase_spark.operators.textstats.text_quality)."""
    from netbase_spark.operators.textstats import text_quality

    return text_quality(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_token_fingerprint(spark, sf_dir):
    """Token counting + document fingerprint
    (netbase_spark.operators.textstats.token_fingerprint)."""
    from netbase_spark.operators.textstats import token_fingerprint

    return token_fingerprint(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def q_corpus_filter(spark, sf_dir):
    """Composed training-data corpus filter
    (netbase_spark.operators.textstats.clean_corpus): exact-dup rank +
    language + length + mean-token-length rules, first failing rule as
    drop_reason, one fingerprint-window shuffle total."""
    from netbase_spark.operators.textstats import clean_corpus

    return clean_corpus(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_spans_flat(spark, sf_dir):
    """input_hint-shaped interleaved span derivation from documents,
    flattened: (doc_id, span_idx, kind, text, media_ref, offset)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    text_span = docs.select(
        "doc_id",
        F.lit(0).alias("span_idx"),
        F.lit("text").alias("kind"),
        F.col("text").alias("span_text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.lit(1).alias("span_idx"),
        F.lit("image").alias("kind"),
        F.lit("").alias("span_text"),
        F.concat(
            F.lit("commons/"), F.md5(F.col("doc_id").cast("string")), F.lit(".jpg")
        ).alias("media_ref"),
        (F.length("text") + 1).cast("int").alias("offset"),
    )
    return text_span.unionByName(media_span)


def q_kg_pipeline_synth(spark, sf_dir):
    """Full KG construction on the synthetic interleaved corpus
    (north_rule pipeline; no SQL oracle — graded rows-only)."""
    from netbase_spark.plans.synth_pipeline import construct

    return construct(spark, 150, seed=42, partitions=8).select(
        "subj", "rel", "obj", "rule"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: gazetteer mention detection + batched prior x
    context-coherence entity linking over the sf0.001 corpus, returning
    the winning entity per mention with its coherence and score."""
    return q_link_ranked(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from contract_ext import EXT_QUERIES
    from contract_ext2 import EXT2_QUERIES
    from contract_ext3 import EXT3_QUERIES
    from contract_ext4 import EXT4_QUERIES
    from contract_ext5 import EXT5_QUERIES
    from contract_ext6 import EXT6_QUERIES
    from contract_ext7 import EXT7_QUERIES

    return EXT_QUERIES | EXT2_QUERIES | EXT3_QUERIES | EXT4_QUERIES | EXT5_QUERIES | EXT6_QUERIES | EXT7_QUERIES | {
        "alias_table": q_alias_table,
        "best_alias": q_best_alias,
        "dissect_part_names": q_dissect_part_names,
        "dissect_paren_names": q_dissect_paren_names,
        "mention_scan": q_mention_scan,
        "mention_scan_shuffle": q_mention_scan_shuffle,
        "entity_link": q_entity_link,
        "link_ranked": q_link_ranked,
        "mention_counts": q_mention_counts,
        "cc_chain": q_cc_chain,
        "degree_rank": q_degree_rank,
        "facets": q_facets,
        "isa_closure": q_isa_closure,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "jaccard_hot_shingles": q_jaccard_hot_shingles,
        "minhash_lsh": q_minhash_lsh,
        "neardup_clusters": q_neardup_clusters,
        "ann_cosine": q_ann_cosine,
        "lang_id": q_lang_id,
        "text_quality": q_text_quality,
        "token_fingerprint": q_token_fingerprint,
        "corpus_filter": q_corpus_filter,
        "spans_flat": q_spans_flat,
        "kg_pipeline_synth": q_kg_pipeline_synth,
    }


def oracle_sql() -> dict[str, str]:
    from contract_ext import EXT_ORACLES
    from contract_ext2 import EXT2_ORACLES
    from contract_ext3 import EXT3_ORACLES
    from contract_ext4 import EXT4_ORACLES
    from contract_ext5 import EXT5_ORACLES
    from contract_ext6 import EXT6_ORACLES
    from contract_ext7 import EXT7_ORACLES

    norm_label = NORM_SQL.format(c="label")
    return EXT_ORACLES | EXT2_ORACLES | EXT3_ORACLES | EXT4_ORACLES | EXT5_ORACLES | EXT6_ORACLES | EXT7_ORACLES | {
        "alias_table": f"""
            WITH {LABELS_SQL.strip()}
            SELECT {norm_label} AS name_norm, key, label_type AS source,
                   CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS prior
            FROM labels
            WHERE length({norm_label}) > 0
        """,
        "best_alias": f"""
            WITH {LABELS_SQL.strip()},
            aliases AS (
                SELECT {norm_label} AS name_norm, key,
                       CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS prior
                FROM labels WHERE length({norm_label}) > 0
            )
            SELECT name_norm, key, prior FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY name_norm ORDER BY prior DESC, key ASC) AS rn
                FROM aliases
            ) WHERE rn = 1
        """,
        "dissect_part_names": """
            SELECT DISTINCT split_part(p_name, ' ', 2) AS subj,
                   CAST(-4 AS INT) AS rel,
                   'P' || CAST(p_partkey AS VARCHAR) AS obj,
                   'head' AS rule
            FROM part
            WHERE length(p_name) - strpos(p_name, ' ') >= 2
              AND strpos(p_name, ' ') > 0
        """,
        "dissect_paren_names": """
            WITH t AS (
                SELECT p_name AS pname, lower(p_type) AS ptype,
                       'P' || CAST(p_partkey AS VARCHAR) AS key
                FROM part
            ), e AS (
                SELECT pname AS subj, -4 AS rel, key AS obj, 'paren' AS rule FROM t
                UNION ALL SELECT ptype, -4, pname, 'paren' FROM t
                UNION ALL SELECT key, -4, ptype, 'paren' FROM t
                UNION ALL SELECT split_part(pname, ' ', 2), -4, key, 'head' FROM t
            )
            SELECT subj, CAST(rel AS INT) AS rel, obj, min(rule) AS rule
            FROM e GROUP BY subj, rel, obj
        """,
        "mention_scan": f"""
            WITH {MENTIONS_SQL.strip()}
            SELECT doc_id, alias FROM mentions
        """,
        "mention_scan_shuffle": f"""
            WITH {MENTIONS_SQL.strip()}
            SELECT doc_id, alias FROM mentions
        """,
        "entity_link": f"""
            WITH {MENTIONS_SQL.strip()},
            best AS (
                SELECT p_name AS alias,
                       min('P' || CAST(p_partkey AS VARCHAR)) AS entity
                FROM part GROUP BY p_name
            )
            SELECT m.doc_id, b.entity FROM mentions m JOIN best b USING (alias)
        """,
        "link_ranked": f"""
            WITH {MENTIONS_SQL.strip()},
            cands AS (
                SELECT m.doc_id, m.alias AS alias_key,
                       'P' || CAST(p.p_partkey AS VARCHAR) AS entity
                FROM mentions m JOIN part p ON m.alias = p.p_name
            ),
            best AS (
                SELECT p_name AS alias,
                       min('P' || CAST(p_partkey AS VARCHAR)) AS entity
                FROM part GROUP BY p_name
            ),
            ctx AS (
                SELECT m.doc_id, m.alias, b.entity
                FROM mentions m JOIN best b USING (alias)
            ),
            chain AS (
                SELECT 'P' || CAST(p_partkey AS VARCHAR) AS src,
                       'P' || CAST(p_partkey + 1 AS VARCHAR) AS dst
                FROM part WHERE p_partkey % 10 <> 9
            ),
            nbrs AS (
                SELECT src AS entity, dst AS nbr FROM chain
                UNION SELECT dst, src FROM chain
            ),
            coh AS (
                SELECT c.doc_id, c.alias_key, c.entity,
                       count(DISTINCT x.entity) AS coh
                FROM cands c
                LEFT JOIN nbrs n ON n.entity = c.entity
                LEFT JOIN ctx x ON x.doc_id = c.doc_id
                     AND x.entity = n.nbr AND x.alias <> c.alias_key
                GROUP BY c.doc_id, c.alias_key, c.entity
            )
            SELECT doc_id, alias_key, entity,
                   CAST(coh AS BIGINT) AS coh,
                   CAST(1 + coh AS BIGINT) AS score
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id, alias_key
                    ORDER BY (1 + coh) DESC, entity ASC) AS rn
                FROM coh
            ) WHERE rn = 1
        """,
        "mention_counts": f"""
            WITH {MENTIONS_SQL.strip()},
            best AS (
                SELECT p_name AS alias,
                       min('P' || CAST(p_partkey AS VARCHAR)) AS entity
                FROM part GROUP BY p_name
            )
            SELECT b.entity, CAST(count(*) AS BIGINT) AS n_docs
            FROM mentions m JOIN best b USING (alias)
            GROUP BY b.entity
        """,
        "cc_chain": """
            SELECT 'P' || CAST(p_partkey AS VARCHAR) AS node,
                   'P' || CAST(p_partkey - (p_partkey % 10) AS VARCHAR) AS rep
            FROM part
            WHERE p_partkey % 10 <> 0
        """,
        "degree_rank": """
            WITH triples AS (
                SELECT 'C' || CAST(o_custkey AS VARCHAR) AS subj,
                       'O' || CAST(o_orderkey AS VARCHAR) AS obj
                FROM orders
            ), nodes AS (
                SELECT subj AS node FROM triples
                UNION ALL SELECT obj FROM triples
            )
            SELECT node, CAST(count(*) AS BIGINT) AS degree
            FROM nodes GROUP BY node
            ORDER BY degree DESC, node ASC LIMIT 20
        """,
        "facets": """
            WITH melted AS (
                SELECT 'orderstatus' AS pred, o_orderstatus AS val FROM orders
                UNION ALL SELECT 'orderpriority', o_orderpriority FROM orders
            ), counts AS (
                SELECT pred, val, CAST(count(*) AS BIGINT) AS n
                FROM melted GROUP BY pred, val
            )
            SELECT pred, val, n, CAST(rank AS INT) AS rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY pred ORDER BY n DESC, val ASC) AS rank
                FROM counts WHERE n > 1
            ) WHERE rank <= 3
        """,
        "isa_closure": """
            WITH RECURSIVE edges AS (
                SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS node,
                       'N' || CAST(s_nationkey AS VARCHAR) AS anc
                FROM supplier
                UNION ALL
                SELECT 'N' || CAST(n_nationkey AS VARCHAR),
                       'R' || CAST(n_regionkey AS VARCHAR)
                FROM nation
            ), closure AS (
                SELECT node, anc FROM edges
                UNION
                SELECT c.node, e.anc FROM closure c JOIN edges e ON c.anc = e.node
            )
            SELECT DISTINCT node, anc FROM closure
        """,
        "dedup_exact": """
            SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS keeper
            FROM documents GROUP BY md5(text)
        """,
        "ngram_jaccard": f"""
            WITH lists AS (
                SELECT doc_id, string_split(text, ' ') AS l FROM documents
            ), sh0 AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(l) - 1),
                              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
                FROM lists
            ), sh_all AS (
                SELECT DISTINCT doc_id, shingle FROM sh0
            ), sh AS (
                -- hot-shingle stopword cap (dedup.cap_keys mirror)
                SELECT doc_id, shingle FROM (
                    SELECT doc_id, shingle,
                           count(*) OVER (PARTITION BY shingle) AS df
                    FROM sh_all
                ) WHERE df <= {JACCARD_SHINGLE_CAP}
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id
            )
            SELECT a, b, inter,
                   CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni,
                   CAST((10000 * inter) // (sa.sz + sb.sz - inter) AS BIGINT) AS jac_e4
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE (10000 * inter) // (sa.sz + sb.sz - inter) >= 2000
        """,
        "jaccard_hot_shingles": f"""
            WITH lists AS (
                SELECT doc_id, string_split(text, ' ') AS l FROM documents
            ), sh0 AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(l) - 1),
                              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
                FROM lists
            ), sh AS (
                SELECT DISTINCT doc_id, shingle FROM sh0
            )
            SELECT shingle, CAST(count(*) AS BIGINT) AS n
            FROM sh GROUP BY shingle
            HAVING count(*) > {JACCARD_SHINGLE_CAP}
        """,
        "minhash_lsh": _minhash_oracle_sql(),
        "neardup_clusters": _neardup_clusters_oracle_sql(),
        "ann_cosine": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   CAST(floor(list_cosine_similarity(embedding, qv) * 10000) AS BIGINT) AS sim_e4
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY sim_e4 DESC, vec_id ASC
            LIMIT 10
        """,
        "lang_id": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text,' '),
                        t -> t IN ('the','a','and','is','of'))) AS INT) AS en_hits,
                   CAST(len(list_filter(string_split(text,' '),
                        t -> t IN ('der','die','das','und','ist'))) AS INT) AS de_hits,
                   CASE WHEN len(list_filter(string_split(text,' '),
                             t -> t IN ('the','a','and','is','of'))) >
                             len(list_filter(string_split(text,' '),
                             t -> t IN ('der','die','das','und','ist'))) THEN 'en'
                        WHEN len(list_filter(string_split(text,' '),
                             t -> t IN ('der','die','das','und','ist'))) >
                             len(list_filter(string_split(text,' '),
                             t -> t IN ('the','a','and','is','of'))) THEN 'de'
                        ELSE 'unk' END AS lang_guess
            FROM documents
        """,
        "text_quality": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   CAST(len(list_filter(string_split(text,' '),
                        t -> t IN ('the','a','and','of','value'))) AS INT) AS n_stop,
                   CAST(length(replace(text, ' ', '')) AS INT) AS n_chars,
                   CAST((100 * length(replace(text, ' ', ''))) // len(string_split(text, ' ')) AS BIGINT) AS mean_len_e2
            FROM documents
        """,
        "token_fingerprint": f"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_word_tokens,
                   md5({NORM_SQL.format(c="text")}) AS fp
            FROM documents
        """,
        "corpus_filter": f"""
            WITH s AS (
                SELECT doc_id,
                       CASE WHEN len(list_filter(string_split(text,' '),
                                 t -> t IN ('the','a','and','is','of'))) >
                                 len(list_filter(string_split(text,' '),
                                 t -> t IN ('der','die','das','und','ist'))) THEN 'en'
                            WHEN len(list_filter(string_split(text,' '),
                                 t -> t IN ('der','die','das','und','ist'))) >
                                 len(list_filter(string_split(text,' '),
                                 t -> t IN ('the','a','and','is','of'))) THEN 'de'
                            ELSE 'unk' END AS lang_guess,
                       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                       CAST((100 * length(replace(text, ' ', ''))) //
                            len(string_split(text, ' ')) AS BIGINT) AS mean_len_e2,
                       md5({NORM_SQL.format(c="text")}) AS fp
                FROM documents
            ), ranked AS (
                SELECT *, CAST(row_number() OVER (
                              PARTITION BY fp ORDER BY doc_id) AS INT) AS dup_rank
                FROM s
            )
            SELECT doc_id, lang_guess, n_tokens, mean_len_e2, dup_rank,
                   CASE WHEN dup_rank > 1 THEN 'exact_dup'
                        WHEN lang_guess = 'unk' THEN 'lang'
                        WHEN n_tokens < 20 THEN 'too_short'
                        WHEN mean_len_e2 < 300 OR mean_len_e2 > 520 THEN 'mean_len'
                        END AS drop_reason,
                   CASE WHEN dup_rank > 1 OR lang_guess = 'unk'
                             OR n_tokens < 20
                             OR mean_len_e2 < 300 OR mean_len_e2 > 520
                        THEN 0 ELSE 1 END AS keep
            FROM ranked
        """,
        "spans_flat": """
            SELECT doc_id, 0 AS span_idx, 'text' AS kind, text AS span_text,
                   CAST(NULL AS VARCHAR) AS media_ref, 0 AS offset
            FROM documents
            UNION ALL
            SELECT doc_id, 1, 'image', '',
                   'commons/' || md5(CAST(doc_id AS VARCHAR)) || '.jpg',
                   CAST(length(text) + 1 AS INT)
            FROM documents WHERE doc_id % 2 = 0
        """,
    }
