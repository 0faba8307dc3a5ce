"""Gazetteer (alias table) construction — the Ahash / label-index analog.

Reference: ``importWikiLabels`` builds a name->node hash index from label
dumps (src/import.cpp:1313-1435); ``buildSeoIndex`` adds slug aliases
(src/netbase.cpp:2555-2593); ``getThe``'s candidate prior is degree rank
(src/util.cpp:918-929 sortNodes).

Spark-first design: the alias table is a plain DataFrame
``(name_norm, key, source, prior)``.  It is small relative to the doc
corpus (labels of a KG, ~10^7-10^8 rows at full WikiData scale) and is
broadcast to executors for mention scanning; at 100 TB doc scale the
broadcast is the right trade because the doc side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from netbase_spark.normalize import clamp_label_col, norm_name_col, seo_slug_col


def build_alias_table(labels: DataFrame, with_seo: bool = True) -> DataFrame:
    """labels(key, label, label_type, lang) -> aliases(name_norm, key, source, prior).

    prior = number of label rows per key (the oracle's degree prior).
    Label clamping at ~50 chars mirrors importLabels (src/import.cpp:1516-1528).
    """
    prior = labels.groupBy("key").agg(F.count(F.lit(1)).alias("prior"))

    labels = labels.withColumn("label", clamp_label_col(F.col("label")))
    base = labels.select(
        norm_name_col(F.col("label")).alias("name_norm"),
        "key",
        F.col("label_type").alias("source"),
    ).where(F.length("name_norm") > 0)

    rows = base.withColumn("_seo", F.lit(False))
    if with_seo:
        seo = labels.select(
            seo_slug_col(F.col("label")).alias("name_norm"),
            "key",
            F.lit("seo").alias("source"),
            F.lit(True).alias("_seo"),
        ).where(F.length("name_norm") > 0)
        rows = rows.unionByName(seo)

    # a label that collides with its own SEO slug keeps its label
    # source (the min over its label rows), so the rows with
    # source != "seo" are exactly the with_seo=False table
    only_seo = F.min("_seo")
    return (
        rows.groupBy("name_norm", "key")
        .agg(
            F.when(only_seo, F.lit("seo"))
            .otherwise(F.min(F.when(~F.col("_seo"), F.col("source"))))
            .alias("source")
        )
        .join(prior, "key", "left")
        .select("name_norm", "key", "source", "prior")
    )


def prefix_alias_rows(labels: DataFrame, k: int = 2) -> DataFrame:
    """``addSubword`` analog (src/import.cpp:740-802): the first ``k``
    words of multi-word labels become extra alias rows (product-title
    prefix gazetteer entries).  Pure JVM split/slice — no UDF."""
    toks = F.split(norm_name_col(F.col("label")), " ")
    prefix = F.array_join(F.slice(toks, 1, k), " ")
    return (
        labels.where(F.size(toks) > k)
        .select(
            prefix.alias("name_norm"),
            "key",
            F.lit("prefix").alias("source"),
        )
        .where(F.length("name_norm") > 0)
        .dropDuplicates(["name_norm", "key"])
    )


def category_alias_rows(labels: DataFrame, col: str = "label") -> DataFrame:
    """``addSubCategories`` analog: split category paths on '/' into one
    alias row per segment."""
    return (
        labels.select(
            F.explode(F.split(F.col(col), "/")).alias("seg"), "key"
        )
        .select(
            norm_name_col(F.col("seg")).alias("name_norm"),
            "key",
            F.lit("category").alias("source"),
        )
        .where(F.length("name_norm") > 0)
        .dropDuplicates(["name_norm", "key"])
    )


def best_entity_per_alias(
    aliases: DataFrame, exclude_keys: DataFrame | None = None
) -> DataFrame:
    """Rank-1 candidate per alias: (prior desc, key asc) — getThe's
    THE-instance selection (src/netbase.cpp:2276-2341) with the degree
    prior standing in for first-Instance order.

    ``exclude_keys`` (one ``key`` column) removes candidates BEFORE the
    rank-1 window — the ``getThe`` abstract skip: nodes demoted to the
    _abstract kind (e.g. by a Wikimedia description,
    src/import.cpp:1365-1376; ``wikidata.wikimedia_abstract_keys``) are
    words, never THE entity, so the runner-up wins their aliases.
    Broadcast anti-join (the demote set is dimension-bounded).

    Returns (name_norm, key, prior). Window, no shuffle beyond the
    groupBy key; at scale this is a tiny dimension output.
    """
    if exclude_keys is not None:
        aliases = aliases.join(
            F.broadcast(
                exclude_keys.select(F.col(exclude_keys.columns[0]).alias("key"))
            ),
            "key",
            "left_anti",
        )
    w = Window.partitionBy("name_norm").orderBy(F.col("prior").desc(), F.col("key").asc())
    return (
        aliases.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def seo_index(labels: DataFrame, degrees: DataFrame) -> DataFrame:
    """``buildSeoIndex`` with conflict resolution by degree
    (src/netbase.cpp:2555-2593, conflict keeps the higher-degree node
    2564-2569): one alias row per slug — the key with the highest
    degree wins, ties break on min key.  degrees(node, degree) comes
    from :func:`netbase_spark.operators.materialize.node_degrees`."""
    slugs = labels.select(
        seo_slug_col(F.col("label")).alias("slug"), "key"
    ).where(F.length("slug") > 0).dropDuplicates(["slug", "key"])
    d = degrees.select(F.col("node").alias("key"), "degree")
    w = Window.partitionBy("slug").orderBy(
        F.col("degree").desc_nulls_last(), F.col("key").asc()
    )
    return (
        slugs.join(F.broadcast(d), "key", "left")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("slug", "key", F.coalesce("degree", F.lit(0)).alias("degree"))
    )


def rename_nodes(entities: DataFrame, renames: DataFrame) -> DataFrame:
    """``setLabel``/``setName`` rename cascade (src/netbase.cpp:
    2385-2427): entities(key, name) with renames(key, new_name) applied.
    The abstract-rename cascade to instances is structural in our model:
    alias rows derive from entity names, so rebuilding the alias table
    from the renamed entities IS the cascade (collectAbstracts,
    src/init.cpp:481-525)."""
    r = F.broadcast(
        renames.select("key", F.col("new_name").alias("_new_name"))
    )
    return (
        entities.join(r, "key", "left")
        .withColumn("name", F.coalesce("_new_name", F.col("name")))
        .drop("_new_name")
    )


def alias_keys_local(aliases: DataFrame) -> list[str]:
    """Collect the distinct normalized alias names for broadcast into the
    mention-scan UDF.  At full scale, replace with a serialized
    Aho-Corasick automaton / bloom-filter pre-pass; the collect here is
    bounded by gazetteer size, never by corpus size."""
    return [r[0] for r in aliases.select("name_norm").distinct().collect()]


def duplicate_label_edges(labels: DataFrame) -> DataFrame:
    """``importLabels`` duplicate-label conflict (src/import.cpp:
    1549-1560): a key that already has a primary label does NOT get
    overwritten by a later different spelling — instead a
    (primary, Label, alt) statement links the two forms.  Label is a
    sameAs-class relation, so conflicting spellings merge in the CC
    pass downstream.

    Primary choice replaces the reference's file order with a
    deterministic one: 'label'-typed rows first, then (lang, name)
    order.  One groupBy + one window over the label table — dimension
    scale."""
    from netbase_spark.relations import LABEL

    n = (
        labels.select(
            "key",
            norm_name_col(clamp_label_col(F.col("label"))).alias("nn"),
            F.when(F.col("label_type") == "label", F.lit(0))
            .otherwise(F.lit(1))
            .alias("pri"),
            "lang",
        )
        .where(F.length("nn") > 0)
        .groupBy("key", "nn")
        .agg(F.min("pri").alias("pri"), F.min("lang").alias("lang"))
    )
    w = Window.partitionBy("key").orderBy("pri", "lang", "nn")
    ranked = n.withColumn("_rk", F.row_number().over(w))
    prim = ranked.where(F.col("_rk") == 1).select(
        "key", F.col("nn").alias("_primary")
    )
    return (
        ranked.where(F.col("_rk") > 1)
        .join(prim, "key")
        .where(F.col("nn") != F.col("_primary"))
        .select(
            F.col("_primary").alias("subj"),
            F.lit(LABEL).alias("rel"),
            F.col("nn").alias("obj"),
            F.lit("dup_label").alias("rule"),
            F.lit(None).cast("string").alias("doc_id"),
        )
    )
