"""The construction core: the one place that composes KG construction.

Both drivers of the construction use these functions and nothing else:

- the staged ``plans/pipeline.Pipeline`` snapshots each step as a stage
  (resume, metrics, rel-partitioned write layout);
- the in-memory batch loop — :func:`build_artifacts` once, then
  :func:`construct_from` per document batch (the entry contract, the
  P/R tests, the bench) — and the stream's ``process_batch``
  (streaming/construct.py) reuse the same artifacts.

The steps:

- :func:`label_side` — dissect ∪ alias-instance edges ∪ raw triples;
- :func:`scan_artifacts` — the scan preparation: the SEO rule and the
  alias -> rank-1 entity -> canonical rep composition, prepared as one
  ``mentions.Gazetteer`` (which owns the broadcast-vs-shuffle choice);
- :func:`scan_batch` — the doc side: one gazetteer scan per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def materialize_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42,
    partitions: int | None = None, path: str | None = None,
    skew: bool = False,
) -> str:
    """Write the synthetic corpus to parquet once (idempotent per
    (n_docs, seed)) and return the path.  The input contract is an
    Iceberg-style TABLE of documents — corpus synthesis is test
    scaffolding, not a construction stage, so benchmarks read from here
    instead of regenerating docs through Arrow on every run."""
    import os

    from netbase_spark.data.synth import docs_df

    # file count is part of the cache key: the fixed layout must not
    # silently come from whichever partitioning wrote the table first
    suffix = "_skew" if skew else ""
    path = path or (
        f"/tmp/netbase_corpus/docs_{n_docs}_{seed}_{partitions or 'auto'}{suffix}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs_df(
            spark, n_docs, seed=seed, partitions=partitions, skew=skew
        ).write.mode("overwrite").parquet(path)
    return path


def construct(spark: SparkSession, n_docs: int, seed: int = 42,
              partitions: int | None = None) -> DataFrame:
    """Synthesize docs in-flight and run the full construction (tests);
    benchmarks use materialize_corpus + construct_from instead."""
    from netbase_spark.data.synth import docs_df

    return construct_from(
        spark, docs_df(spark, n_docs, seed=seed, partitions=partitions)
    )


class ConstructionArtifacts:
    """Dimension-side state of the construction, built ONCE per
    gazetteer and reused across any number of document batches.

    Everything here is label-side-only (gazetteer-bounded, never
    corpus-bounded): the canonicalized label triples, the union-find
    mapping, and the prepared ``mentions.Gazetteer`` (which owns the
    broadcast-vs-shuffle scan choice).  The reference's analog is its
    shared-memory DB loaded once at startup (src/init.cpp:362); a Spark
    deployment constructing a 10^12-doc corpus in batches (or a
    Structured Streaming micro-batch loop) must not rebuild +
    re-broadcast a multi-GB automaton per batch — at 10^7-10^8 aliases
    the rebuild would dominate batch latency.  ``label_triples`` is
    None when the staged Pipeline builds them in its own stage."""

    __slots__ = ("label_triples", "mapping", "gazetteer")

    def __init__(self, label_triples, mapping, gazetteer):
        self.label_triples = label_triples
        self.mapping = mapping
        self.gazetteer = gazetteer

    @property
    def scan_bc(self):
        """The broadcast arm's handle, or None on the shuffle arm
        (perfbench reads it for the payload size)."""
        return self.gazetteer.bc


def label_side(
    labels: DataFrame, raw_triples: DataFrame | None = None,
    german: bool = False,
) -> DataFrame:
    """Every label-side triple before canonicalization: dissect rules ∪
    alias-instance edges ∪ the raw (e.g. synonym) triples.  sameAs-class
    merge edges come only from here — the doc scan emits MENTIONED_IN
    exclusively — so the canonical map resolves before any document is
    read."""
    from netbase_spark.operators.extraction import (
        alias_instance_edges,
        dissect_triples,
    )

    side = dissect_triples(labels, german).unionByName(
        alias_instance_edges(labels)
    )
    return side if raw_triples is None else side.unionByName(raw_triples)


def scan_artifacts(
    aliases: DataFrame,
    mapping: DataFrame,
    blacklist: set[str],
    german: bool = False,
    cap_bytes: int | None = None,
    label_triples: DataFrame | None = None,
) -> ConstructionArtifacts:
    """Prepare the mention scan from the alias table
    (``gazetteer.build_alias_table``) and the canonical map.

    The scan matches label/altLabel surface forms only: SEO slugs are
    lookup aliases, not scan surface forms.  Each surviving alias
    resolves to its rank-1 entity, then to that entity's canonical rep
    (``linking.alias_entity_table``); ``mentions.Gazetteer.prepare``
    then picks the broadcast or the shuffle arm from the table's size."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.linking import alias_entity_table
    from netbase_spark.operators.mentions import Gazetteer

    label_forms = aliases.where(~F.col("source").eqNullSafe("seo"))
    gazetteer = Gazetteer.prepare(
        alias_entity_table(label_forms, mapping), blacklist, german, cap_bytes
    )
    return ConstructionArtifacts(label_triples, mapping, gazetteer)


def scan_batch(docs: DataFrame, artifacts: ConstructionArtifacts) -> DataFrame:
    """Canonical, per-doc-distinct mention triples of one document
    batch, on whichever arm the artifacts' gazetteer holds."""
    from netbase_spark.operators.mentions import doc_text

    return artifacts.gazetteer.scan(doc_text(docs), triples=True)


def build_artifacts(
    spark: SparkSession,
    labels_df: DataFrame | None = None,
    cap_bytes: int | None = None,
    raw_triples: DataFrame | None = None,
    blacklist: set[str] | None = None,
    german: bool = False,
) -> ConstructionArtifacts:
    """Build the docs-independent half of the construction from the
    inputs ``Pipeline.run`` takes; labels, raw triples and blacklist
    default to the fixtures (``data/fixtures``).

    localCheckpoint, not persist: label-side tables are dimension-sized
    and read by multiple consumers; checkpoint blocks are freed by the
    context cleaner when the artifacts object is dropped, while a bare
    persist() stays registered in the SQL cache manager for the session
    lifetime (repeated builds would stack orphaned caches)."""
    from netbase_spark.data.fixtures import (
        blacklist_fixture,
        labels_spark_df,
        synonym_spark_df,
    )
    from netbase_spark.operators.canonicalize import (
        connected_components,
        rewrite_triples,
        sameas_edges,
    )
    from netbase_spark.operators.gazetteer import build_alias_table

    if labels_df is None:
        labels_df = labels_spark_df(spark)
    if raw_triples is None:
        raw_triples = synonym_spark_df(spark)
    if blacklist is None:
        blacklist = blacklist_fixture()
    side = label_side(labels_df, raw_triples, german).localCheckpoint()
    mapping = connected_components(sameas_edges(side))
    label_triples = rewrite_triples(side, mapping).localCheckpoint()
    # no SEO slugs: scan_artifacts would drop them (a label that
    # collides with its own slug keeps its label source either way)
    aliases = build_alias_table(labels_df, with_seo=False)
    return scan_artifacts(
        aliases, mapping, blacklist, german, cap_bytes, label_triples
    )


def construct_from(
    spark: SparkSession,
    docs: DataFrame,
    artifacts: ConstructionArtifacts | None = None,
) -> DataFrame:
    """Run the full construction over a docs DataFrame (the input_hint
    table shape); returns the canonical triple DataFrame (no writes —
    callers persist/count).  Pass prebuilt ``artifacts`` to amortize
    the dimension side across batches (micro-batch / incremental
    loops); without it the dimension side is built in-line."""
    if artifacts is None:
        artifacts = build_artifacts(spark)
    return scan_batch(docs, artifacts).unionByName(artifacts.label_triples)
