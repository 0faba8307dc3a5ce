"""Benchmark self-test: every correctness check passes on a real output
of the program and fails on a corrupted copy of it (one row dropped,
one row duplicated, one value changed, one path hop removed), and the
event-log digest matches a small recorded log.

    python3 perfbench/run.py --selftest

Runs on tiny inputs in about a minute; exits non-zero if any case fails.
"""

from __future__ import annotations

import os
import shutil

import harness
import inputs
import workloads
from workloads import KEY_COLS, fp_equal

CASES: list[tuple[str, bool]] = []


def case(name: str, passed: bool) -> None:
    CASES.append((name, bool(passed)))
    print(f"{'PASS' if passed else 'FAIL'} {name}", flush=True)


def corruptions(df):
    """(label, corrupted copy) pairs of a checkpointed DataFrame."""
    from pyspark.sql import functions as F

    from pyspark.sql.types import StringType

    first = df.limit(1).localCheckpoint()
    col = df.columns[-1]
    bumped = (F.concat(F.col(col), F.lit("x"))
              if isinstance(df.schema[col].dataType, StringType) else F.col(col) + 1)
    changed = df.exceptAll(first).unionByName(first.withColumn(col, bumped))
    return [
        ("one row dropped", df.exceptAll(first)),
        ("one row duplicated", df.unionByName(first)),
        ("one value changed", changed),
    ]


def construct_cases(spark, work: str) -> None:
    from netbase_spark.data.fixtures import (
        blacklist_fixture,
        labels_fixture,
        labels_spark_df,
        mentionable_labels,
        synonym_pairs,
        synonym_spark_df,
    )
    from netbase_spark.data.synth import gen_doc
    from netbase_spark.oracle.rules import oracle_triples
    from netbase_spark.plans.pipeline import Pipeline

    labels = mentionable_labels()
    docs = [gen_doc(i, 5, labels) for i in range(60)]
    os.makedirs(os.path.join(work, "docs"))
    inputs._write_docs(docs, os.path.join(work, "docs", "part-0.parquet"))
    want = inputs.fingerprint(sorted(oracle_triples(
        labels_fixture(), docs, blacklist_fixture(), synonym_pairs())))
    out = os.path.join(work, "construct")
    Pipeline(spark, out, resume=False).run(
        spark.read.parquet(os.path.join(work, "docs")), labels_spark_df(spark),
        blacklist_fixture(), raw_triples=synonym_spark_df(spark),
    )
    got = spark.read.parquet(os.path.join(out, "triples")).select(*KEY_COLS)
    got = got.localCheckpoint()
    fp = lambda df: harness.spark_fingerprint(df, KEY_COLS)  # noqa: E731
    case("construct: Pipeline.run output equals the oracle", fp_equal(fp(got), want))
    for label, bad in corruptions(got):
        case(f"construct: {label} is caught", not fp_equal(fp(bad), want))


def stream_cases(spark, work: str) -> None:
    from pyspark.sql import functions as F

    from netbase_spark.data.fixtures import mentionable_labels
    from netbase_spark.data.synth import gen_doc
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import build_artifacts
    from netbase_spark.relations import MENTIONED_IN
    from netbase_spark.streaming.construct import (
        apply_merges,
        start_incremental_construct,
    )

    labels = mentionable_labels()
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    for f in range(2):
        docs = [gen_doc(i, 9, labels) for i in range(f * 30, f * 30 + 30)]
        inputs._write_docs(docs, os.path.join(landing, f"part-{f}.parquet"))
    table, ckpt = os.path.join(work, "table"), os.path.join(work, "ckpt")
    ref, arts = build_artifacts(spark), build_artifacts(spark)
    start_incremental_construct(
        spark, landing, table, ckpt, arts, available_now=True,
        max_files_per_trigger=1, versioned=True, compact_every=1,
    ).awaitTermination()
    subs = sorted(
        r[0] for r in V.read(spark, table).where(F.col("rel") == MENTIONED_IN)
        .select("subj").distinct().limit(3).collect()
    )
    edges = [(subs[1], subs[0]), (subs[2], subs[1])]
    apply_merges(spark, table,
                 spark.createDataFrame(edges, "src string, dst string"), arts,
                 versioned=True, batch_id="merge-0")
    want = workloads.stream_expected(spark, spark.read.parquet(landing), ref, edges)
    got = V.read(spark, table).localCheckpoint()
    case("stream: streamed table equals the rebuild",
         workloads.stream_check(got, want)[0])
    for label, bad in corruptions(got.select(*KEY_COLS)):
        case(f"stream: {label} is caught",
             not workloads.stream_check(bad, want)[0])


def query_cases(spark, work: str) -> None:
    path = inputs.query_inputs(
        os.path.join(work, "cache"), 3, taxonomy_nodes=200, cc_nodes=300,
        cc_edges=120, path_nodes=200, path_degree=3, n_vectors=300, dims=16,
        n_dups=5, n_queries=2, ivf_k=5,
    )
    meta = inputs.read_meta(path)
    data = workloads.load_query_data(spark, path)
    for kind in workloads.QUERY_KINDS:
        res = workloads.run_query(data, meta, kind, 0)
        if kind == "path":
            case("query: path equals the oracle",
                 workloads.check_query(meta, kind, 0, res)[0])
            bad = res[:1] + res[2:]
            case("query: path with a hop removed is caught",
                 not workloads.check_query(meta, kind, 0, bad)[0])
            continue
        res = res.localCheckpoint()
        case(f"query: {kind} equals the oracle",
             workloads.check_query(meta, kind, 0, res)[0])
        for label, bad in corruptions(res):
            case(f"query: {kind} with {label} is caught",
                 not workloads.check_query(meta, kind, 0, bad)[0])


def eventlog_cases() -> None:
    import test_eventlog

    for name in sorted(n for n in dir(test_eventlog) if n.startswith("test_")):
        try:
            getattr(test_eventlog, name)()
            case(f"eventlog: {name}", True)
        except AssertionError:
            case(f"eventlog: {name}", False)


def main(root: str) -> int:
    eventlog_cases()
    work = os.path.join(root, ".perfbench", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = harness.start_spark(work, trace=False)
    try:
        for name, fn in (("construct", construct_cases), ("stream", stream_cases),
                         ("query", query_cases)):
            sub = os.path.join(work, name)
            os.makedirs(sub)
            fn(spark, sub)
    finally:
        from run import _stop_spark

        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = [n for n, ok in CASES if not ok]
    print(f"{len(CASES) - len(failed)}/{len(CASES)} self-test cases passed")
    return 1 if failed else 0
