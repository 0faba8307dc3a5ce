"""Table-format seam for stage snapshots: parquet directories in the
sandbox, Iceberg tables on a real cluster.

The reference persists its graph with binary array snapshots
(``save()``, src/export.cpp:5-47); the Spark-first equivalent
(SURVEY.md §2.1) is ``df.writeTo(<table>).createOrReplace()`` against
an Iceberg catalog — atomic snapshot commits, readable-while-writing,
and time-travel for resume.  This sandbox has no Iceberg runtime jars,
so the shipped default is a plain parquet snapshot directory with a
``_SUCCESS`` marker (same atomicity contract from the committer); the
Iceberg path below is the exact call a cluster deployment flips on by
configuring a catalog, and it fails loudly — never silently — when the
runtime is absent.

Documented impossibility (round-3 audit, 2026-08-20): a true-Iceberg
round-trip test cannot run here — a filesystem-wide search found no
``iceberg-spark-runtime`` jar in the container image, and the sandbox
has no package installation or network access to obtain one.  What IS
covered: the catalog gate (fails loudly, never silently —
tests/test_new_operators.py::test_table_io_snapshot_roundtrip_and_iceberg_gate),
the parquet snapshot round-trip incl. a partitioned layout (same
test), resume-from-snapshot (tests/test_pipeline_pr.py), the
fast-append analog (:func:`link_partition_files`), and — in
``plans/versioned.py`` — manifest-based SNAPSHOT VERSIONING itself
(fast-append commits, time travel, rollback, replay-idempotent
batch ids, version expiry), i.e. the Iceberg semantics the north star
names, exercised end-to-end over plain parquet.  On a cluster with
the jar, ``write_snapshot(df, 'cat.db.t', fmt='iceberg')`` is the
single switch point.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CATALOG_PREFIX = "org.apache.iceberg.spark.Spark"  # SparkCatalog / SparkSessionCatalog

METRICS_LOG = "_construct_metrics.jsonl"
"""The construction log, one JSON line per record, kept in the output
directory it describes: a ``Pipeline`` stage (``run``, ``stage``,
``resumed``, ``rows``, ``secs``, ``partitions``) under ``Pipeline``'s
out dir; a stream batch, merge or compaction under the versioned
table's (the leading underscore keeps parquet readers off it)."""


def log_metrics(out: str, rec: dict) -> None:
    """Append ``rec`` as one line of ``out``'s :data:`METRICS_LOG`."""
    with open(os.path.join(out, METRICS_LOG), "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Iceberg catalogs (``spark.sql.catalog.<name>``
    set to SparkCatalog or SparkSessionCatalog); [] in the parquet
    sandbox.  Checks both the static SparkConf and the runtime SQL conf
    (``SET``) — catalogs registered after session start never appear in
    ``sparkContext.getConf()``."""
    pairs = dict(spark.sparkContext.getConf().getAll())
    pairs.update(
        (r["key"], r["value"])
        for r in spark.sql("SET").collect()
        if r["key"].startswith("spark.sql.catalog.")
    )
    return sorted(
        k.split(".")[3]
        for k, v in pairs.items()
        if k.startswith("spark.sql.catalog.")
        and k.count(".") == 3
        and v.startswith(ICEBERG_CATALOG_PREFIX)
    )


def write_snapshot(
    df: DataFrame, target: str, fmt: str = "parquet", partition_by: list[str] | None = None
) -> None:
    """Materialize one stage snapshot.

    fmt="parquet": ``target`` is a directory; overwrite in place.
    fmt="iceberg": ``target`` is a catalog-qualified table identifier;
    ``writeTo(...).createOrReplace()`` commits an atomic Iceberg
    snapshot (the resume checkpoint).  Raises RuntimeError with the
    missing-runtime explanation if no Iceberg catalog is configured.
    """
    if fmt == "parquet":
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target)
        return
    if fmt == "iceberg":
        spark = df.sparkSession
        if not iceberg_catalogs(spark):
            raise RuntimeError(
                "fmt='iceberg' requires an Iceberg catalog "
                "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
                "+ the iceberg-spark-runtime jar); none is configured in "
                "this session. The sandbox default is fmt='parquet'."
            )
        w = df.writeTo(target)
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return
    raise ValueError(f"unknown snapshot format: {fmt!r}")


def link_partition_files(src: str, dst: str) -> int:
    """Publish every hive-partitioned data file under ``src`` into the
    same-named partition directories of ``dst`` by hardlink (copy when
    the dirs sit on different filesystems).  Returns the file count.

    This is the parquet-directory analog of an Iceberg fast-append: a
    snapshot whose rows are already in their final partition layout
    joins the target table as METADATA — no decode, no re-encode, no
    second pass over the data.  The construction pipeline uses it to
    fold the corpus-proportional mention partition into the canonical
    triple table; rewriting those rows cost a full non-scaling
    re-encode of the biggest table in the job (src/export.cpp:5-47's
    binary snapshot append is the reference's equivalent shortcut).
    """
    import shutil

    n = 0
    for part in sorted(os.listdir(src)):
        sdir = os.path.join(src, part)
        if not (os.path.isdir(sdir) and "=" in part):
            continue
        ddir = os.path.join(dst, part)
        os.makedirs(ddir, exist_ok=True)
        for f in sorted(os.listdir(sdir)):
            if not f.endswith(".parquet"):
                continue
            target = os.path.join(ddir, f)
            if os.path.exists(target):
                continue
            try:
                os.link(os.path.join(sdir, f), target)
            except OSError:
                shutil.copy2(os.path.join(sdir, f), target)
            n += 1
    return n


def read_snapshot(spark: SparkSession, target: str, fmt: str = "parquet") -> DataFrame:
    """Re-open a stage snapshot written by :func:`write_snapshot`."""
    if fmt == "parquet":
        return spark.read.parquet(target)
    if fmt == "iceberg":
        return spark.read.table(target)
    raise ValueError(f"unknown snapshot format: {fmt!r}")
