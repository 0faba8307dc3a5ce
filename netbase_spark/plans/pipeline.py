"""End-to-end KG-construction pipeline with lineage, metrics, and
checkpoint resume.

Stage graph (north_rule):

    labels ──> gazetteer(aliases) ─────────────────────┐ (scan_artifacts: alias->rank-1
    labels + raw ──> label side ──> CC map ────────────┤  entity->canonical rep, size-gated)
                                                        v
    docs ──────────> scan_batch (scan+link+canonicalize) ──> mention triples ─┐ (hardlink publish)
    label side ──> rewrite through CC map + dedup ────────────────────────────┴──> triples
                                                                                   ├─> adjacency (obj-keyed reverse index;
                                                                                   │   the triple table IS the subj side)
                                                                                   └─> degrees (union-view group-count)

The construction itself lives in plans/synth_pipeline (the construction
core, shared with ``construct_from`` and the stream); this module only
adds staging, resume, metrics and the rel-partitioned write layout.
Canonicalization is LABEL-SIDE-FIRST: sameAs-class merge edges come only
from the label side, never from the doc scan (rel=MENTIONED_IN), so the
union-find map exists before any document is read and composes into the
scan's gazetteer.  Mention triples are then born canonical AND born
distinct (obj=doc_id puts the doc id in the dedup key, so the scan's
per-doc seen-set IS global distinctness) — the corpus-sized triple set
never pays a dedup exchange.

Every stage writes parquet under ``<out>/<stage>/``; a stage whose
output already exists (``_SUCCESS``) is skipped on resume — the Iceberg
snapshot-checkpoint analog in the sandbox (the reference's .bin snapshot
+ replay log, src/export.cpp:5-47, src/netbase.cpp:2521-2533).
Each stage appends one record (run id, stage, resumed, rows, wall
seconds, per-file rows) to ``<out>/_construct_metrics.jsonl`` through
``table_io.log_metrics``, the log the stream, merges and compactions
write too.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from netbase_spark.operators.canonicalize import (
    connected_components,
    rewrite_triples,
    sameas_edges,
)
from netbase_spark.operators.gazetteer import build_alias_table
from netbase_spark.operators.materialize import (
    adjacency_reverse,
    adjacency_view,
    degrees_from_adjacency,
    write_triples,
)
from netbase_spark.plans.synth_pipeline import label_side, scan_artifacts, scan_batch
from netbase_spark.plans.table_io import (
    link_partition_files,
    log_metrics,
    write_snapshot,
)


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _file_stats(path: str) -> list[tuple[str, int]]:
    """Per-output-file (name under ``path``, num_rows) from parquet FOOTERS —
    driver-side metadata only, no scan.  At 100 TB this is the only
    affordable way to record per-partition lineage: re-reading every
    stage snapshot just to count rows per partition would double the
    pipeline's I/O (and it measurably capped scaling efficiency in the
    sandbox — one full re-scan + shuffle per stage).  The recursive glob
    also covers hive-partitioned stage outputs (rel=*/part-*)."""
    import pyarrow.parquet as pq

    files = sorted(
        glob.glob(os.path.join(path, "part-*.parquet"))
        or glob.glob(os.path.join(path, "*", "part-*.parquet"))
    )
    return [(os.path.relpath(f, path), pq.read_metadata(f).num_rows) for f in files]


class Pipeline:
    def __init__(self, spark: SparkSession, out_dir: str, resume: bool = True):
        self.spark = spark
        self.out = out_dir
        self.resume = resume
        self.metrics: list[dict] = []
        self.run_id: str | None = None

    def _stage(self, name: str, build, write=None) -> DataFrame:
        """Run (or resume) a stage; append its record to ``metrics`` and
        the construction log.  Rows and per-file rows come from parquet
        footers (`_file_stats`), so a stage costs exactly one Spark job:
        its own write.  ``write`` overrides the plain parquet snapshot
        (e.g. the rel-partitioned final layout) — resume re-reads
        whatever layout was written."""
        path = os.path.join(self.out, name)
        t0 = time.time()
        resumed = self.resume and _done(path)
        if not resumed:
            df = build()
            if write is not None:
                write(df, path)
            else:
                write_snapshot(df, path, fmt="parquet")
        stats = _file_stats(path)
        rec = {
            "stage": name,
            "resumed": resumed,
            "rows": sum(n for _, n in stats),
            "secs": 0.0 if resumed else round(time.time() - t0, 3),
        }
        self.metrics.append(rec)
        log_metrics(self.out, {"run": self.run_id, **rec, "partitions": stats})
        return self.spark.read.parquet(path)

    def run(
        self,
        docs: DataFrame,
        labels: DataFrame,
        blacklist: set[str],
        raw_triples: DataFrame | None = None,
        german: bool = False,
    ) -> DataFrame:
        """Full construction; returns the canonical triple table.  Every
        stage body is a construction-core step (plans/synth_pipeline).
        Each call is one ``run`` in the construction log."""
        self.run_id = uuid.uuid4().hex[:12]
        aliases = self._stage("aliases", lambda: build_alias_table(labels))
        side = self._stage(
            "extract_triples", lambda: label_side(labels, raw_triples, german)
        )
        mapping = self._stage(
            "canonical_map",
            lambda: connected_components(sameas_edges(side)),
        )
        # the scan preparation (size gate + broadcast build) runs INSIDE
        # the stage lambda, so a resumed run does not pay for it.  The
        # snapshot is written directly in the final rel-partitioned
        # layout (the scan emits one rel), which lets the triples stage
        # publish these files by hardlink instead of re-encoding them.
        self._stage(
            "mention_triples",
            lambda: scan_batch(
                docs,
                scan_artifacts(aliases, mapping, blacklist, german),
            ),
            write=write_triples,
        )
        mention_path = os.path.join(self.out, "mention_triples")

        # the canonical triple table: only the dimension-sized label
        # side is computed here (rewrite-and-dedup through the CC map,
        # written rel-partitioned).  The corpus-proportional mention
        # partition — already canonical, already distinct, already in
        # rel-partitioned layout — joins the table as METADATA
        # (link_partition_files): re-encoding those 10^12-scale rows
        # was the single largest non-scaling cost in the N->4N profile
        # (a second full pass over the biggest table in the job, for
        # bytes that already exist in their final form).
        def _write_canonical(df, path):
            write_triples(df, path)
            success = os.path.join(path, "_SUCCESS")
            os.remove(success)  # table incomplete until the links land
            linked = link_partition_files(mention_path, path)
            if linked == 0 and glob.glob(os.path.join(mention_path, "part-*.parquet")):
                raise RuntimeError(
                    "mention_triples snapshot is in the pre-partitioned flat "
                    "layout (older pipeline version); clear the output dir "
                    "and re-run instead of resuming across layouts"
                )
            open(success, "w").close()

        triples = self._stage(
            "triples",
            lambda: rewrite_triples(side, mapping),
            write=_write_canonical,
        )

        # only the obj-keyed HALF of the adjacency index is materialized
        # (adjacency_reverse): the rel-partitioned triple table already
        # is the subj-keyed direction, so the full explode wrote every
        # statement twice (the reference's statement chains are indexes
        # into one array, src/netbase.hpp:193-195 — not copies).
        rev = self._stage("adjacency", lambda: adjacency_reverse(triples))
        # degree = group-count over the union view's node column — two
        # column-pruned single-column scans (triples.subj + index.node)
        # instead of a full triple scan + explode — same result by
        # construction
        self._stage(
            "degrees",
            lambda: degrees_from_adjacency(adjacency_view(triples, rev)),
        )

        return triples
