"""Full KG construction as a Structured Streaming batch loop.

This module runs the WHOLE construction — the construction core's
``scan_batch`` (fused scan -> link -> canonicalize) against prebuilt
dimension artifacts (plans/synth_pipeline.build_artifacts), then an
idempotent merge into the canonical triple table, a snapshot-versioned
table (plans/versioned) — as a ``foreachBatch`` loop:

- the gazetteer automaton is broadcast ONCE (artifacts), not per
  micro-batch: at 10^7-10^8 aliases a per-batch rebuild would dominate
  batch latency (trie build alone measured 40 s at 10^7 aliases,
  BENCH/gazetteer_scale_probe.json);
- each batch appends only FRESH (subj, rel, obj) keys — the
  anti-join half of operators/evaluate.merge_triples — so re-ingested
  or updated documents cannot duplicate triples; label-side triples
  are seeded exactly once at table init;
- the stream checkpoint is the replay log (the reference's only
  incremental surface, src/netbase.cpp:2521-2533): restart resumes
  from offsets, and a batch replayed after a mid-batch crash is
  deduplicated by the same anti-join, so the table converges to the
  batch-pipeline result (test_streaming_construct.py pins equality
  with a full rebuild);
- late sameAs merges (:func:`apply_merges`) and periodic compaction
  (``compact_every``) are delta-sized maintenance on the versioned
  table, and they choose their plan from the size of their input: a
  merge whose candidate files (known from the manifest's per-file
  bounds) decode to within the broadcast cap
  (``versioned.decoded_bytes``), or a compaction whose live files do,
  runs as a vectorized pyarrow rewrite on the driver; a larger one runs
  the Spark plan.  Each run logs which arm ran to ``_construct_metrics.jsonl``,
  and each compaction expires all but the newest ``KEEP_VERSIONS``
  versions, so disk stays bounded however long the stream runs.

The doc side stays shuffle-free per batch on the broadcast path; the
anti-join reads the current table with the delta keys broadcast
(existing scanned, never shuffled), which at a 100-TB table should be
further narrowed by partition pruning on rel — the versioned table's
data files are unpartitioned here, and compaction clusters them on
``subj``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from netbase_spark.schemas import DOCS_SCHEMA

KEEP_VERSIONS = 2
"""Versions the stream keeps after each compaction (``expire_versions``'
``keep``): the compaction and its parent, so one compaction can still be
rolled back while the files no kept version lists leave the disk."""


def _require_versioned(versioned: bool) -> None:
    if not versioned:
        raise ValueError(
            "the construction table is always a versioned table "
            "(plans/versioned); versioned=False is not supported"
        )


def apply_merges(
    spark: SparkSession,
    table_dir: str,
    merge_edges: DataFrame,
    artifacts,
    versioned: bool = True,
    batch_id: str | None = None,
):
    """Console ``:merge`` analog for the incremental/streaming loop: fold
    late sameAs/merge edges into the LIVE construction state between
    micro-batches, without a full CC recompute and without rewriting the
    whole table (the reference splices merges at any time:
    src/console.cpp:397-407 -> ``mergeNode`` src/netbase.cpp:2610-2638).

    Three delta-sized steps:

    1. canonical map: :func:`~netbase_spark.operators.canonicalize.
       merge_mapping` re-solves ONLY the touched components.  When the
       map and the edges fit its driver threshold this runs on the
       driver and hands back the rep delta directly; otherwise its
       Spark arm's map is checkpointed and the delta (its
       ``mapping_delta``) collected once under the cap;
    2. the on-disk triple table: only the data FILES holding rows that
       touch re-rooted nodes are rewritten
       (:func:`_surgical_recanonicalize`, a ``replace_files`` commit);
    3. dimension artifacts: the label triples and the gazetteer's
       alias->entity values remap through the rep delta
       (``mentions.Gazetteer.remap``: the automaton is reused, never
       rebuilt), so FUTURE batches link straight to the new
       representatives.

    ``table_dir`` is a versioned table (plans/versioned); ``versioned``
    stays only for callers that pass it, and ``False`` raises
    ``ValueError`` before anything is read or written.
    A merge that changes a rep appends one record to the table's
    ``table_io.METRICS_LOG``: which arm rewrote the table (``path``),
    candidate and touched files, input bytes, the cap and the secs up
    to the table commit.
    Returns the refreshed ``ConstructionArtifacts``.  Equality with a
    from-scratch rebuild over (docs, edges ∪ late edges) is pinned by
    tests/test_streaming_construct.py.
    """
    import time

    from netbase_spark.operators.canonicalize import (
        _merge_mapping_spark,
        mapping_delta,
        merge_mapping_rows,
        rewrite_triples,
    )
    from netbase_spark.plans.broadcast_gate import collect_under_cap, local_frame
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts
    from netbase_spark.plans.table_io import log_metrics

    _require_versioned(versioned)
    t0 = time.perf_counter()
    old_map = artifacts.mapping
    map_schema = old_map.select("node", "rep").schema
    got = merge_mapping_rows(old_map, merge_edges)
    if got is not None:
        new_map = local_frame(spark, got[0], map_schema)
        rep_rows = got[1]
    else:
        new_map = _merge_mapping_spark(old_map, merge_edges).localCheckpoint()
        # the rep delta is collected ONCE: its rows become the
        # LocalRelation every later step joins against and the
        # gazetteer remap.  Only a delta over the collect cap stays a
        # (checkpointed) DataFrame.
        delta = mapping_delta(old_map, new_map).select("node", "rep")
        rep_rows = collect_under_cap(delta)
    if rep_rows is None:
        # failure atomicity: the broadcast-gazetteer remap (step 3)
        # needs the rep delta on the driver; refuse BEFORE the table
        # commit so a too-large delta fails with the on-disk state
        # untouched (raising after the rewrite would leave a merged
        # table with stale artifacts and no handle to recover)
        if artifacts.gazetteer.bc is not None:
            raise ValueError(
                "mapping delta exceeds the driver-collect cap; rebuild "
                "artifacts via build_artifacts (shuffle path) instead of "
                "remapping the broadcast in place (no table state was "
                "modified)"
            )
        changed = delta.localCheckpoint()
        rep_of = None
    elif not rep_rows:
        return artifacts
    else:
        changed = local_frame(spark, rep_rows, map_schema)
        rep_of = dict(rep_rows)

    # 2. delta-rewrite the table.  A full-table rewrite commit would
    # re-WRITE 100 TB to change a few components — the write, not the
    # rewrite join, is the dominant cost at scale (measured:
    # BENCH/incremental_merge_probe.json).
    rec = _surgical_recanonicalize(spark, table_dir, changed, batch_id, rep_of)
    log_metrics(table_dir, {"batch_id": batch_id, "merge": True, **rec,
                            "secs": round(time.perf_counter() - t0, 3)})

    # 3. refresh the dimension artifacts through the rep delta
    label_triples = rewrite_triples(
        artifacts.label_triples, changed
    ).localCheckpoint()
    return ConstructionArtifacts(
        label_triples, new_map, artifacts.gazetteer.remap(changed, rep_of)
    )


ISIN_NODE_CAP = 10_000
"""Max delta nodes for the isin-predicate touched-file discovery: an In
expression with millions of literals inflates driver memory and analysis
time, and parquet In-pushdown degrades on huge lists — past this, the
broadcast-marker join is strictly better."""


def _may_hold(bounds: dict, col: str, values: list) -> bool:
    """Whether a file with ``bounds`` (``versioned.file_bounds``) can
    hold a ``col`` value from the sorted ``values``; a file without
    bounds for ``col`` always can."""
    import bisect

    if col not in bounds:
        return True
    lo, hi = bounds[col]
    i = bisect.bisect_left(values, lo)
    return i < len(values) and values[i] <= hi


def _surgical_recanonicalize(spark, table_dir, changed, batch_id, rep_of=None):
    """File-level delta rewrite of a versioned triple table, committed
    as a ``replace_files`` manifest swap: only the data files holding a
    row whose subj or obj is a ``changed`` node are rewritten, their
    delta-touched ROWS go through the mapping (untouched rows in the
    same file carry verbatim — identical split to
    ``recanonicalize_delta``, so sameAs-class rels and self-loops
    already stored in untouched rows survive exactly as
    ``recanonicalize_delta`` keeps them), and the result is first-writer-deduplicated against
    the untouched rows and the kept files' keys.

    Candidate files come from the manifest's per-file bounds (no data
    read, no job; every file when the delta's nodes are not on the
    driver).  Two arms, the same rewrite:

    - **arrow** — ``rep_of`` (the delta as a dict) is on the driver and
      the candidates' ``versioned.decoded_bytes`` are at most
      ``broadcast_cap_bytes(spark)``: pyarrow reads, splits, remaps,
      dedups and writes on the driver, vectorized, with no Spark job;
    - **spark** — the scale twin: a column-pruned scan of the candidate
      files names the touched ones, ``recanonicalize_delta`` rewrites
      them and ``fresh_triples`` dedups against the kept files.

    Returns the merge's metrics record.  End-state equality of the arms
    with each other and with the full ``recanonicalize_delta`` is pinned
    by tests/test_merge_arms.py and tests/test_streaming_construct.py."""
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.broadcast_gate import broadcast_cap_bytes, collect_limit

    man = V.read_manifest(table_dir)
    data_dir = os.path.join(table_dir, "data")
    if rep_of is not None:
        nodes = sorted(rep_of)
    else:
        nodes = [r[0] for r in collect_limit(changed.select("node"), ISIN_NODE_CAP + 1)]
        nodes = sorted(nodes) if len(nodes) <= ISIN_NODE_CAP else None
    bounds = V.file_bounds(table_dir, man)
    cands = [
        f for f in man["files"]
        if nodes is None or _may_hold(bounds[f], "subj", nodes)
        or _may_hold(bounds[f], "obj", nodes)
    ]
    in_bytes = sum(os.path.getsize(os.path.join(data_dir, f)) for f in cands)
    decoded = V.decoded_bytes(table_dir, cands)
    cap = broadcast_cap_bytes(spark)
    arrow = rep_of is not None and decoded <= cap
    if arrow:
        touched = _arrow_rewrite(table_dir, man, bounds, cands, rep_of, batch_id)
    else:
        # an isin predicate only up to ISIN_NODE_CAP literals, however
        # the nodes reached the driver
        isin = nodes if nodes is not None and len(nodes) <= ISIN_NODE_CAP else None
        touched = _spark_rewrite(spark, table_dir, man, cands, changed, isin,
                                 batch_id)
    return {"path": "arrow" if arrow else "spark",
            "candidate_files": len(cands), "touched_files": touched,
            "input_bytes": in_bytes, "decoded_bytes": decoded, "cap_bytes": cap}


def _arrow_rewrite(table_dir, man, bounds, cands, rep_of, batch_id) -> int:
    """The arrow arm of :func:`_surgical_recanonicalize`; returns the
    number of files rewritten."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from netbase_spark.plans import versioned as V
    from netbase_spark.relations import SAMEAS_CLASS_RELS

    nodes = sorted(rep_of)
    keys = pa.array(nodes, V.arrow_schema(man["schema"]).field("subj").type)

    def hit(t):
        return pc.or_(pc.is_in(t["subj"], value_set=keys),
                      pc.is_in(t["obj"], value_set=keys))

    tables = {f: V.read_arrow(table_dir, [f], man) for f in cands}
    touched = [f for f in cands if pc.any(hit(tables[f])).as_py()]
    if not touched:
        return 0
    t = pa.concat_tables([tables[f] for f in touched])
    mask = hit(t)
    untouched = t.filter(pc.invert(mask))
    moved = t.filter(mask)
    # recanonicalize_delta's rewrite of the touched rows: drop
    # sameAs-class rels, remap subj/obj through the delta, drop
    # self-loops
    moved = moved.filter(pc.invert(pc.is_in(
        moved["rel"], value_set=pa.array(sorted(SAMEAS_CLASS_RELS), moved["rel"].type))))
    reps = pa.array([rep_of[n] for n in nodes], keys.type)
    for col in ("subj", "obj"):
        idx = pc.index_in(moved[col], value_set=keys)
        moved = moved.set_column(
            moved.schema.get_field_index(col), col,
            pc.if_else(pc.is_valid(idx), pc.take(reps, idx), moved[col]))
    moved = moved.filter(pc.not_equal(moved["subj"], moved["obj"]))
    # first-writer dedup: one row per key (the min of the other
    # columns, nulls first), none on a key the untouched rows or the
    # kept files already hold — read key-only, from the kept files
    # whose bounds can hold a rewritten key
    key_cols = ["subj", "rel", "obj"]
    moved = moved.sort_by(
        [(c, "ascending") for c in key_cols + [c for c in moved.column_names
                                               if c not in key_cols]],
        null_placement="at_start")
    moved = moved.filter(pa.array(V.key_starts(moved, key_cols)))
    subs = pc.unique(moved["subj"])
    sub_list = sorted(subs.to_pylist())
    obj_list = sorted(pc.unique(moved["obj"]).to_pylist())
    keep = [f for f in man["files"] if f not in set(touched)]
    key_files = [f for f in keep if _may_hold(bounds[f], "subj", sub_list)
                 and _may_hold(bounds[f], "obj", obj_list)]
    held = pa.concat_tables([
        untouched.select(key_cols),
        V.read_arrow(table_dir, key_files, man, key_cols,
                     filters=pc.field("subj").isin(subs)),
    ])
    added = moved.join(held, key_cols, join_type="left anti")
    out = pa.concat_tables([untouched, added.select(t.column_names)])
    V.replace_files(out, table_dir, keep, batch_id=batch_id)
    return len(touched)


def _spark_rewrite(spark, table_dir, man, cands, changed, nodes, batch_id) -> int:
    """The spark arm of :func:`_surgical_recanonicalize`; returns the
    number of files rewritten."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.canonicalize import recanonicalize_delta
    from netbase_spark.operators.evaluate import fresh_triples
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.broadcast_gate import gated_broadcast

    if not cands:
        return 0
    data_dir = os.path.join(table_dir, "data")
    full = spark.read.parquet(*[os.path.join(data_dir, f) for f in cands])
    # touched-file discovery over the candidates: an isin PREDICATE
    # when the delta's nodes are on the driver (it pushes into the
    # parquet scan, so row-group min/max stats skip untouched row
    # groups), broadcast-marker joins past ISIN_NODE_CAP
    if nodes is not None:
        cond = F.col("subj").isin(nodes) | F.col("obj").isin(nodes)
        touched_q = (
            full.withColumn("_f", F.input_file_name())
            .where(cond)
            .select("_f")
        )
    else:
        ch_s = gated_broadcast(
            changed.select(F.col("node").alias("subj"), F.lit(1).alias("_ts"))
        )
        ch_o = gated_broadcast(
            changed.select(F.col("node").alias("obj"), F.lit(1).alias("_to"))
        )
        touched_q = (
            full.withColumn("_f", F.input_file_name())
            .join(ch_s, "subj", "left")
            .join(ch_o, "obj", "left")
            .where(F.col("_ts").isNotNull() | F.col("_to").isNotNull())
            .select("_f")
        )
    touched_paths = {
        os.path.basename(r["_f"]) for r in touched_q.distinct().collect()
    }
    if not touched_paths:
        return 0
    keep = [f for f in man["files"] if f not in touched_paths]
    touched_df = spark.read.parquet(
        *[os.path.join(data_dir, f) for f in sorted(touched_paths)]
    )
    # split the touched FILES' rows with recanonicalize_delta's own
    # touched/untouched filter: only delta-touched rows go through the
    # rewrite (and its sameAs/self-loop drops); the files' other rows
    # carry verbatim.  Then first-writer-dedup the result against the
    # kept files' keys — a key-only scan, cheap next to their bytes.
    updated = recanonicalize_delta(touched_df, changed).localCheckpoint()
    if keep:
        kept_keys = spark.read.parquet(
            *[os.path.join(data_dir, f) for f in keep]
        )
        final = fresh_triples(kept_keys, updated)
    else:
        final = updated
    V.replace_files(
        final.select(*touched_df.columns), table_dir, keep, batch_id=batch_id
    )
    return len(touched_paths)


def start_incremental_construct(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    artifacts=None,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
    versioned: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Start (or resume, via checkpoint) the full-construction stream:
    new doc files under ``landing_dir`` -> canonical triples appended
    to the snapshot-versioned table (plans/versioned) at ``table_dir``.
    ``available_now=True`` drains the backlog then stops
    (batch-equivalent semantics).

    Each micro-batch commits one manifest version tagged with its
    foreachBatch id — replay after a mid-commit crash is a
    manifest-level no-op (on TOP of the key anti-join, which dedups
    re-ingested documents), any intermediate graph state stays
    time-travel readable, and rollback is O(1).  ``versioned`` stays
    only for callers that pass it; ``False`` raises ``ValueError``
    before anything is read or written.

    ``compact_every=N`` runs
    :func:`~netbase_spark.plans.versioned.rewrite_data_files` after
    every Nth micro-batch, re-clustering on ``subj`` (the bound the
    surgical merge's candidate test reads) at the default target file
    size — the automatic layout maintenance that keeps the surgical
    late-merge path (:func:`apply_merges`) touching O(touched-subject)
    files no matter how long the stream runs (appends scatter keys
    across batch files; without periodic compaction the file-level
    delta rewrite decays to a near-full rewrite — measured,
    BENCH/compaction_probe.json).  The compaction commit is
    batch-id-idempotent like every commit here, so a replay after a
    crash cannot double-compact, and it logs its own record (files
    before/after, arm) next to the batch records.  Each compaction is
    followed by ``expire_versions(keep=KEEP_VERSIONS)``, so the disk
    holds the live layout and one rollback step, not one table copy
    per compaction."""
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import build_artifacts, scan_batch
    from netbase_spark.plans.table_io import log_metrics

    _require_versioned(versioned)
    if artifacts is None:
        artifacts = build_artifacts(spark)

    # seed the table with the label-side triples exactly once, BEFORE
    # the stream starts: they are docs-independent, and seeding them
    # here keeps every micro-batch append doc-derived only
    if V.current_version(table_dir) is None:
        V.create(artifacts.label_triples, table_dir)

    def process_batch(docs: DataFrame, batch_id: int) -> None:
        import time

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        batch = scan_batch(docs, artifacts)
        # fresh-keys-only append == the anti-join half of merge_triples
        # (first-writer provenance): idempotent under batch replay; the
        # batch's keys broadcast into a semi join, so the current table
        # is scanned, never shuffled
        from netbase_spark.operators.evaluate import fresh_triples

        existing = V.read(spark, table_dir)
        fresh = fresh_triples(existing, batch).select(*existing.columns)
        # north-rule metrics + lineage, at zero extra jobs: row count via
        # an Observation on the write itself; per-partition lineage from
        # the parquet footers of the files THIS batch appended (the
        # manifest diff — same discipline as plans/pipeline._file_stats)
        obs = Observation(f"construct_batch_{batch_id}")
        observed = fresh.observe(obs, F.count(F.lit(1)).alias("rows"))
        t0 = time.time()
        parent = V.read_manifest(table_dir)
        v = V.append(observed, table_dir, batch_id=batch_id)
        if v == parent["version"]:  # replayed batch: no-op commit
            return
        added = set(V.read_manifest(table_dir)["files"]) - set(parent["files"])
        secs = round(time.time() - t0, 3)
        import pyarrow.parquet as pq

        rec = {
            "batch_id": batch_id,
            "fresh_rows": obs.get["rows"],
            "secs": secs,
            "partitions": [
                (f, pq.read_metadata(os.path.join(table_dir, "data", f)).num_rows)
                for f in sorted(added)
            ],
        }
        log_metrics(table_dir, rec)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            V.rewrite_data_files(
                spark, table_dir, cluster_by=["subj"],
                batch_id=f"compact-{batch_id}",
            )
            V.expire_versions(table_dir, keep=KEEP_VERSIONS)

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
