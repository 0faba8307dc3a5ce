"""The workloads.  Each has an input builder (pure function of the
seed, cached, run before the Spark session starts) and a runner that
sets up, measures for ``ctx.seconds`` and checks every output.

A runner returns a dict:

- ``setup_reps``: wall seconds of each repeated set-up (the median goes
  into ``setup_s``; the first one is cold);
- ``ops``: one record per measured operation, ``{"wall": s, "traced":
  bool, "ok": bool, "span": span id or None, ...}``;
- ``work``: units of work done by the measured ops, and ``work_unit``;
- ``named``: the workload's own end-to-end metrics (name -> (value,
  unit));
- ``layer_inputs``: whatever ``layers.py`` needs beyond spans and the
  event log.
"""

from __future__ import annotations

import os
import shutil
import time

import harness
import inputs
from harness import median

SETUP_REPS = 2
KEY_COLS = ("subj", "rel", "obj")

# input sizes.  Chosen so that one run, set-up included, fits the
# benchmark's time budget on a 4-core host; see README.md.
CONSTRUCT = dict(n_docs=8_000, n_files=8, warm_docs=400)
# two files per round: the first micro-batch of a table does not compact,
# so a round's second one does
STREAM = dict(n_entities=15_000, rounds=2, files_per_round=2,
              docs_per_file=200, merges_per_round=3)
STREAM_COMPACT_EVERY = 1  # every micro-batch after a table's first compacts
QUERY = dict(taxonomy_nodes=2_400, cc_nodes=6_000, cc_edges=1_800,
             path_nodes=2_000, path_degree=3, n_vectors=4_000, dims=32,
             n_dups=40, n_queries=6, ivf_k=10)
QUERY_KINDS = ("closure", "cc", "path", "bgp", "neardup", "ann")


def measure(ctx, op, min_ops: int, max_ops: int | None = None) -> list[dict]:
    """Run ``op(i) -> record`` until ``ctx.seconds`` have passed and at
    least ``min_ops`` ran.  In a traced run every other op runs with
    tracing paused, so the same run yields the tracing overhead.  The
    calibration probe runs right before and right after."""
    ctx.calib.append(harness.calibrate(ctx.spark))
    ops = []
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while i < min_ops or time.perf_counter() < t_end:
        if max_ops is not None and i >= max_ops:
            break
        traced = ctx.trace and i % 2 == 0
        ctx.tracer.paused = ctx.trace and not traced
        try:
            rec = op(i)
        finally:
            ctx.tracer.paused = False
        rec["traced"] = traced
        ops.append(rec)
        i += 1
    ctx.calib.append(harness.calibrate(ctx.spark))
    return ops


def fp_equal(got: tuple[int, int], want) -> bool:
    return tuple(got) == tuple(want)


def path_equal(got, want) -> bool:
    return (got is None and want is None) or (
        got is not None and want is not None and list(got) == list(want)
    )


# ---------------------------------------------------------------------------
# construct: the staged Pipeline.run over a pre-materialized corpus
# ---------------------------------------------------------------------------


def construct_inputs(cache: str, seed: int, workers: int) -> str:
    return inputs.construct_inputs(cache, seed, workers=workers, **CONSTRUCT)


def run_construct(ctx, path: str) -> dict:
    from netbase_spark.data.fixtures import (
        blacklist_fixture,
        labels_spark_df,
        synonym_spark_df,
    )
    from netbase_spark.plans import pipeline as P

    spark, tr = ctx.spark, ctx.tracer
    meta = inputs.read_meta(path)
    want = (meta["oracle_count"], meta["oracle_fp"])
    tr.wrap(P.Pipeline, "run", "pipeline.run")
    tr.wrap(
        P.Pipeline, "_stage", lambda self, name, *a, **k: f"pipeline.{name}",
        counts=lambda res, args, kw, _: {"rows": args[0].metrics[-1]["rows"]},
    )
    tr.wrap(
        P, "link_partition_files", "table_io.link_partition_files",
        counts=lambda res, args, kw, _: {"linked_files": res},
    )
    blacklist = blacklist_fixture()
    out_root = os.path.join(ctx.work, "construct")

    def run_once(docs_dir: str, tag: str, span_name: str):
        out = os.path.join(out_root, tag)
        shutil.rmtree(out, ignore_errors=True)
        labels, syn = labels_spark_df(spark), synonym_spark_df(spark)
        docs = spark.read.parquet(docs_dir)
        with tr.span(span_name) as rec:
            t0 = time.perf_counter()
            P.Pipeline(spark, out, resume=False).run(
                docs, labels, blacklist, raw_triples=syn
            )
            wall = time.perf_counter() - t0
        return out, wall, rec.get("id")

    setup_reps = []
    for i in range(SETUP_REPS):
        _, wall, _ = run_once(os.path.join(path, "warm"), f"warm{i}", "setup.warm")
        setup_reps.append(wall)

    def op(i: int) -> dict:
        out, wall, span = run_once(os.path.join(path, "corpus"), f"op{i % 2}", "op")
        got = harness.spark_fingerprint(
            spark.read.parquet(os.path.join(out, "triples")), KEY_COLS
        )
        return {"wall": wall, "span": span, "ok": fp_equal(got, want),
                "triples": got[0]}

    # two warm-up runs bring the session to steady state, so one op
    # suffices (a second one does not narrow the run-to-run spread,
    # which host load sets); a traced run needs a second, untraced op
    # for the tracing overhead
    ops = measure(ctx, op, min_ops=2 if ctx.trace else 1)
    tr.unwrap_all()
    walls = [o["wall"] for o in ops]
    triples = median([o["triples"] for o in ops])
    construct_s = median(walls)
    return {
        "setup_reps": setup_reps,
        "ops": ops,
        "work": sum(o["triples"] for o in ops),
        "work_unit": "triples",
        "named": {
            "construct_s": (construct_s, "s"),
            "construct_triples_per_s": (triples / construct_s, "triples/s"),
        },
        "tails": {"construct_s": harness.tail(walls)},
        "layer_inputs": {},
    }


# ---------------------------------------------------------------------------
# stream phase: incremental construction into a versioned table, with
# late sameAs merges between landing rounds
# ---------------------------------------------------------------------------


def _progress_walls(query) -> list[float]:
    """Wall seconds of each micro-batch that read rows, from the
    query's progress reports."""
    walls = []
    for p in query.recentProgress:
        if p["numInputRows"]:
            walls.append(p["durationMs"]["triggerExecution"] / 1e3)
    return walls


def stream_expected(spark, docs, ref, edges) -> tuple[int, int]:
    """Key-set fingerprint of a from-scratch construction over ``docs``
    with the untouched artifacts ``ref``, rewritten through every merge
    edge at once."""
    from netbase_spark.operators.canonicalize import (
        mapping_delta,
        merge_mapping,
        rewrite_triples,
    )
    from netbase_spark.plans.synth_pipeline import construct_from

    changed = mapping_delta(
        ref.mapping,
        merge_mapping(ref.mapping, spark.createDataFrame(
            [tuple(e) for e in edges], "src string, dst string")),
    )
    full = construct_from(spark, docs, ref)
    return harness.spark_fingerprint(
        rewrite_triples(full, changed).select(*KEY_COLS).distinct(), KEY_COLS
    )


def stream_check(table, want) -> tuple[bool, int]:
    """(the table's key set matches ``want`` and holds no duplicate
    key, live rows)."""
    from pyspark.sql import functions as F

    r = table.groupBy(*KEY_COLS).count().agg(
        *harness.fingerprint_aggs(KEY_COLS), F.sum("count").alias("rows")
    ).collect()[0]
    rows = int(r["rows"] or 0)
    return fp_equal((r["n"], r["h"]), want) and rows == r["n"], rows


class StreamPhase:
    """Incremental construction into a versioned table: each round lands
    files that drain as micro-batches, then the round's late sameAs
    chain goes through ``apply_merges``."""

    def __init__(self, ctx, path: str):
        from netbase_spark.plans import broadcast_gate as BG
        from netbase_spark.plans import versioned as V

        self.ctx, self.path = ctx, path
        self.meta = inputs.read_meta(path)
        self.rounds = STREAM["rounds"]
        spark, tr = ctx.spark, ctx.tracer
        self.labels = spark.read.parquet(
            os.path.join(path, "labels.parquet")).localCheckpoint()
        self.labels.count()

        def table_files(args, kwargs):
            # append/replace_files take (df, table, ...), rewrite_data_files
            # takes (spark, table, ...)
            return args[1], set(V.read_manifest(args[1])["files"])

        def rewrite_counts(res, args, kwargs, before):
            table, old = before
            new = set(V.read_manifest(table)["files"])
            data = os.path.join(table, "data")
            return {
                "files_touched": len(old - new),
                "bytes_written": sum(os.path.getsize(os.path.join(data, f))
                                     for f in new - old),
            }

        for fn in ("append", "replace_files", "rewrite_data_files"):
            tr.wrap(V, fn, f"versioned.{fn}", pre=table_files, counts=rewrite_counts)
        tr.wrap(BG, "collect_under_cap", "broadcast_gate.collect_under_cap",
                counts=lambda res, a, k, _: {"broadcast": int(res is not None)})
        self.build_walls: list[float] = []
        self.live = self._table("live")

    def build(self) -> float:
        """Build the artifacts; returns the wall seconds.  The check also
        uses this build: a merge returns new artifacts and leaves the
        old ones untouched."""
        from netbase_spark.plans.synth_pipeline import build_artifacts

        with self.ctx.tracer.span("artifacts.build") as rec:
            t0 = time.perf_counter()
            arts = build_artifacts(self.ctx.spark, labels_df=self.labels)
            wall = time.perf_counter() - t0
            rec["counts"]["broadcast"] = int(arts.scan_bc is not None)
            rec["counts"]["payload_bytes"] = _broadcast_bytes(arts.scan_bc)
        self.built = arts
        self.build_walls.append(wall)
        self.arts = arts
        return wall

    def _edges(self, r: int):
        return self.ctx.spark.createDataFrame(
            [tuple(e) for e in self.meta["merges"][r]], "src string, dst string")

    def _table(self, tag: str) -> dict:
        d = os.path.join(self.ctx.work, "stream", tag)
        shutil.rmtree(d, ignore_errors=True)
        t = {k: os.path.join(d, k) for k in ("landing", "table", "ckpt")}
        os.makedirs(t["landing"])
        return t

    def _land(self, t: dict, r: int) -> None:
        src = os.path.join(self.path, "rounds", f"{r:03d}")
        for f in sorted(os.listdir(src)):
            os.link(os.path.join(src, f), os.path.join(t["landing"], f))

    def _drain(self, t: dict, arts) -> list[float]:
        from netbase_spark.streaming.construct import start_incremental_construct

        q = start_incremental_construct(
            self.ctx.spark, t["landing"], t["table"], t["ckpt"], arts,
            available_now=True, max_files_per_trigger=1, versioned=True,
            compact_every=STREAM_COMPACT_EVERY,
        )
        q.awaitTermination()
        return _progress_walls(q)

    def round(self, r: int) -> dict:
        from netbase_spark.streaming.construct import apply_merges

        tr = self.ctx.tracer
        self._land(self.live, r)
        t0 = time.perf_counter()
        with tr.span("stream.drain"):
            batch_walls = self._drain(self.live, self.arts)
        t1 = time.perf_counter()
        with tr.span("stream.merge"):
            self.arts = apply_merges(
                self.ctx.spark, self.live["table"], self._edges(r), self.arts,
                versioned=True, batch_id=f"merge-{r}",
            )
        t2 = time.perf_counter()
        return {"stream_wall": t2 - t0, "batch_walls": batch_walls,
                "merge_wall": t2 - t1, "docs": self.meta["docs_per_round"],
                "round": r}

    def finish(self, ops: list[dict]) -> dict:
        """Check the live table (sets ``ok`` on every op) and return the
        named metrics and layer inputs."""
        from netbase_spark.plans import versioned as V

        spark, table = self.ctx.spark, self.live["table"]
        applied = [e for o in ops for e in self.meta["merges"][o["round"]]]
        want = stream_expected(spark, spark.read.parquet(self.live["landing"]),
                               self.built, applied)
        ok, live_rows = stream_check(V.read(spark, table), want)
        for o in ops:
            o["ok"] = o.get("ok", True) and ok
        disk_bytes, _ = harness.dir_bytes(table)
        _, data_files = harness.dir_bytes(os.path.join(table, "data"))
        batch_walls = [w for o in ops for w in o["batch_walls"]]
        merge_walls = [o["merge_wall"] for o in ops]
        docs = sum(o["docs"] for o in ops)
        return {
            "named": {
                "stream_batch_s": (median(batch_walls), "s"),
                "stream_docs_per_s": (docs / sum(o["stream_wall"] for o in ops),
                                      "docs/s"),
                "merge_s": (median(merge_walls), "s"),
                "stream_disk_bytes_per_triple": (disk_bytes / max(1, live_rows),
                                                 "bytes"),
            },
            "tails": {"stream_batch_s": harness.tail(batch_walls),
                      "merge_s": harness.tail(merge_walls)},
            "layer_inputs": {
                "build_walls": self.build_walls,
                "files_live": len(V.read_manifest(table)["files"]),
                "files_on_disk": data_files,
                "table": table,
            },
            "docs": docs,
        }


def _broadcast_bytes(bc) -> int:
    """Serialized size of a Python broadcast: the file PySpark pickled
    its value into."""
    if bc is None:
        return 0
    p = getattr(bc, "_path", None)
    if p and os.path.exists(p):
        return os.path.getsize(p)
    import pickle

    return len(pickle.dumps(bc.value, protocol=pickle.HIGHEST_PROTOCOL))


# ---------------------------------------------------------------------------
# query mix: one closed-loop client round-robining six query kinds
# ---------------------------------------------------------------------------


def load_query_data(spark, path: str) -> dict:
    return {
        name: spark.read.parquet(os.path.join(path, f"{name}.parquet")).localCheckpoint()
        for name in ("taxonomy", "sameas", "paths", "vectors")
    }


def run_query(data: dict, meta: dict, kind: str, r: int):
    """Query ``kind`` of round ``r``: a lazy DataFrame, or for ``path``
    the path itself.

    driver_threshold=0: the edge sets here are far below the 200k-edge
    default, and the benchmark measures the distributed frontier loops
    that inputs past the threshold take (see README.md)."""
    from netbase_spark.operators.canonicalize import connected_components
    from netbase_spark.operators.dedup import cosine_neardup_bucketed, ivf_topk
    from netbase_spark.operators.graph_query import bgp_match
    from netbase_spark.operators.query_ops import find_path, isa_closure
    from netbase_spark.relations import SUPER_CLASS

    if kind == "closure":
        return isa_closure(data["taxonomy"], driver_threshold=0).select(
            "node", "anc")
    if kind == "cc":
        return connected_components(data["sameas"], driver_threshold=0).select(
            "node", "rep")
    if kind == "path":
        src, dst, _ = meta["path_queries"][r % len(meta["path_queries"])]
        return find_path(data["paths"], src, dst, max_depth=10)
    if kind == "bgp":
        df = bgp_match(data["taxonomy"],
                       [("?x", SUPER_CLASS, "?y"), ("?y", SUPER_CLASS, "?z")])
        return df.select(*df.columns[:3])
    if kind == "neardup":
        return cosine_neardup_bucketed(data["vectors"], threshold_e4=9500,
                                       n_planes=8).select("a", "b")
    q = meta["ivf_queries"][r % len(meta["ivf_queries"])][0]
    return ivf_topk(data["vectors"], q, k=meta["ivf_k"], n_cells=16,
                    nprobe=16, iters=2).select("vec_id")


def check_query(meta: dict, kind: str, r: int, res) -> tuple[bool, int]:
    """(matches the oracle, result rows) for a :func:`run_query` result."""
    if kind == "path":
        want = meta["path_queries"][r % len(meta["path_queries"])][2]
        return path_equal(res, want), len(res or ())
    want = (meta["ivf_queries"][r % len(meta["ivf_queries"])][1]
            if kind == "ann" else meta[kind])
    got = harness.spark_fingerprint(res, res.columns)
    return fp_equal(got, want), got[0]


class QueryPhase:
    def __init__(self, ctx, path: str):
        self.ctx, self.path = ctx, path
        self.meta = inputs.read_meta(path)

    def load(self) -> float:
        """(Re)load and checkpoint the inputs; returns the wall seconds."""
        t0 = time.perf_counter()
        self.data = load_query_data(self.ctx.spark, self.path)
        for df in self.data.values():
            df.count()
        return time.perf_counter() - t0

    def round(self, r: int) -> dict:
        """Every query kind once, each result forced by a noop write inside
        its timed region; :meth:`check` checks them afterwards."""
        rec = {"kinds": {}, "results": {}, "spans": {}, "round": r}
        for kind in QUERY_KINDS:
            with self.ctx.tracer.span(f"query.{kind}") as span:
                t0 = time.perf_counter()
                res = run_query(self.data, self.meta, kind, r)
                if kind != "path":
                    res.write.format("noop").mode("overwrite").save()
                rec["kinds"][kind] = time.perf_counter() - t0
            rec["results"][kind], rec["spans"][kind] = res, span
        return rec

    def check(self, rec: dict) -> bool:
        ok = True
        for kind, res in rec.pop("results").items():
            good, rows = check_query(self.meta, kind, rec["round"], res)
            rec["spans"][kind]["counts"]["result_rows"] = rows
            ok = ok and good
        return ok

    @staticmethod
    def named(ops: list[dict]) -> dict:
        return {
            f"{kind}_s": (median([o["kinds"][kind] for o in ops]), "s")
            for kind in QUERY_KINDS
        }


# ---------------------------------------------------------------------------
# stream_query: a live graph.  Each round lands docs into the versioned
# table, merges the round's late sameAs edges, and answers one round of
# the query mix.
# ---------------------------------------------------------------------------


def stream_query_inputs(cache: str, seed: int, workers: int) -> tuple[str, str]:
    return (inputs.stream_inputs(cache, seed, workers=workers, **STREAM),
            inputs.query_inputs(cache, seed, **QUERY))


def run_stream_query(ctx, paths: tuple[str, str]) -> dict:
    stream = StreamPhase(ctx, paths[0])
    query = QueryPhase(ctx, paths[1])
    tr = ctx.tracer

    # set-up: build the artifacts and load the query inputs (repeated).
    # No warm-up round: the build compiles most of the stream's plans
    # (canonicalize, rewrite), and a warm-up round of either phase cost
    # more than it took off the measured round.  Nothing runs
    # concurrently: the library's iterative operators free every
    # checkpoint made while they run, another thread's included.
    build_s = stream.build()
    reps = [query.load() for _ in range(SETUP_REPS)]

    def op(r: int) -> dict:
        with tr.span("op") as span:
            t0 = time.perf_counter()
            rec = stream.round(r)
            rec.update(query.round(r))
            rec["wall"] = time.perf_counter() - t0
        rec["span"] = span.get("id")
        t0 = time.perf_counter()
        rec["ok"] = query.check(rec)
        rec["check_s"] = time.perf_counter() - t0
        return rec

    ops = measure(ctx, op, min_ops=1, max_ops=stream.rounds)
    tr.unwrap_all()
    t0 = time.perf_counter()
    fin = stream.finish(ops)
    check_s = time.perf_counter() - t0 + sum(o["check_s"] for o in ops)
    return {
        "check_s": check_s,
        "setup_reps": [build_s + s for s in reps],
        "ops": ops,
        "work": fin["docs"],
        "work_unit": "docs",
        "named": {**fin["named"], **QueryPhase.named(ops)},
        "tails": fin["tails"],
        "layer_inputs": fin["layer_inputs"],
    }


WORKLOADS = {
    "construct": (construct_inputs, run_construct),
    "stream_query": (stream_query_inputs, run_stream_query),
}
