"""Per-layer metrics of a traced run: spans (spans.Tracer) joined with
the event-log digest (eventlog.digest), one value per metric.

Every metric is computed per traced operation (or per micro-batch /
merge inside it) and reported as the median over those; a layer that a
workload does not exercise reports 0.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from eventlog import FIELDS
from harness import median

_SPAN = ("wall_s", "jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
         "python_s", "python_boot_s", "python_bytes_sent", "task_skew")
_QUERY = ("jobs", "task_run_s", "shuffle_write_bytes", "result_rows")



def _unit(field: str) -> str:
    if field.endswith("bytes") or field.endswith("bytes_sent"):
        return "bytes"
    if field.endswith("_s"):
        return "s"
    return "ratio" if field == "task_skew" else "count"


PER_LAYER: list[tuple[str, str]] = (
    [(f"mentions.{f}", _unit(f)) for f in _SPAN]
    + [("mentions.rows_out", "count")]
    + [
        ("gazetteer.wall_s", "s"),
        ("extraction.wall_s", "s"),
        ("canonicalize.map_wall_s", "s"),
        ("canonicalize.rewrite_wall_s", "s"),
        ("canonicalize.jobs", "count"),
        ("materialize.adjacency_wall_s", "s"),
        ("materialize.degrees_wall_s", "s"),
        ("materialize.shuffle_write_bytes", "bytes"),
        ("materialize.spill_bytes", "bytes"),
        ("table_io.linked_files", "count"),
        ("pipeline.jobs", "count"),
        ("pipeline.stage_coverage", "ratio"),
        ("artifacts.build_s", "s"),
        ("broadcast_gate.payload_bytes", "bytes"),
        ("broadcast_gate.path", "flag"),
        ("stream.batch_jobs", "count"),
        ("stream.batch_task_run_s", "s"),
        ("stream.batch_python_s", "s"),
        ("stream.fresh_rows", "count"),
        ("merge.jobs", "count"),
        ("merge.task_run_s", "s"),
        ("merge.files_touched", "count"),
        ("versioned.append_s", "s"),
        ("versioned.rewrite_data_files_s", "s"),
        ("versioned.bytes_rewritten", "bytes"),
        ("versioned.files_live", "count"),
        ("versioned.files_on_disk", "count"),
    ]
    + [
        (f"{k}.{f}", _unit(f))
        for k in ("closure", "cc", "path", "bgp", "neardup", "ann")
        for f in _QUERY
    ]
    + [
        ("calib.spark_job_s", "s"),
        ("calib.py_loop_s", "s"),
        ("trace.overhead_frac", "ratio"),
    ]
)


class Tree:
    """Finished spans as a tree, each carrying its event-log row."""

    def __init__(self, spans: list[dict], rows: dict):
        self.spans = {s["id"]: s for s in spans if s["end"] is not None}
        self.kids: dict[str, list[str]] = defaultdict(list)
        for s in self.spans.values():
            if s["parent"] in self.spans:
                self.kids[s["parent"]].append(s["id"])
        self.rows = rows

    def wall(self, sid: str) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def subtree(self, sid: str):
        todo = [sid]
        while todo:
            x = todo.pop()
            yield x
            todo.extend(self.kids.get(x, ()))

    def under(self, root: str, name: str) -> list[str]:
        return [x for x in self.subtree(root) if self.spans[x]["name"] == name]

    def agg(self, sids: list[str]) -> dict:
        """Event-log fields summed over ``sids`` and everything below
        them (``task_skew``: the maximum); ``wall_s`` is the spans' own
        wall time."""
        out = dict.fromkeys(FIELDS, 0.0)
        for sid in sids:
            for x in self.subtree(sid):
                row = self.rows.get(x)
                if row is None:
                    continue
                for f in FIELDS:
                    if f == "task_skew":
                        out[f] = max(out[f], row[f])
                    elif f != "wall_s":
                        out[f] += row[f]
        out["wall_s"] = sum(self.wall(s) for s in sids)
        return out

    def count(self, sids: list[str], key: str) -> float:
        return sum(self.spans[s]["counts"].get(key, 0) for s in sids)


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def construct_layers(tree: Tree, ops: list[dict]) -> dict:
    out: dict = {}
    per_op = []
    for o in ops:
        op = o["span"]
        st = {n: tree.under(op, f"pipeline.{n}") for n in (
            "aliases", "extract_triples", "canonical_map", "mention_triples",
            "triples", "adjacency", "degrees")}
        m = tree.agg(st["mention_triples"])
        mat = tree.agg(st["adjacency"] + st["degrees"])
        stage_wall = sum(tree.wall(s) for ids in st.values() for s in ids)
        r = {f"mentions.{f}": m[f] for f in _SPAN}
        r.update({
            "mentions.rows_out": tree.count(st["mention_triples"], "rows"),
            "gazetteer.wall_s": tree.agg(st["aliases"])["wall_s"],
            "extraction.wall_s": tree.agg(st["extract_triples"])["wall_s"],
            "canonicalize.map_wall_s": tree.agg(st["canonical_map"])["wall_s"],
            "canonicalize.rewrite_wall_s": tree.agg(st["triples"])["wall_s"],
            "canonicalize.jobs": tree.agg(st["canonical_map"] + st["triples"])["jobs"],
            "materialize.adjacency_wall_s": tree.agg(st["adjacency"])["wall_s"],
            "materialize.degrees_wall_s": tree.agg(st["degrees"])["wall_s"],
            "materialize.shuffle_write_bytes": mat["shuffle_write_bytes"],
            "materialize.spill_bytes": mat["spill_bytes"],
            "table_io.linked_files": tree.count(
                tree.under(op, "table_io.link_partition_files"), "linked_files"),
            "pipeline.jobs": tree.agg([op])["jobs"],
            "pipeline.stage_coverage": stage_wall / tree.wall(op),
        })
        per_op.append(r)
    for k in per_op[0]:
        out[k] = _med(r[k] for r in per_op)
    return out


def stream_layers(tree: Tree, ops: list[dict], extra: dict) -> dict:
    appends, merges, compactions, replaces = [], [], [], []
    for o in ops:
        drain = tree.under(o["span"], "stream.drain")
        for d in drain:
            appends += tree.under(d, "versioned.append")
            compactions += tree.under(d, "versioned.rewrite_data_files")
        for m in tree.under(o["span"], "stream.merge"):
            merges.append(m)
            replaces += tree.under(m, "versioned.replace_files")
    batch = [tree.agg([a]) for a in appends]
    merge = [tree.agg([m]) for m in merges]
    builds = [s for s in tree.spans if tree.spans[s]["name"] == "artifacts.build"]
    out = {f"mentions.{f}": _med(b[f] for b in batch) for f in _SPAN}
    fresh = _fresh_rows(extra["table"])
    out.update({
        "mentions.rows_out": _med(fresh),
        "artifacts.build_s": _med(extra["build_walls"]),
        "broadcast_gate.payload_bytes": _med(
            tree.spans[b]["counts"].get("payload_bytes", 0) for b in builds),
        "broadcast_gate.path": _med(
            tree.spans[b]["counts"].get("broadcast", 0) for b in builds),
        "stream.batch_jobs": _med(b["jobs"] for b in batch),
        "stream.batch_task_run_s": _med(b["task_run_s"] for b in batch),
        "stream.batch_python_s": _med(b["python_s"] for b in batch),
        "stream.fresh_rows": _med(fresh),
        "merge.jobs": _med(m["jobs"] for m in merge),
        "merge.task_run_s": _med(m["task_run_s"] for m in merge),
        "merge.files_touched": _med(
            tree.count([r], "files_touched") for r in replaces),
        "versioned.append_s": _med(tree.wall(a) for a in appends),
        "versioned.rewrite_data_files_s": _med(tree.wall(c) for c in compactions),
        "versioned.bytes_rewritten": tree.count(replaces + compactions,
                                                "bytes_written") / max(1, len(ops)),
        "versioned.files_live": extra["files_live"],
        "versioned.files_on_disk": extra["files_on_disk"],
    })
    return out


def _fresh_rows(table: str) -> list[int]:
    """Fresh rows per micro-batch, from the stream's own batch records."""
    path = os.path.join(table, "_construct_metrics.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        recs = [json.loads(line) for line in fh]
    return [r["fresh_rows"] for r in recs if "fresh_rows" in r]


def query_layers(tree: Tree, ops: list[dict]) -> dict:
    out = {}
    for kind in ("closure", "cc", "path", "bgp", "neardup", "ann"):
        per = []
        for o in ops:
            ids = tree.under(o["span"], f"query.{kind}")
            a = tree.agg(ids)
            a["result_rows"] = tree.count(ids, "result_rows")
            per.append(a)
        for f in _QUERY:
            out[f"{kind}.{f}"] = _med(p[f] for p in per)
    return out


def compute(workload: str, spans: list[dict], rows: dict, result: dict,
            calib: list[dict]) -> dict:
    tree = Tree(spans, rows)
    traced = [o for o in result["ops"] if o["traced"] and o["span"] in tree.spans]
    values = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    if traced:
        if workload == "construct":
            values.update(construct_layers(tree, traced))
        else:
            values.update(stream_layers(tree, traced, result["layer_inputs"]))
            values.update(query_layers(tree, traced))
    values["calib.spark_job_s"] = _med(c["spark_job_s"] for c in calib)
    values["calib.py_loop_s"] = _med(c["py_loop_s"] for c in calib)
    on = [o["wall"] for o in result["ops"] if o["traced"]]
    off = [o["wall"] for o in result["ops"] if not o["traced"]]
    if on and off:
        values["trace.overhead_frac"] = median(on) / median(off) - 1
    return values
