"""The one frontier kernel (operators/frontier.py).

Every closure/BFS loop runs ``frontier_levels``: each level is
anti-joined against all earlier levels, so a cycle ends the loop as
soon as it has been walked once, and the stop is exact.  These tests
pin that a cyclic input costs no more Spark jobs than an acyclic chain
of similar depth, that ``_unpin`` frees only the checkpoint its
``_pin`` made, and that no loop in the query modules pins levels by
hand again.
"""

from __future__ import annotations

import ast
import pathlib
import uuid

import pytest
from test_local_frame import _jobs

from netbase_spark.operators.frontier import _pin, _unpin
from netbase_spark.relations import SUPER_CLASS

PKG = pathlib.Path(__file__).resolve().parent.parent / "netbase_spark"


def _isa(df, driver_threshold):
    from netbase_spark.operators.query_ops import isa_closure

    return isa_closure(df, driver_threshold=driver_threshold)


def _strict_path(df, driver_threshold):
    from netbase_spark.operators.graph_query import Path, path_closure

    return path_closure(
        df, Path(SUPER_CLASS, "+", max_hops=10, strict=True),
        driver_threshold=driver_threshold,
    )


@pytest.mark.parametrize("op", [_isa, _strict_path], ids=["isa_closure", "path_closure"])
def test_cycle_stops_as_early_as_a_chain(spark, op):
    """d -> a -> b -> c -> a: the distributed loop equals its driver
    twin and runs no more jobs than on the acyclic chain
    n0 -> n1 -> n2 -> n3 -> n4 (a loop that only drops the previous
    level walks the 3-cycle until its hop cap)."""

    def triples(links):
        return spark.createDataFrame(
            [(s, SUPER_CLASS, o) for s, o in links],
            "subj string, rel int, obj string",
        )

    cycle = triples([("d", "a"), ("a", "b"), ("b", "c"), ("c", "a")])
    chain = triples([(f"n{i}", f"n{i + 1}") for i in range(4)])
    got, cycle_jobs = _jobs(spark, lambda: op(cycle, 0))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in op(cycle, 200_000).collect()
    }
    _, chain_jobs = _jobs(spark, lambda: op(chain, 0))
    assert cycle_jobs <= chain_jobs, (cycle_jobs, chain_jobs)


def test_unpin_frees_only_its_own_checkpoint(spark, monkeypatch):
    """A checkpoint or cache made by another thread while ``_pin`` runs
    (concurrent requests on the HTTP shim) is not freed by ``_unpin``."""
    sc = spark.sparkContext
    frame = type(spark.range(1))  # the session's concrete DataFrame class

    def persisted() -> set[int]:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    real = frame.localCheckpoint
    other: dict = {}

    def racing(self, *args, **kwargs):
        before = persisted()
        other["df"] = spark.range(5).selectExpr("id", f"'{uuid.uuid4()}' AS tag").cache()
        other["df"].count()
        other["ids"] = persisted() - before
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", racing)
    pinned = _pin(spark.range(3))
    monkeypatch.undo()
    try:
        assert other["ids"]
        _unpin(pinned)
        assert other["ids"] <= persisted()
    finally:
        other["df"].unpersist()


def test_frontier_loops_are_not_hand_rolled():
    """Static guard: no ``for``/``while`` in the query modules pins a
    level itself; frontier loops go through ``frontier_levels``."""
    offenders = []
    for name in ("query_ops.py", "graph_query.py"):
        tree = ast.parse((PKG / "operators" / name).read_text(), name)
        for loop in ast.walk(tree):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for node in ast.walk(loop):
                if isinstance(node, ast.Call) and (
                    getattr(node.func, "id", None) == "_pin"
                    or getattr(node.func, "attr", None) in ("_pin", "localCheckpoint")
                ):
                    offenders.append(f"{name}:{node.lineno}")
    assert offenders == [], offenders
