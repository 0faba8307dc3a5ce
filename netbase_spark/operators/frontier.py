"""One frontier kernel for every fixpoint loop in the engine.

Reference: every netbase traversal walks with one visited-set
discipline — the ``yetvisited`` set of ``findPath``/``getFurthest``
(src/query.cpp:1511-1564) and the ``yetvisitedIsA`` memo of ``isA4``
(src/query.cpp:2466-2470).  A node is expanded once, at its first
(shortest) depth, and the walk ends when nothing new is found.

Spark-first, Catalyst has no recursion, so the loop runs on the driver
and this module owns the parts every loop shares:

- :func:`_pin`/:func:`_unpin` — ``localCheckpoint`` a level (cuts the
  lineage) and later free exactly the blocks that checkpoint created;
- :func:`driver_rows` — the size gate: at most ``driver_threshold``
  rows come to the driver in one job, else the distributed loop runs;
- :func:`reach` — the driver twin: per-root BFS with hop depths and an
  optional hop bound, for inputs under the gate;
- :func:`frontier_levels` — the distributed semi-naive loop.  Each new
  level is ``expand(frontier)``, deduped on its key, anti-joined against
  everything seen so far (kept as separately pinned levels, unioned
  lazily and never re-checkpointed) and pinned.  The row count and the
  optional stop test are observed in the job that pins the level, so
  the loop's exact stop (an empty level) costs no extra job, and any
  cycle ends the loop as soon as it has been walked once.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from netbase_spark.plans.broadcast_gate import collect_limit


def _pin(df: DataFrame) -> DataFrame:
    """localCheckpoint an iteration result and remember the RDD that
    holds its blocks.

    Both halves matter, measured:
    - lineage MUST be cut (plain persist leaves the pointer-jumping
      self-join doubling the logical plan every round — by iteration 3
      the driver spends minutes in analysis);
    - superseded checkpoints MUST be freed (unbounded checkpoint blocks
      poison every later query in the session with GC pressure).

    The RDD is read from the checkpointed plan's ``LogicalRDD`` leaf,
    so a checkpoint another thread creates meanwhile is never taken for
    this one."""
    out = df.localCheckpoint()  # eager: materializes and truncates lineage
    leaf = out._jdf.queryExecution().analyzed().collectLeaves().head()
    out._pinned_rdd = leaf.rdd()  # type: ignore[attr-defined]
    return out


def _unpin(df: DataFrame) -> None:
    """Free a superseded _pin'd frame (safe only once nothing will read
    it again — its lineage was truncated, there is no recompute)."""
    rdd = getattr(df, "_pinned_rdd", None)
    if rdd is not None:
        rdd.unpersist(False)


def driver_rows(df: DataFrame, driver_threshold: int) -> list | None:
    """The rows of ``df`` when it has at most ``driver_threshold`` of
    them, else None; ``driver_threshold=0`` always answers None (the
    distributed path).  One job decides and fetches: the extra row
    proves overflow."""
    if not driver_threshold:
        return None
    rows = collect_limit(df, driver_threshold + 1)
    return rows if len(rows) <= driver_threshold else None


def reach(pairs, roots=None, max_hops: int | None = None):
    """Yield ``(root, node, hops)`` for every node reachable from
    ``root`` over 1..``max_hops`` edges of ``pairs`` (``(src, dst)``
    rows), at its fewest hops.  ``root`` itself appears only when a
    cycle leads back to it; ``roots=None`` walks from every edge
    source.  The driver twin of :func:`frontier_levels`."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
    for root in adj if roots is None else roots:
        hops: dict = {}
        frontier = [root]
        d = 0
        while frontier and d != max_hops:
            d += 1
            nxt = []
            for x in frontier:
                for y in adj.get(x, ()):
                    if y not in hops:
                        hops[y] = d
                        nxt.append(y)
            frontier = nxt
        for node, h in hops.items():
            yield root, node, h


def union_all(frames: list[DataFrame]) -> DataFrame:
    """Lazy ``unionByName`` of the frames (no shuffle, no dedup)."""
    return reduce(DataFrame.unionByName, frames)


def frontier_levels(
    seed: DataFrame,
    expand: Callable[[DataFrame, int], DataFrame],
    key: list[str],
    seen: DataFrame | None = None,
    max_levels: int | None = None,
    stop: Column | None = None,
) -> tuple[list[DataFrame], bool]:
    """Semi-naive fixpoint: the pinned levels and whether the loop
    converged.

    Level 0 is ``seed``; level ``d`` is ``expand(level d-1, d)``.  Each
    level is deduped on ``key``, anti-joined on ``key`` against ``seen``
    (optional, e.g. an existing closure) and every earlier level, then
    pinned, so the levels are disjoint on ``key`` and their union needs
    no dedup.  Level 0 is always returned, empty or not.

    The loop stops at the first empty level (``converged=True``; that
    level is freed, not returned), after ``max_levels`` levels, or after
    the first level with a row satisfying ``stop`` (both
    ``converged=False``).  Levels stay pinned; the caller frees them
    with :func:`_unpin` or leaves them to the context cleaner with the
    result that reads them."""
    levels: list[DataFrame] = []
    new = seed
    while True:
        new = new.dropDuplicates(key)
        prior = ([] if seen is None else [seen]) + levels
        if prior:
            new = new.join(union_all([p.select(*key) for p in prior]), key, "left_anti")
        obs = Observation()
        hit = F.lit(False) if stop is None else stop
        level = _pin(new.observe(
            obs, F.count(F.lit(1)).alias("rows"), F.count_if(hit).alias("hits")
        ))
        got = obs.get
        if levels and not got["rows"]:
            _unpin(level)
            return levels, True
        levels.append(level)
        if not got["rows"]:
            return levels, True
        if got["hits"] or len(levels) == max_levels:
            return levels, False
        new = expand(level, len(levels))
