"""Size-gated broadcast decisions for dimension-side tables.

The reference sizes its in-memory alias hash to ``2 * maxNodes`` up
front and simply fails past it (Ahash sizing, src/netbase.cpp:159-228).
A 100-TB Spark job cannot assume the dimension side fits one executor:
every ``F.broadcast`` hint and every driver-collected lookup structure
in this package is a SCALE CEILING unless gated.  This module provides
the shared gate: estimate the table's size cheaply, broadcast/collect
under the cap, fall back to a shuffle-join (or DataFrame-side) plan
above it.

Two estimators, composed:

- :func:`plan_size_bytes` — Catalyst's optimized-plan statistics.
  Free (driver-side only, no job), accurate for parquet-backed scans,
  but a conservative OVERestimate after joins/aggregations (without
  column stats Catalyst propagates child sizes multiplicatively).
- :func:`sampled_size_bytes` — ``count()`` plus a driver-side sample;
  two small jobs, accurate for any plan.

:func:`fits_broadcast` trusts a small Catalyst estimate (an
overestimate that still fits certainly fits) and only pays the sampled
jobs when Catalyst says "too big" — exactly the case where Catalyst is
usually wrong for derived dimension tables.

The cap defaults to ``spark.netbase.broadcastCapBytes`` (conf) or
``DEFAULT_CAP_BYTES``.  Tests force the fallback by passing
``cap_bytes=1`` and force the broadcast with a huge cap; both paths are
property-tested identical on the operators that use the gate
(tests/test_mention_shuffle.py, tests/test_broadcast_gate.py).

A PythonRDD-backed frame carries no Catalyst statistics, so every gate
over it pays the sampled jobs.  Driver-built relations (a union-find
result, a BFS seed, a corrections table) therefore go through
:func:`local_frame`, which makes them ``LocalRelation``s: exact
statistics (the gate costs zero jobs) and no Python worker when a later
job reads them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONF_KEY = "spark.netbase.broadcastCapBytes"
DEFAULT_CAP_BYTES = 256 << 20  # 256 MiB serialized — comfortable per-executor

# pickled-row bytes underestimate live Python dict/set/str overhead;
# the driver-collect gate inflates by this factor plus a per-entry floor
PY_OVERHEAD_FACTOR = 3
PY_PER_ROW_BYTES = 64


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-side ``rows`` (tuples, lists or Rows, positional) as a JVM
    ``LocalRelation`` with ``schema`` (a StructType or a DDL string).

    ``createDataFrame(list_of_tuples)`` yields a PythonRDD: every job
    that reads it starts Python workers just to unpickle the rows
    (a fixed ~0.3 s per task wave on a 4-core host, whatever the row
    count), and its plan has no size statistics, so each size gate
    over it pays a count + sample.  A ``pyarrow.Table`` built with the
    Spark schema lands in the JVM as a ``LocalRelation`` with exact
    statistics.  The Arrow table is built here rather than through
    pandas, which falls back to a PythonRDD when conversion fails
    (e.g. None in an int column); empty ``rows`` keep ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = zip(*rows) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def collect_limit(df: DataFrame, n: int) -> list:
    """At most ``n`` rows of ``df`` on the driver, in ONE Spark job.

    ``df.limit(n).collect()`` scans one partition, then four times as
    many per further job until it holds ``n`` rows: a sparse input (a
    handful of merge edges, a small delta) costs two or three jobs, and
    each job over a Python-backed input starts its workers again.  The
    Arrow collect runs the same limit as one job over every partition (a
    local limit per partition, then one single-partition exchange), so
    driver memory stays bounded by ``n`` rows.  An input past ``n`` rows
    is still scanned whole, where the incremental take could stop early;
    every caller then takes a distributed path that scans it anyway.
    Rows come back as ``Row``s; atomic column types convert as
    ``collect()`` converts them (nested and timestamp columns would
    not)."""
    from pyspark.sql import Row

    table = df.limit(n).toArrow()
    row = Row(*table.column_names)
    return [row(*v) for v in zip(*(c.to_pylist() for c in table.columns))]


def broadcast_cap_bytes(spark, cap_bytes: int | None = None) -> int:
    """Resolve the effective cap: explicit arg > session conf > default."""
    if cap_bytes is not None:
        return int(cap_bytes)
    try:
        v = spark.conf.get(CONF_KEY, None)
    except Exception:
        v = None
    return int(v) if v else DEFAULT_CAP_BYTES


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for the optimized plan — free
    (no job).  None when unavailable (e.g. Spark Connect)."""
    try:
        jstats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(jstats.sizeInBytes()))
    except Exception:
        return None


def sampled_size_bytes(
    df: DataFrame, sample_rows: int = 2000
) -> tuple[int, int]:
    """(row_count, estimated serialized bytes) via count + head sample.
    Two small jobs; the head sample never pulls more than
    ``sample_rows`` rows to the driver."""
    import pickle

    n = df.count()
    if n == 0:
        return 0, 0
    sample = df.head(min(sample_rows, n))
    if not sample:
        return n, 0
    avg = sum(len(pickle.dumps(tuple(r))) for r in sample) / len(sample)
    return n, int(n * avg)


def fits_broadcast(
    df: DataFrame, cap_bytes: int | None = None, sample_rows: int = 2000
) -> bool:
    """True if ``df`` should be broadcast: Catalyst fast path when its
    (over)estimate already fits, sampled check otherwise."""
    cap = broadcast_cap_bytes(df.sparkSession, cap_bytes)
    est = plan_size_bytes(df)
    if est is not None and est <= cap:
        return True
    _, sampled = sampled_size_bytes(df, sample_rows)
    return sampled <= cap


def gated_broadcast(
    df: DataFrame, cap_bytes: int | None = None, sample_rows: int = 2000
) -> DataFrame:
    """``F.broadcast(df)`` under the cap, the unhinted ``df`` above it
    (Catalyst/AQE then plan a shuffle join — with AQE enabled a
    runtime-small side still converts back to broadcast from ACTUAL
    shuffle statistics, so the unhinted path is adaptive, not
    pessimistic)."""
    if fits_broadcast(df, cap_bytes, sample_rows):
        return F.broadcast(df)
    return df


def collect_under_cap(
    df: DataFrame,
    cap_bytes: int | None = None,
    sample_rows: int = 2000,
) -> list | None:
    """Collect ``df`` for driver-dict use iff it fits the cap — in ONE
    job.  A size gate followed by ``collect`` would execute the
    dimension lineage twice (and three times when Catalyst has no
    stats, e.g. localCheckpoint-backed plans — measured ~0.7 s per
    construction at fixture scale); this probe instead collects
    ``cap_rows + 1`` rows via :func:`collect_limit`, where ``cap_rows =
    cap // PY_PER_ROW_BYTES`` is the row count the cap could possibly
    admit at the per-entry overhead floor.
    Returns the rows when they fit (the caller builds its dict from
    them — no second execution), or None when the limit was hit or the
    sampled estimate exceeds the cap (caller takes the shuffle path).
    Transient driver memory is bounded by cap_rows actual rows."""
    import pickle

    cap = broadcast_cap_bytes(df.sparkSession, cap_bytes)
    # clamp to a Java int: limit() rejects larger arguments
    cap_rows = min(max(1, cap // PY_PER_ROW_BYTES), (1 << 31) - 2)
    rows = collect_limit(df, cap_rows + 1)
    if len(rows) > cap_rows:
        return None
    sample = rows[:sample_rows]
    if sample:
        avg = sum(len(pickle.dumps(tuple(r))) for r in sample) / len(sample)
        est = int(avg * len(rows)) * PY_OVERHEAD_FACTOR
        est += len(rows) * PY_PER_ROW_BYTES
        if est > cap:
            return None
    return rows
