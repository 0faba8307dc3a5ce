"""Structured Streaming windowed aggregation: watermarks bound state and
survive a checkpoint restart.  The full construction stream is covered
by tests/test_streaming_construct.py."""

from __future__ import annotations

import pathlib


def test_watermark_drops_late_rows(spark, tmp_path: pathlib.Path):
    """Watermarked windowed counts: a window is emitted once the
    watermark passes its end, and a row arriving LATER than the
    watermark bound never updates it (bounded state; the checkpoint
    carries the watermark across restarts)."""
    import datetime as dt

    from netbase_spark.streaming.windows import start_windowed_counts

    landing = tmp_path / "events"
    out = tmp_path / "win_out"
    ckpt = tmp_path / "win_ckpt"

    def write(rows):
        spark.createDataFrame(
            [(u, dt.datetime(2026, 1, 1, h, m), a) for u, h, m, a in rows],
            "user_id long, ts timestamp, action string",
        ).write.mode("append").parquet(str(landing))

    # batch 1: three events in [10:00, 10:05) + one at 11:00 that pushes
    # the watermark (11:00 - 10min = 10:50) past that window's end
    write([(1, 10, 0, "a"), (1, 10, 2, "a"), (2, 10, 4, "a"), (9, 11, 0, "a")])
    q = start_windowed_counts(spark, str(landing), str(out), str(ckpt),
                              minutes=5, watermark_minutes=10)
    q.awaitTermination(120)
    first = {
        (r["win_start"].isoformat(), r["n"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert ("2026-01-01T10:00:00", 3) in first  # window finalized

    # batch 2 (restart from checkpoint): a LATE event for the closed
    # window + a fresh one advancing the clock
    write([(3, 10, 1, "late"), (9, 11, 30, "a")])
    q2 = start_windowed_counts(spark, str(landing), str(out), str(ckpt),
                               minutes=5, watermark_minutes=10)
    q2.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    counts_10 = [r["n"] for r in rows if r["win_start"].isoformat() == "2026-01-01T10:00:00"]
    assert counts_10 == [3]  # late row dropped, window not re-emitted
