#!/usr/bin/env python
"""Kill-and-resume end-to-end proof at scale (round-3 verdict item 4):
run the staged spark-submit pipeline over the pre-materialized corpus,
SIGKILL the whole submission mid-construction, resume it, and verify
the final canonical triple table HASH-EQUALS an uninterrupted run —
the north rule's checkpoint-resume claim, previously only unit-proven
(tests/test_pipeline_pr.py::test_resume_skips_stages at toy size).

Mechanics: run A completes untouched; run B is killed (SIGKILL to the
process group — driver JVM, Python workers, everything) once the
corpus-proportional stage is mid-flight (its output dir exists without
_SUCCESS, past a minimum file count), then resumed with the same out
dir.  The resume skips every _SUCCESS-complete stage (Pipeline._stage)
and re-runs the interrupted one from scratch (all stage writes are
mode=overwrite, so partial output is clobbered, and the canonical-table
hardlink publish re-links after its own overwrite).  Equality gate:
row count + order-insensitive xxhash64 sum over (subj, rel, obj).

Writes BENCH/kill_resume_e2e.json.

Usage: python scripts/kill_resume_e2e.py [--docs 3200000] [--cores 16]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def launch(cores: int, docs: int, out_dir: str, skew: bool):
    args = [
        os.path.join(REPO, "scripts", "submit_pipeline.sh"),
        str(cores), str(docs), "--corpus", "--no-oracle",
        "--out", out_dir, "--keep",
    ]
    if skew:
        args.append("--skew")
    return subprocess.Popen(
        args, cwd=REPO, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL, start_new_session=True,
    )


def wait_for_midstage(out_dir: str, stage: str, min_files: int, timeout: float):
    """Block until ``stage`` is mid-write: dir exists, >= min_files part
    files, no _SUCCESS.  Returns the observed file count (0 on timeout)."""
    path = os.path.join(out_dir, stage)
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return -1  # stage finished before we could strike
        n = len(glob.glob(os.path.join(path, "**", "*.parquet"),
                          recursive=True))
        n += len(glob.glob(os.path.join(path, "_temporary", "**", "part-*"),
                           recursive=True))
        if n >= min_files:
            return n
        time.sleep(0.5)
    return 0


def table_fingerprint(spark, path: str) -> dict:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).select("subj", "rel", "obj")
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("subj", "rel", "obj"), F.lit(1 << 30))).alias("h"),
    ).collect()[0]
    return {"rows": int(row["n"]), "xxhash_sum": int(row["h"])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=3200000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--skew", action="store_true")
    ap.add_argument("--kill-stage", default="mention_triples")
    ap.add_argument("--min-files", type=int, default=8)
    args = ap.parse_args()

    from netbase_spark.plans.synth_pipeline import materialize_corpus
    from netbase_spark.session import get_spark

    spark = get_spark(app="kr_corpus", cpus=args.cores,
                      extra={"spark.ui.showConsoleProgress": "false"})
    materialize_corpus(spark, args.docs, seed=42, partitions=256,
                       skew=args.skew)
    spark.stop()

    out_a, out_b = "/tmp/kr_out_a", "/tmp/kr_out_b"
    for d in (out_a, out_b):
        shutil.rmtree(d, ignore_errors=True)

    rec = {"docs": args.docs, "cores": args.cores, "skew": args.skew}

    # run A: uninterrupted
    t0 = time.monotonic()
    pa_ = launch(args.cores, args.docs, out_a, args.skew)
    rc = pa_.wait(timeout=3600)
    rec["wall_a"] = round(time.monotonic() - t0, 1)
    if rc != 0:
        raise RuntimeError(f"uninterrupted run failed rc={rc}")

    # run B: SIGKILL mid-stage, then resume
    t0 = time.monotonic()
    pb = launch(args.cores, args.docs, out_b, args.skew)
    seen = wait_for_midstage(out_b, args.kill_stage, args.min_files,
                             timeout=rec["wall_a"] * 3)
    os.killpg(os.getpgid(pb.pid), signal.SIGKILL)
    pb.wait()
    rec["killed_at_s"] = round(time.monotonic() - t0, 1)
    rec["kill_stage"] = args.kill_stage
    rec["files_at_kill"] = seen
    if seen <= 0:
        raise RuntimeError(
            f"could not catch {args.kill_stage} mid-write (seen={seen}); "
            "raise --min-files patience or pick an earlier stage"
        )
    # the interrupted stage must NOT look complete
    assert not os.path.exists(
        os.path.join(out_b, args.kill_stage, "_SUCCESS")
    ), "kill landed after stage completion — no resume work to prove"

    t0 = time.monotonic()
    pb2 = launch(args.cores, args.docs, out_b, args.skew)
    rc = pb2.wait(timeout=3600)
    rec["wall_b_resume"] = round(time.monotonic() - t0, 1)
    if rc != 0:
        raise RuntimeError(f"resumed run failed rc={rc}")

    # which stages did the resume skip?  One list per run in the
    # construction log (the killed run logged only its finished stages)
    from netbase_spark.plans.table_io import METRICS_LOG

    runs: dict[str, list] = {}
    with open(os.path.join(out_b, METRICS_LOG)) as fh:
        for line in fh:
            m = json.loads(line)
            runs.setdefault(m["run"], []).append((m["stage"], m["resumed"]))
    rec["metrics_runs"] = list(runs.values())

    spark = get_spark(app="kr_compare", cpus=args.cores,
                      extra={"spark.ui.showConsoleProgress": "false"})
    fa = table_fingerprint(spark, os.path.join(out_a, "triples"))
    fb = table_fingerprint(spark, os.path.join(out_b, "triples"))
    spark.stop()
    rec["fingerprint_a"] = fa
    rec["fingerprint_b"] = fb
    rec["hash_equal"] = fa == fb

    with open(os.path.join(REPO, "BENCH", "kill_resume_e2e.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(rec))
    if not rec["hash_equal"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
