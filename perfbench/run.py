#!/usr/bin/env python3
"""netbase_spark benchmark: one workload per run.

    python3 perfbench/run.py --workload construct --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the workload's seeded inputs (cached under ``.perfbench/cache``,
never timed), starts a host-sized local Spark session, sets up, measures
for ``--seconds`` seconds, checks every output, and prints a report
followed by one JSON line: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``.  All files the
run writes stay under ``.perfbench/`` at the repository root.
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
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the end-to-end metrics BENCHMARK.json bounds; the workload-named ones
# and peak_rss_gb are reported beside them
E2E = ("setup_s", "op_s", "work_per_s")


def _report(line: str) -> None:
    print(line, flush=True)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit.  The JVM does not
    wait for the Python worker daemon it forked; ``reap_children`` does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # the JVM is already gone (run terminated)
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    import eventlog
    import harness
    import layers
    import workloads
    from spans import Tracer

    t_run = time.perf_counter()
    make_inputs, runner = workloads.WORKLOADS[args.workload]
    state = os.path.join(ROOT, ".perfbench")
    for stale in glob.glob(os.path.join(state, "work-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(state, f"work-{os.getpid()}")
    os.makedirs(work)
    host = harness.host_record(ROOT)
    try:
        t0 = time.perf_counter()
        inp = make_inputs(os.path.join(state, "cache"), args.seed, harness.nproc())
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = harness.start_spark(work, trace=bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, f"r{os.getpid()}", bool(args.trace))
        try:
            sampler = harness.RssSampler(spark.sparkContext._gateway.proc.pid).start()
            calib: list[dict] = []
            ctx = SimpleNamespace(spark=spark, tracer=tracer, seconds=args.seconds,
                                  seed=args.seed, work=work, trace=bool(args.trace),
                                  calib=calib)
            result = runner(ctx, inp)
            peak_rss_gb = sampler.stop()
            app_id = spark.sparkContext.applicationId
        finally:
            tracer.unwrap_all()
            t0 = time.perf_counter()
            _stop_spark(spark)
            stop_s = time.perf_counter() - t0
        host["loadavg_after"] = harness.loadavg()

        ops = result["ops"]
        failed = sum(1 for o in ops if not o["ok"])
        timed = [o for o in ops if not o["traced"]] or ops
        op_s = harness.median([o["wall"] for o in timed])
        setup_s = session_s + harness.median(result["setup_reps"])
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_s": (op_s, "s"),
            "work_per_s": (result["work"] / sum(o["wall"] for o in ops), "1/s"),
            "peak_rss_gb": (peak_rss_gb, "GB"),
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
            "input_gen_s": gen_s,
            "session_s": session_s,
            "stop_s": stop_s,
            "check_s": result.get("check_s"),
            "run_s": time.perf_counter() - t_run,
            "setup_reps_s": result["setup_reps"],
            "ops": len(ops),
            "op_walls_s": [o["wall"] for o in ops],
            "failed": failed,
            "failed_frac": failed / len(ops),
            "work": result["work"],
            "work_unit": result["work_unit"],
            "calib": calib,
            "e2e": {k: {"value": v, "unit": u}
                    for k, (v, u) in {**e2e, **result["named"]}.items()},
            "tails": {k: {"pct": p, "value": v}
                      for k, (p, v) in result.get("tails", {}).items()},
        }
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            logs = [f for f in os.listdir(log_dir) if f.startswith(app_id)]
            rows = eventlog.digest_file(os.path.join(log_dir, logs[0]))
            record["layers"] = layers.compute(args.workload, tracer.spans, rows,
                                              result, calib)
        return record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def print_report(rec: dict) -> None:
    n = rec["ops"]
    _report(f"# workload={rec['workload']} seed={rec['seed']} trace={rec['trace']} "
            f"ops={n} failed={rec['failed']} host={json.dumps(rec['host'])}")
    _report(f"# input_gen_s={rec['input_gen_s']:.3f} session_s={rec['session_s']:.3f} "
            f"stop_s={rec['stop_s']:.3f} check_s={rec['check_s'] or 0:.3f} "
            f"run_s={rec['run_s']:.1f} "
            f"setup_reps_s={[round(x, 3) for x in rec['setup_reps_s']]} "
            f"calib={[{k: round(v, 4) for k, v in c.items()} for c in rec['calib']]}")
    for name, m in rec["e2e"].items():
        _report(f"{name} = {m['value']:.6g} {m['unit']} (median, n={n})")
    for name, t in rec["tails"].items():
        _report(f"{name}.{t['pct']} = {t['value']:.6g} s")
    _report(f"failed_frac = {rec['failed_frac']:.6g} ratio ({rec['failed']}/{n})")
    for name, v in rec.get("layers", {}).items():
        _report(f"{name} = {v:.6g}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "netbase_spark")):
        print("netbase_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # Spark's Python workers import netbase_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    import harness

    # no process this run starts outlives it, on any path out of it
    harness.become_subreaper()
    try:
        return _main(ap, args)
    finally:
        harness.reap_children()


def _main(ap, args) -> int:
    if args.selftest:
        import selftest

        return selftest.main(ROOT)

    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    rec = run(args)
    print_report(rec)
    if args.trace:
        metrics = {n: {"value": rec["layers"][n], "unit": u} for n, u in layers.PER_LAYER}
    else:
        metrics = {n: rec["e2e"][n] for n in E2E}
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["ops"],
        "failed": rec["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
