"""Host record, host-sized Spark session, calibration probe, RSS
sampler, child reaping, sample statistics and the Spark-side
fingerprint."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """A quarter of the host's RAM, capped at 4 GB: the driver JVM also
    hosts the executors in local mode, and the Python workers live
    outside its heap."""
    return max(1, min(4, mem_total_bytes() // (4 << 30)))


def loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_record(root: str) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_bytes": mem_total_bytes(),
        "loadavg_before": loadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "git_sha": git_sha(root),
    }


def start_spark(work: str, trace: bool):
    """Host-sized local session; every file Spark writes stays under
    ``work``.  The traced run also writes an uncompressed event log to
    ``<work>/eventlog``."""
    from netbase_spark.session import get_spark

    cpus = nproc()
    # the environment variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "-XX:-UsePerfData -Dio.netty.tryReflectionSetAccessible=true "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        extra.update({
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app="perfbench", cpus=cpus, shuffle_partitions=max(cpus, 8),
        driver_memory=f"{driver_memory_gb()}g", extra=extra,
    )


def calibrate(spark) -> dict:
    """A fixed Spark job and a fixed pure-Python loop: their times move
    with host weather and not with this repository's code."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, numPartitions=nproc()).selectExpr(
        "sum(hash(id)) as h"
    ).collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    t2 = time.perf_counter()
    return {"spark_job_s": t1 - t0, "py_loop_s": t2 - t1}


def _proc_stats():
    """(pid, parent pid, resident pages) of every process, from /proc."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        yield int(name), int(fields[1]), int(fields[21])


class RssSampler:
    """Peak RSS of the driver JVM plus every process below it (the
    Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for pid, ppid, pages in _proc_stats():
            children.setdefault(ppid, []).append(pid)
            rss[pid] = pages * self._page
        total = 0
        todo = [self.jvm_pid]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes / 1e9


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant of this process (Linux
    PR_SET_CHILD_SUBREAPER), e.g. the Python worker daemon the JVM
    forked, so that ``reap_children`` can wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until every child (adopted orphans included) has exited;
    SIGKILL whatever is still running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            me = os.getpid()
            for pid in [p for p, ppid, _ in _proc_stats() if ppid == me]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def median(xs) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return (s[n // 2] + s[(n - 1) // 2]) / 2


def tail(xs) -> tuple[str, float]:
    """The highest of p99.9/p99/p95/p90/p75/p50 that has at least ten
    samples beyond it, or the maximum when there are fewer than twenty
    samples (then no percentile above the median has ten beyond it)."""
    s = sorted(xs)
    n = len(s)
    for q in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - q / 100) >= 10:
            return f"p{q:g}", s[min(n - 1, int(q / 100 * n))]
    return "max", s[-1]


def fingerprint_aggs(cols) -> list:
    """Aggregates ``n`` and ``h``: the Spark twin of inputs.fingerprint
    over ``cols``."""
    from pyspark.sql import functions as F

    key = F.concat_ws("\t", *[F.col(c).cast("string") for c in cols])
    return [F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.crc32(key.cast("binary"))), F.lit(0)).alias("h")]


def spark_fingerprint(df, cols) -> tuple[int, int]:
    """inputs.fingerprint of ``df`` over ``cols``, in one job."""
    r = df.agg(*fingerprint_aggs(cols)).collect()[0]
    return int(r["n"]), int(r["h"])


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) of regular files under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files
