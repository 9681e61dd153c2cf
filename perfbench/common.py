"""Run context, Spark session lifetime, statistics and exact counters
shared by the workloads."""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Context:
    root: str
    work: str
    results: str
    seed: int
    seconds: int
    trace: bool
    t_start: float
    #: every metric the workload measured, for the report line
    report: dict = field(default_factory=dict)
    #: gated end-to-end (trace 0) or per-layer (trace 1) metrics
    metrics: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def fail(self, problems: list[str], attempted: int = 0) -> None:
        self.attempted += attempted
        self.failed += len(problems)
        self.problems.extend(problems)

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = {"value": value, "unit": unit}


def start_spark(app: str):
    from cassandra_pv_archiver_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this Python driver and of the JVM, in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out = []
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out.append(int(line.split()[1]) / 1024.0)
    return out[0], out[1]


def put_rss(ctx: "Context", spark) -> None:
    py, jvm = peak_rss_mb(spark)
    ctx.put("peak_rss_mb", py + jvm, "MB")
    ctx.put("python_rss_mb", py, "MB")
    ctx.put("jvm_rss_mb", jvm, "MB")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """Highest whole percentile that has at least ten samples beyond it:
    ``(value, percentile, n)``; ``(max, 100, n)`` below eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return xs[-1], 100.0, n
    pct = math.floor(100.0 * (n - 10) / n)
    idx = max(0, math.ceil(pct / 100.0 * n) - 1)
    return xs[idx], float(pct), n


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    files = size = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            st = os.stat(os.path.join(dp, fn))
            files += 1
            size += st.st_size
    return files, size


def stamp(root: str) -> dict:
    """Commit (when the checkout is a git work tree), nproc and Spark
    version for the result header."""
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"commit": commit, "nproc": os.cpu_count(),
            "spark": pyspark.__version__, "python": sys.version.split()[0]}


def run_loadgen(ctx: Context, args: list[str]) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), *args],
        cwd=ctx.root, stdout=subprocess.DEVNULL,
    )


def read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def now(ctx: Context) -> float:
    return time.perf_counter() - ctx.t_start


def log(ctx: Context, msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {now(ctx):7.2f}s {msg}", file=sys.stderr, flush=True)
