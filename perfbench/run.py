"""Archiver benchmark: one command per workload run.

    python3 perfbench/run.py --workload live_archive --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads:

* ``live_archive`` -- the file ingest stream with the decimation cascade,
  back to back, beside 1 closed-loop HTTP reader;
* ``catalog_batch`` -- one sequential stream of registry queries.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run wraps the program's public entry points at
runtime and the last line carries the per-layer metrics, while the spans
go to ``.perfbench_results/``. The line before it is a report with every
metric the workload measured, by name and unit, and a stamp (commit,
nproc, Spark version). Failed output checks show in ``failed`` and in
``failed_ratio``; each one is printed to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("live_archive", "catalog_batch")


def _environment(root: str, work: str) -> None:
    """Pin Spark to this host's cores, keep every scratch file inside the
    checkout, and let Python workers import the package."""
    local = f"{work}/spark-local"
    tmp = f"{work}/tmp"
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "pyspark-shell"
    )
    # DuckDB's allocator otherwise keeps every mapping it ever made
    # (see tools/check_oracles.py)
    os.environ.setdefault("MALLOC_CONF", "retain:false")
    sys.path.insert(0, root)


def main() -> int:
    ap = argparse.ArgumentParser(description="archiver benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cassandra_pv_archiver_spark")):
        print("perfbench: run from the repository root; the package "
              "cassandra_pv_archiver_spark/ is missing", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _environment(root, work)

    from perfbench.common import Context, stamp

    ctx = Context(root=root, work=work,
                  results=os.path.join(root, ".perfbench_results"),
                  seed=args.seed, seconds=args.seconds,
                  trace=bool(args.trace), t_start=T_START)
    os.makedirs(ctx.results, exist_ok=True)
    ctx.report["workload"] = args.workload
    try:
        if args.workload == "catalog_batch":
            from perfbench.catalog import catalog_batch as run
        else:
            from perfbench.archive import live_archive as run
        run(ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in ctx.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    attempted = max(1, ctx.attempted)
    ctx.put("failed_ratio", ctx.failed / attempted, "fraction")
    report = {"report": ctx.report, "stamp": stamp(root), "trace": args.trace}
    print(json.dumps(report))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": attempted,
        "failed": ctx.failed,
        "metrics": ctx.metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
