"""``catalog_batch``: one fixed list of registry queries, run sequentially
over seeded tables, each fully materialized.

The timed action writes every output column, in delivery order, to
Spark's ``noop`` sink -- not ``count()``, which lets Catalyst prune the
columns and skip most of the work. After each timed query the
invocation-scoped caches are drained and the loop waits until the block
manager has released them. The untimed warm-up pass collects every
output; after the timed passes those outputs are checked against the
queries' DuckDB oracles with ``tools/check_oracles.compare``. Neither the
input generation nor the checks count in ``setup_s``.
"""

from __future__ import annotations

import time

from . import gen
from .common import Context, log, median, now, put_rss, start_spark, stop_spark
from .layers import CATALOG_QUERIES, rollup
from .trace import Tracer

#: untimed noop passes after the checked warm-up pass
WARM_PASSES = 1


def _rdd_blocks(sc) -> int:
    """Cached RDD blocks the block manager master reports."""
    status = sc._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    return sum(s.rddBlocks().size() for s in status.getStorageStatus())


def _drain(sc, before: int) -> None:
    """Drain the invocation-scoped caches, then wait until their blocks
    are released (``cache_scope.drain`` unpersists without blocking)."""
    from cassandra_pv_archiver_spark import cache_scope

    cache_scope.drain()
    deadline = time.monotonic() + 10
    while _rdd_blocks(sc) > before and time.monotonic() < deadline:
        time.sleep(0.01)


def _noop_pass(ctx: Context, spark, sf: str, base: int, tracer,
               tag: str) -> float:
    """One pass over the query list, each query written to the ``noop``
    sink; returns the summed query time, cache drains left out."""
    from cassandra_pv_archiver_spark.registry import REGISTRY

    total = 0.0
    for name in CATALOG_QUERIES:
        sp = tracer.open(f"catalog.{name}", tag) if tracer else None
        t0 = time.perf_counter()
        try:
            REGISTRY[name][0](spark, sf).write.format("noop").mode(
                "overwrite").save()
        except Exception as e:  # noqa: BLE001 - reported as a failure
            ctx.fail([f"{name}: {type(e).__name__}: {e}"])
        total += time.perf_counter() - t0
        if sp:
            tracer.close(sp)
        ctx.attempted += 1
        _drain(spark.sparkContext, base)
    return total


def catalog_batch(ctx: Context) -> None:
    import duckdb

    from cassandra_pv_archiver_spark.registry import REGISTRY
    from tools.check_oracles import compare

    sf = f"{ctx.work}/tables"
    t0 = now(ctx)
    gen.catalog_tables(ctx.seed, sf)
    gen_s = now(ctx) - t0
    spark = start_spark("perfbench")
    sc = spark.sparkContext
    try:
        base = _rdd_blocks(sc)
        # untimed warm-up pass; its outputs are checked after the timed ones
        outputs, problems = {}, []
        for name in CATALOG_QUERIES:
            try:
                outputs[name] = REGISTRY[name][0](spark, sf).toPandas()
            except Exception as e:  # noqa: BLE001 - reported as a failure
                problems.append(f"{name}: {type(e).__name__}: {e}")
            _drain(sc, base)
        # the JVM keeps compiling hot code for several passes: more
        # untimed noop passes, so the timed ones start from a settled JIT
        for _ in range(WARM_PASSES):
            _noop_pass(ctx, spark, sf, base, None, "w")
        ctx.put("setup_s", now(ctx) - gen_s, "s")
        log(ctx, "warm-up passes done")

        tracer = Tracer(sc) if ctx.trace else None
        passes: list[float] = []
        deadline = time.perf_counter() + ctx.seconds
        while len(passes) < 2 or time.perf_counter() < deadline:
            passes.append(_noop_pass(ctx, spark, sf, base, tracer,
                                     f"q{len(passes)}"))
            log(ctx, f"pass {len(passes)}: {passes[-1]:.3f} s")
        log(ctx, "timed passes done")

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in gen.CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name, got in outputs.items():
            problems += [f"{name}: {p}" for p in
                         compare(name, got, con.sql(REGISTRY[name][1]).df())]
        con.close()
        ctx.fail(problems, attempted=len(CATALOG_QUERIES))
        ctx.put("catalog_pass_s", median(passes), "s")
        ctx.put("catalog_passes", len(passes), "count")
        put_rss(ctx, spark)
        if tracer:
            tracer.resolve_spark_counts()
            ctx.metrics = rollup(tracer, {
                "trace.op_p50_s": median(passes),
                "trace.bookkeeping_s": tracer.bookkeeping_s / len(passes),
            })
            tracer.write(f"{ctx.results}/spans-catalog_batch-seed{ctx.seed}.jsonl")
        else:
            ctx.metrics = {
                "setup_s": ctx.report["setup_s"],
                "op_p50_s": {"value": median(passes), "unit": "s"},
            }
    finally:
        stop_spark(spark)
