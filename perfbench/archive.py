"""The store-backed workload, ``live_archive``.

Set-up: generate the seeded archive (not counted in ``setup_s``), start
Spark, register every channel, bulk-load the history with
``write_samples`` and backfill each cascade level with
``incremental_decimation``, which also warms the session's code paths for
the cascade. Every run builds its store afresh from the seed, so every run with
one seed starts from an identical store.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

from . import gen, oracle
from .common import (Context, dir_bytes, log, median, now, put_rss, read_jsonl,
                     run_loadgen, start_spark, stop_spark, tail)
from .layers import rollup
from .trace import Tracer

#: typical wall time (s) of one micro-batch with the cascade on a 4-core
#: host; sets how many one-minute files a run ingests
BATCH_S = 30
#: channels whose stored levels are compared with the one-shot reference
SUBSET = [f"bench:pv{i:03d}" for i in range(0, 100, 10)] + [
    f"bench:pv{i:03d}" for i in range(100, 104)
]


class Archive:
    """Spark session, registry and store built from one seed."""

    def __init__(self, ctx: Context, live_files: int):
        from cassandra_pv_archiver_spark.management import (ChannelConfig,
                                                            ChannelRegistry)
        from cassandra_pv_archiver_spark.plans.jobs import incremental_decimation
        from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

        self.ctx = ctx
        self.gen_dir = f"{ctx.work}/gen"
        t0 = now(ctx)
        self.meta = gen.archive(ctx.seed, self.gen_dir, live_files)
        #: input generation time, left out of ``setup_s``
        self.gen_s = now(ctx) - t0
        log(ctx, "archive generated")
        self.spark = start_spark("perfbench")
        log(ctx, "spark started")
        self.registry = ChannelRegistry(self.spark, f"{ctx.work}/registry")
        for name, levels in self.meta["levels"].items():
            self.registry.add_channel(ChannelConfig(
                channel_name=name,
                decimation_levels={p: 0 for p in levels},
                channel_data_id=name,
            ))
        log(ctx, "channels registered")
        self.store = ArchiveStore(self.spark, f"{ctx.work}/store")
        self.store.write_samples(
            self.spark.read.parquet(f"{self.gen_dir}/history.parquet"), 0
        )
        log(ctx, "history written")
        for p in gen.CASCADE:
            incremental_decimation(self.store, p)
            log(ctx, f"level {p} backfilled")
        self.tracer = Tracer(self.spark.sparkContext) if ctx.trace else None
        self.server = None

    def serve(self) -> int:
        from cassandra_pv_archiver_spark.server import ArchiveApp, serve

        self.server = serve(ArchiveApp(self.store, self.registry))
        return self.server.server_address[1]

    def store_counters(self) -> dict[str, float]:
        """Files and bytes per level: file counts from the manifests
        (``ArchiveStore.stats``), bytes from a walk of each level's
        directory."""
        out = {}
        files = {s["level"]: s["n_files"] for s in self.store.stats()}
        for lvl in gen.LEVELS:
            out[f"archive_store.files.{lvl}"] = files.get(lvl, 0)
            out[f"archive_store.bytes.{lvl}"] = dir_bytes(
                f"{self.store.samples_path}/decimation_level={lvl}")[1]
        return out

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        stop_spark(self.spark)


def _request_stats(ctx: Context, recs: list[dict]) -> None:
    lat = [r["t1"] - r["t0"] for r in recs if r["status"] == 200]
    tv, pct, n = tail(lat)
    ctx.put("read_p50_s", median(lat), "s")
    ctx.put("read_tail_s", tv, "s")
    ctx.put("read_tail_percentile", pct, "%")
    ctx.put("read_requests", n, "count")
    if recs:
        span = max(r["t1"] for r in recs) - min(r["t0"] for r in recs)
        ctx.put("read_rps", len(lat) / span if span > 0 else 0.0, "req/s")


def _finish(ctx: Context, arc: Archive, op_latencies: list[float],
            given: dict[str, float]) -> None:
    put_rss(ctx, arc.spark)
    if ctx.trace:
        arc.tracer.resolve_spark_counts()
        ops = max(1, len(op_latencies))
        given = dict(given, **{
            "trace.op_p50_s": median(op_latencies),
            "trace.bookkeeping_s": arc.tracer.bookkeeping_s / ops,
        })
        ctx.metrics = rollup(arc.tracer, given)
        arc.tracer.write(f"{ctx.results}/spans-{ctx.report['workload']}-"
                         f"seed{ctx.seed}.jsonl")
    else:
        ctx.metrics = {
            "setup_s": ctx.report["setup_s"],
            "op_p50_s": {"value": median(op_latencies), "unit": "s"},
        }


def _http_split(tracer: Tracer, recs: list[dict]) -> dict[str, float]:
    """Client latency minus the server-side ``ArchiveApp.samples`` span,
    matched in order on the request parameters; plus response bytes."""
    spans = {}
    for s in sorted(tracer.spans, key=lambda s: s.t0):
        if s.name == "server.samples" and s.t1 is not None:
            q = s.attrs.get("query", {})
            key = (s.attrs.get("channel"), int(q.get("start", -1)),
                   int(q.get("end", -1)))
            spans.setdefault(key, []).append(s.t1 - s.t0)
    diffs = []
    for r in recs:
        ds = spans.get((r["channel"], r["start"], r["end"]))
        if ds:
            diffs.append(r["t1"] - r["t0"] - ds.pop(0))
    return {"server.http_s": median(diffs),
            "server.response_bytes": median(r["nbytes"] for r in recs)}


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def _place(arc: Archive, src: str, ks) -> None:
    """Copy live files into the stream's source directory with strictly
    increasing modification times, so the file source takes them in
    order."""
    base = time.time() - 3600
    for k in ks:
        dst = f"{src}/part-{k:04d}.parquet"
        shutil.copyfile(f"{arc.gen_dir}/live/part-{k:04d}.parquet", dst)
        os.utime(dst, (base + k, base + k))


def live_archive(ctx: Context) -> None:
    from cassandra_pv_archiver_spark.sources.archive_store import RAW_SCHEMA
    from cassandra_pv_archiver_spark.streaming.ingest import start_file_ingest

    # closed loop over one-minute files, one micro-batch each, enough to
    # fill --seconds at the typical batch time
    timed = list(range(max(1, math.ceil(ctx.seconds / BATCH_S))))
    k_last = timed[-1]
    arc = Archive(ctx, len(timed))
    try:
        src, ckpt = f"{ctx.work}/incoming", f"{ctx.work}/checkpoint"
        os.makedirs(src)
        _place(arc, src, timed)
        port = arc.serve()
        store_bytes0 = dir_bytes(arc.store.root)[1]
        ctx.put("setup_s", now(ctx) - arc.gen_s, "s")
        log(ctx, "set up")

        if arc.tracer:
            arc.tracer.install_archive()
        live_end = arc.meta["history_end"] + (k_last + 1) * 60 * gen.NS
        out, stop = f"{ctx.work}/requests.jsonl", f"{ctx.work}/stop"
        proc = run_loadgen(ctx, [
            "--port", str(port), "--meta", f"{arc.gen_dir}/meta.json",
            "--seed", str(ctx.seed), "--seconds", "170",
            "--live-end", str(live_end), "--stop-file", stop, "--out", out,
        ])
        q = start_file_ingest(
            arc.spark, src, RAW_SCHEMA, arc.store, ckpt,
            cascade_periods=gen.CASCADE, available_now=True,
            max_files_per_trigger=1,
        )
        ok = q.awaitTermination(170)
        log(ctx, "timed batches done")
        with open(stop, "w"):
            pass
        proc.wait(timeout=170)
        if arc.tracer:
            arc.tracer.uninstall()
        prog = _progress(q)
        failed_batches = len(timed) - len(prog)
        if not ok or q.exception() is not None or failed_batches:
            ctx.fail([f"ingest stream: {len(prog)}/{len(timed)} batches, "
                      f"exception={q.exception()}"])
        trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
        offered = sum(arc.meta["live_offered_per_file"][k] for k in timed)
        wall = 0.0
        if prog:
            t_first = _iso(prog[0]["timestamp"])
            t_last = _iso(prog[-1]["timestamp"]) + trig[-1]
            wall = t_last - t_first
        ctx.put("batch_p50_s", median(trig), "s")
        ctx.put("batches", len(prog), "count")
        ctx.put("samples_per_batch", offered / max(1, len(timed)), "count")
        ctx.put("ingest_samples_per_s", offered / wall if wall > 0 else 0.0,
                "samples/s")
        ctx.put("store_bytes_per_sample",
                (dir_bytes(arc.store.root)[1] - store_bytes0) / offered,
                "B/sample")
        recs = read_jsonl(out)
        _request_stats(ctx, recs)

        # -- checks ------------------------------------------------------------
        ctx.attempted += len(timed)
        kept = [arc.meta["live_kept_per_file"][k] for k in timed]
        con = oracle.connect(
            f"SELECT * FROM read_parquet('{arc.gen_dir}/history.parquet') "
            f"UNION ALL SELECT * EXCLUDE (k) FROM "
            f"read_parquet('{arc.gen_dir}/live_kept.parquet') WHERE k <= {k_last}")
        want0 = arc.meta["history_rows"] + sum(kept)
        got0 = arc.store.read_samples(0).count()
        problems = []
        if got0 != want0:
            problems.append(f"level 0 holds {got0} rows, expected {want0} "
                            f"(offered minus stale and duplicate samples)")
        cols = ("channel, t, mean, std, vmin, vmax, covered_fraction, "
                "severity, status, n_samples")
        for p in gen.CASCADE:
            got = sorted(
                tuple(r) for r in arc.store.read_samples(p, channels=SUBSET)
                .selectExpr(*cols.split(", ")).collect()
            )
            want = con.execute(
                f"SELECT {cols} FROM lvl{p} WHERE list_contains($s, channel) "
                "ORDER BY channel, t", {"s": SUBSET}).fetchall()
            problems += oracle.compare_level(f"level {p}", got, want)
        ctx.fail(problems, attempted=1 + len(gen.CASCADE))

        # a read may see any state the store passed through: the history
        # plus the first j live files
        refs = {}
        problems = []
        levels = oracle.LevelIndex(con, {r["channel"] for r in recs})
        for r in recs:
            key = (r["channel"], r["start"], r["end"])
            if key not in refs:
                refs[key] = [
                    oracle.limit_mode_raw(
                        con, *key,
                        table=f"(SELECT * FROM raw WHERE t <= {cut})")
                    for cut in (arc.meta["history_end"] + j * 60 * gen.NS
                                for j in range(len(timed) + 1))
                ]
            problems += oracle.check_response(
                r, refs[key], levels, set(arc.meta["levels"][r["channel"]]) - {0})
        ctx.fail(problems, attempted=len(recs))
        con.close()
        given = arc.store_counters()
        given["streaming.overhead_s"] = median(
            (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0))
            / 1000.0 for p in prog)
        if arc.tracer:
            given.update(_http_split(arc.tracer, recs))
            written = sum(s.attrs.get("rows", 0) for s in arc.tracer.spans
                          if s.name == "ingest.batch")
            given["ingest.kept_ratio"] = written / offered
        _finish(ctx, arc, trig, given)
    finally:
        arc.close()


def _iso(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
