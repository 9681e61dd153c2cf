"""Per-layer metrics of the traced run, rolled up from the spans.

Every workload reports the full list (:func:`names`), so a layer that a
workload leaves idle reads 0 there. Times are medians per request (spans
under one ``server.samples`` root) or per micro-batch (spans under one
``ingest.batch`` root); ``self.<module>_s`` is the run's total self time.
"""

from __future__ import annotations

from collections import defaultdict

from .common import median
from .gen import CASCADE, LEVELS
from .trace import Tracer, module_of

MODULES = ("server", "management", "archive_store", "manifest", "planner",
           "jobs", "operators", "json_v1", "ingest", "catalog")
#: registry queries of the catalog_batch workload, in pass order
CATALOG_QUERIES = (
    "decimate_1h", "asof_pair_align", "range_limit_modes", "tpch_q1",
)


def names() -> list[tuple[str, str]]:
    out = [
        ("server.samples_s", "s"), ("server.http_s", "s"),
        ("server.drain_s", "s"), ("server.response_rows", "count"),
        ("server.response_bytes", "B"),
        ("management.get_channel_s", "s"),
        ("archive_store.probe_stats_s", "s"),
        ("archive_store.probe_stats_jobs", "count"),
        ("archive_store.read_samples_s", "s"),
        ("archive_store.write_samples_s", "s"),
        ("archive_store.channel_hwm_s", "s"),
        ("archive_store.seed_state_s", "s"),
        ("manifest.commit_s", "s"), ("manifest.commits_per_batch", "count"),
    ]
    for lvl in LEVELS:
        out += [(f"archive_store.files.{lvl}", "count"),
                (f"archive_store.bytes.{lvl}", "B")]
    out.append(("planner.plan_samples_s", "s"))
    for p in CASCADE:
        out += [(f"jobs.decimation_s.{p}", "s"),
                (f"jobs.decimation_jobs.{p}", "count"),
                (f"jobs.intervals.{p}", "count")]
    out += [
        ("json_v1.build_s", "s"),
        ("ingest.batch_self_s", "s"), ("ingest.jobs_per_batch", "count"),
        ("ingest.kept_ratio", "ratio"), ("streaming.overhead_s", "s"),
    ]
    for q in CATALOG_QUERIES:
        out += [(f"catalog.{q}_s", "s"), (f"catalog.{q}_jobs", "count")]
    out += [
        ("spark.jobs_per_request", "count"), ("spark.tasks_per_request", "count"),
        ("spark.jobs_per_batch", "count"), ("spark.tasks_per_batch", "count"),
    ]
    out += [(f"self.{m}_s", "s") for m in MODULES]
    out += [("trace.op_p50_s", "s"), ("trace.bookkeeping_s", "s")]
    return out


def rollup(tracer: Tracer, given: dict[str, float]) -> dict[str, dict]:
    """All per-layer metrics; ``given`` supplies the ones measured by the
    workload itself (store counters, progress-derived, client-side)."""
    spans = [s for s in tracer.spans if s.t1 is not None]
    dur = {s.sid: s.t1 - s.t0 for s in spans}
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids[x.sid])
        return out

    def jobs(ss):
        return sum(x.attrs.get("jobs", 0) for x in ss)

    def tasks(ss):
        return sum(x.attrs.get("tasks", 0) for x in ss)

    val: dict[str, float] = defaultdict(float)
    roots = defaultdict(list)
    for s in spans:
        if s.root is not None:
            roots[s.root].append(s)

    def per_root(prefix: str, fn):
        return median(fn(ss) for r, ss in roots.items() if r.startswith(prefix))

    def total(ss, name):
        return sum(dur[x.sid] for x in ss if x.name == name)

    # -- requests ------------------------------------------------------------
    reqs = [s for s in spans if s.name == "server.samples"]
    if reqs:
        val["server.samples_s"] = median(dur[s.sid] for s in reqs)
        val["server.response_rows"] = median(s.attrs.get("rows", 0) for s in reqs)
        val["server.drain_s"] = per_root("r", lambda ss: total(ss, "server.drain"))
        for name, metric in (
            ("management.get_channel", "management.get_channel_s"),
            ("archive_store.probe_stats", "archive_store.probe_stats_s"),
            ("archive_store.read_samples", "archive_store.read_samples_s"),
            ("planner.plan_samples", "planner.plan_samples_s"),
            ("json_v1.build", "json_v1.build_s"),
        ):
            val[metric] = per_root("r", lambda ss, n=name: total(ss, n))
        val["archive_store.probe_stats_jobs"] = per_root(
            "r", lambda ss: jobs(x for x in ss if x.name == "archive_store.probe_stats"))
        val["spark.jobs_per_request"] = per_root("r", jobs)
        val["spark.tasks_per_request"] = per_root("r", tasks)

    # -- micro-batches -------------------------------------------------------
    batches = [s for s in spans if s.name == "ingest.batch"]
    if batches:
        for name, metric in (
            ("archive_store.write_samples", "archive_store.write_samples_s"),
            ("archive_store.channel_hwm", "archive_store.channel_hwm_s"),
            ("archive_store.seed_state", "archive_store.seed_state_s"),
            ("manifest.commit", "manifest.commit_s"),
        ):
            val[metric] = per_root("b", lambda ss, n=name: total(ss, n))
        val["manifest.commits_per_batch"] = per_root(
            "b", lambda ss: sum(1 for x in ss if x.name == "manifest.commit"))
        for p in CASCADE:
            nm = f"jobs.decimation.{p}"
            val[f"jobs.decimation_s.{p}"] = per_root("b", lambda ss, n=nm: total(ss, n))
            val[f"jobs.decimation_jobs.{p}"] = per_root(
                "b", lambda ss, n=nm: sum(jobs(subtree(x)) for x in ss if x.name == n))
            val[f"jobs.intervals.{p}"] = per_root(
                "b", lambda ss, n=nm: sum(x.attrs.get("intervals", 0)
                                          for x in ss if x.name == n))

        def self_batch(ss):
            b = next(x for x in ss if x.name == "ingest.batch")
            cascade = [x for x in ss if x.name.startswith("jobs.decimation.")
                       and x.parent == b.sid]
            inner = {y.sid for c in cascade for y in subtree(c)}
            return (dur[b.sid] - sum(dur[c.sid] for c in cascade),
                    jobs(x for x in ss if x.sid not in inner))

        val["ingest.batch_self_s"] = per_root("b", lambda ss: self_batch(ss)[0])
        val["ingest.jobs_per_batch"] = per_root("b", lambda ss: self_batch(ss)[1])
        val["spark.jobs_per_batch"] = per_root("b", jobs)
        val["spark.tasks_per_batch"] = per_root("b", tasks)

    # -- catalog queries -----------------------------------------------------
    for q in CATALOG_QUERIES:
        qs = [s for s in spans if s.name == f"catalog.{q}"]
        if qs:
            val[f"catalog.{q}_s"] = median(dur[s.sid] for s in qs)
            val[f"catalog.{q}_jobs"] = median(jobs(subtree(s)) for s in qs)

    selfs = tracer.self_times()
    for s in spans:
        val[f"self.{module_of(s.name)}_s"] += selfs.get(s.sid, 0.0)

    val.update(given)
    return {name: {"value": float(val.get(name, 0.0)), "unit": unit}
            for name, unit in names()}
