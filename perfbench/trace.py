"""Runtime span tracer for the benchmark's traced run (``--trace 1``).

Nothing here edits the program: :meth:`Tracer.install_archive` replaces
public entry points with timing wrappers for the life of the run, and
:meth:`Tracer.uninstall` puts the originals back. A span has a name,
start, end, parent and the request or batch id of its root. Spans stay in
memory and are written once, at the end.

Spark work is attributed to the innermost open span: each span sets its
own job group on the calling thread (PySpark pins Python threads to JVM
threads, and threads the JVM starts inherit the group), and at the end
``statusTracker`` maps every group to its jobs, stages and tasks. For a
call that returns a lazy DataFrame the span measures plan build only;
execution lands in the span of the action that forces it.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

class Span:
    __slots__ = ("sid", "name", "parent", "root", "t0", "t1", "attrs")

    def __init__(self, sid, name, parent, root):
        self.sid, self.name, self.parent, self.root = sid, name, parent, root
        self.t0, self.t1, self.attrs = 0.0, None, {}

    def to_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "parent": self.parent,
                "root": self.root, "start": self.t0, "end": self.t1,
                **self.attrs}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        #: seconds spent in the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str, root: str | None = None) -> Span:
        b0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(next(self._ids), name,
                  parent.sid if parent else None,
                  root or (parent.root if parent else None))
        sp.attrs["_prev_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{sp.sid}")
        st.append(sp)
        t0 = time.perf_counter()
        with self._lock:
            self.spans.append(sp)
            self.bookkeeping_s += t0 - b0
        sp.t0 = time.perf_counter()
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self.sc.setLocalProperty("spark.jobGroup.id", sp.attrs.pop("_prev_group"))
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - sp.t1

    # -- wrappers -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name, result_attr=None, root=None):
        """Replace ``owner.attr`` with a span-recording wrapper. ``name``
        is a string or ``f(args, kwargs) -> str``; ``result_attr`` stores
        the return value (when it is an int) on the span; ``root`` makes
        each call the root of a new request/batch id."""
        target = owner.__dict__[attr]
        counter = itertools.count(1)

        @functools.wraps(target)
        def wrapper(*args, **kwargs):
            nm = name(args, kwargs) if callable(name) else name
            sp = self.open(nm, f"{root}{next(counter)}" if root else None)
            try:
                out = target(*args, **kwargs)
            finally:
                self.close(sp)
            if result_attr and isinstance(out, int):
                sp.attrs[result_attr] = out
            return out

        self._patch(owner, attr, wrapper)

    def wrap_streaming_samples(self, app_cls) -> None:
        """``ArchiveApp.samples`` returns a lazy iterator that the HTTP
        handler drains while writing chunks: the request span stays open
        until the iterator is exhausted, with the drain as a child span."""
        target = app_cls.__dict__["samples"]
        counter = itertools.count(1)
        tracer = self

        @functools.wraps(target)
        def samples(self_app, channel, query):
            sp = tracer.open("server.samples", f"r{next(counter)}")
            sp.attrs["query"] = {k: v[0] for k, v in query.items()}
            sp.attrs["channel"] = channel
            try:
                it = target(self_app, channel, query)
            except BaseException:
                tracer.close(sp)
                raise
            return tracer._drain(sp, it)

        self._patch(app_cls, "samples", samples)

    def _drain(self, sp: Span, it):
        d = self.open("server.drain")
        rows = 0
        try:
            for item in it:
                rows += 1
                yield item
        finally:
            self.close(d)
            sp.attrs["rows"] = rows
            self.close(sp)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install_archive(self) -> None:
        """Wrap the archiver's public entry points, module by module."""
        from cassandra_pv_archiver_spark import management, server
        from cassandra_pv_archiver_spark.functions import json_v1
        from cassandra_pv_archiver_spark.plans import jobs, planner
        from cassandra_pv_archiver_spark.sources import archive_store, manifest
        from cassandra_pv_archiver_spark.streaming import ingest

        self.wrap_streaming_samples(server.ArchiveApp)
        self.wrap(management.ChannelRegistry, "get_channel",
                  "management.get_channel")
        store = archive_store.ArchiveStore
        for attr, nm in (
            ("probe_stats", "archive_store.probe_stats"),
            ("read_samples", "archive_store.read_samples"),
            ("write_samples", "archive_store.write_samples"),
            ("channel_hwm", "archive_store.channel_hwm"),
            ("read_seed_state", "archive_store.seed_state"),
            ("write_seed_state", "archive_store.seed_state"),
        ):
            self.wrap(store, attr, nm)
        self.wrap(manifest.ManifestTable, "commit", "manifest.commit")
        # modules that imported a function by name hold their own
        # reference: wrap it there too
        for mod in (planner, server):
            self.wrap(mod, "plan_samples", "planner.plan_samples")
        for attr in ("raw_double_to_json", "aggregated_to_json"):
            self.wrap(json_v1, attr, "json_v1.build")
        for attr in ("decimate", "reaggregate"):
            self.wrap(jobs, attr, "operators.decimate")

        def dec_name(args, kwargs):
            period = kwargs.get("target_period_s", args[1] if len(args) > 1 else "?")
            return f"jobs.decimation.{period}"

        for mod in (jobs, ingest):
            self.wrap(mod, "incremental_decimation", dec_name,
                      result_attr="intervals")
        self.wrap(ingest, "ingest_batch", "ingest.batch", result_attr="rows",
                  root="b")

    # -- results ------------------------------------------------------------
    def resolve_spark_counts(self) -> None:
        """Attach jobs/stages/tasks run under each span's own group."""
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            jobs = tracker.getJobIdsForGroup(f"pb-{sp.sid}")
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                for s in info.stageIds:
                    si = tracker.getStageInfo(s)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            sp.attrs.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            if sp.t1 is None:
                continue
            covered = 0.0
            for iv in _union(
                (max(c.t0, sp.t0), min(c.t1 or sp.t1, sp.t1))
                for c in children.get(sp.sid, [])
            ):
                covered += iv[1] - iv[0]
            out[sp.sid] = (sp.t1 - sp.t0) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sp in self.spans:
                d = sp.to_dict()
                d["self"] = selfs.get(sp.sid)
                fh.write(json.dumps(d, default=str) + "\n")


def _union(ivs):
    out = []
    for a, b in sorted(iv for iv in ivs if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def module_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]
