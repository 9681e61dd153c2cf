"""The closure-gated decimation cascade.

An edge runs only when some channel can close a target window, and its
hwm/seed metadata is driver-resident. These tests pin that the gate
never changes what the levels hold — after every micro-batch each
level equals one-shot decimation of the data ingested so far, over the
whole signed int64 ns domain — that a crash-orphaned source row is
delayed at most, never lost, and that an edge which cannot close a
window runs at most two Spark jobs (none on a cached metadata version).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import shutil
import tempfile

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_pv_archiver_spark.operators.decimate import (
    NS,
    decimate,
    reaggregate,
)
from cassandra_pv_archiver_spark.plans.jobs import (
    can_close_window,
    incremental_decimation,
)
from cassandra_pv_archiver_spark.sources.archive_store import (
    RAW_SCHEMA,
    ArchiveStore,
)
from cassandra_pv_archiver_spark.sources.manifest import ManifestTable
from cassandra_pv_archiver_spark.streaming.ingest import ingest_batch

PERIODS = [2, 10, 60]
COLS = ("channel", "t", "mean", "std", "vmin", "vmax", "covered_fraction",
        "severity", "status", "n_samples")
#: room left at both ends of int64 for the series span and the window
#: arithmetic ((w + 2)·P must stay representable)
MARGIN = 10**13
I64 = 2**63


def _by_level(frames):
    """``{period: sorted rows}`` of one (period, frame) list, in one job."""
    union = functools.reduce(DataFrame.unionByName, [
        df.select(F.lit(p).alias("_level"), *COLS) for p, df in frames
    ])
    out = {p: [] for p, _ in frames}
    for r in union.collect():
        out[r[0]].append(tuple(r[1:]))
    return {p: sorted(v) for p, v in out.items()}


def _one_shot(spark, rows):
    """Each cascade level decimated in one shot from ``rows``."""
    raw = spark.createDataFrame(rows, RAW_SCHEMA)
    frames, src, src_p = [], None, None
    for p in PERIODS:
        src = decimate(raw, p) if src is None else reaggregate(src, src_p, p)
        frames.append((p, src))
        src_p = p
    return _by_level(frames)


def _levels(store):
    return _by_level([(p, store.read_samples(p)) for p in PERIODS])


@contextlib.contextmanager
def _fresh_store(spark):
    root = tempfile.mkdtemp(prefix="cascade_gate_")
    try:
        yield ArchiveStore(spark, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contextlib.contextmanager
def _count_jobs(spark, name):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", name)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(name))


# -- the gate itself -------------------------------------------------------

def test_gate_closure_arithmetic_is_exact_over_int64():
    p = 60 * NS
    lo, hi = -I64, I64 - 1

    def gate(hwm, src, seed_min=None, lwm=None):
        return can_close_window(p, hwm, src, seed_min or {}, lwm or {})

    # target hwm h: the next window [h + P, h + 2P) closes at h + 2P
    assert gate({"c": lo}, {"c": lo + 2 * p})
    assert not gate({"c": lo}, {"c": lo + 2 * p - 1})
    h = hi - hi % p - 2 * p
    assert gate({"c": h}, {"c": h + 2 * p})
    # no target hwm: the first window starts at floor(min t / P)·P,
    # which for pre-1970 ns is BELOW the truncated quotient
    assert gate({}, {"c": 0}, seed_min={"c": -1})
    assert not gate({}, {"c": -1}, seed_min={"c": -1})
    assert gate({}, {"c": lo - lo % p + p}, seed_min={"c": lo})
    # never seeded: the source low-water mark bounds the first window
    assert not gate({}, {"c": 3 * p - 1}, lwm={"c": 2 * p})
    assert gate({}, {"c": 3 * p}, lwm={"c": 2 * p})
    assert gate({}, {"c": 3 * p - 1}, lwm={"c": 2 * p - 1})
    # the seed minimum wins over the (looser) low-water mark
    assert not gate({}, {"c": 3 * p - 1}, seed_min={"c": 2 * p},
                    lwm={"c": 0})
    # neither known: the channel must run; no source channel never does
    assert gate({}, {"c": lo}, lwm={"c": None})
    assert not gate({"c": 0}, {}, seed_min={"c": 0})


# -- cascade equals one-shot after every micro-batch -----------------------

@st.composite
def _batches(draw):
    """1-6 micro-batches of a two-channel raw series starting anywhere in
    the signed int64 domain; a batch may end exactly on, or 1 ns before,
    a window end of one of the cascade periods."""
    t = draw(st.integers(-I64 + MARGIN, I64 - MARGIN))
    vals = st.integers(-10_000, 10_000).map(lambda v: v / 100)
    # sampling steps up to 1 s let a batch close exactly one 2 s window;
    # up to 25 s, several windows of every level
    step = draw(st.sampled_from([1, 5, 25])) * NS
    batches = []
    for _ in range(draw(st.integers(1, 6))):
        rows = []
        for _ in range(draw(st.integers(1, 6))):
            t += draw(st.integers(1, step))
            rows.append((draw(st.sampled_from("AB")), t, draw(vals), 0, 0))
        end = draw(st.sampled_from(["free", "on", "before"]))
        if end != "free":
            p = draw(st.sampled_from(PERIODS)) * NS
            e = (t // p + 1) * p
            t = e if end == "on" else (e - 1 if e - 1 > t else e + p - 1)
            rows.append((draw(st.sampled_from("AB")), t, draw(vals), 0, 0))
        batches.append(rows)
    return batches


def _pre_1970_boundaries():
    t0 = -10**18 - (-10**18) % (60 * NS)  # a 60 s window start
    return [
        [("A", t0 + k * 7 * NS, float(k), 0, 0) for k in range(9)],
        [("B", t0 + 70 * NS, 1.5, 0, 0), ("A", t0 + 120 * NS, 2.0, 0, 0)],
        [("A", t0 + 180 * NS - 1, 3.0, 0, 0), ("B", t0 + 190 * NS, 4.0, 0, 0)],
    ]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@example(batches=_pre_1970_boundaries())
# one sample per second: every other batch closes exactly one more 2 s
# window, the case a gate off by one period would skip
@example(batches=[[("A", k * NS, float(k), 0, 0)] for k in range(1, 7)])
# B's first sample 1 ns before a 2 s window end: its first 2 s interval
# covers 5e-10 of the window, which quantizes to a zero 10 s weight
@example(batches=[
    [("A", 9_085_954_536, -54.66, 0, 0), ("A", 10_000_000_000, -69.02, 0, 0)],
    [("A", 10_000_036_548, -69.02, 0, 0), ("B", 59_999_999_999, 0.0, 0, 0)],
    [("A", 82_207_800_570, 0.0, 0, 0), ("A", 82_207_800_571, 0.0, 0, 0),
     ("B", 82_207_800_572, 0.0, 0, 0)],
])
@given(batches=_batches())
def test_cascade_equals_one_shot_after_every_batch(spark, batches):
    with _fresh_store(spark) as store:
        seen = []
        for rows in batches:
            ingest_batch(store, spark.createDataFrame(rows, RAW_SCHEMA),
                         cascade_periods=PERIODS)
            seen += rows
            assert _levels(store) == _one_shot(spark, seen)


# -- crash replay: delayed, never lost -------------------------------------

def test_crash_orphaned_source_row_is_delayed_never_lost(spark):
    """Level 10's data commit lands but its hwm commit does not. The
    replayed batch cannot show the orphaned rows to the 60 s edge's gate
    (level 60 may lag, holding only correct rows); the next append moves
    the level-10 hwm past them and level 60 catches up exactly."""
    t0 = -10**18 - (-10**18) % (60 * NS)
    parts = [range(0, 130), range(130, 250), range(250, 370)]
    batches = [[("A", t0 + s * NS, float(s % 7), 0, 0) for s in r]
               for r in parts]
    with _fresh_store(spark) as store:
        ingest_batch(store, spark.createDataFrame(batches[0], RAW_SCHEMA),
                     cascade_periods=PERIODS)
        real = store._update_channel_hwm
        crashed = []

        def crash_on_level_10(batch, level):
            if level == 10 and not crashed:
                crashed.append(level)
                raise RuntimeError("crash between data and hwm commit")
            return real(batch, level)

        store._update_channel_hwm = crash_on_level_10
        b2 = spark.createDataFrame(batches[1], RAW_SCHEMA)
        try:
            ingest_batch(store, b2, cascade_periods=PERIODS)
        except RuntimeError:
            pass
        finally:
            store._update_channel_hwm = real
        assert crashed
        ingest_batch(store, b2, cascade_periods=PERIODS)  # the replay
        want = _one_shot(spark, batches[0] + batches[1])
        got = _levels(store)
        assert got[2] == want[2] and got[10] == want[10]
        assert set(got[60]) <= set(want[60])

        ingest_batch(store, spark.createDataFrame(batches[2], RAW_SCHEMA),
                     cascade_periods=PERIODS)
        assert _levels(store) == _one_shot(spark, list(
            itertools.chain.from_iterable(batches)))


# -- job budget of an edge that cannot close a window ----------------------

def test_idle_edge_runs_at_most_two_jobs(spark):
    t0 = 10**15 - 10**15 % (60 * NS)
    # 0 s .. 135 s closes the 60 s window [60 s, 120 s); 136 s .. 175 s
    # closes 2 s and 10 s windows up to 170 s, but [120 s, 180 s) stays open
    first = [("A", t0 + s * NS, float(s % 5), 0, 0) for s in range(0, 136)]
    second = [("A", t0 + s * NS, 1.0, 0, 0) for s in range(136, 176)]
    with _fresh_store(spark) as store:
        ingest_batch(store, spark.createDataFrame(first, RAW_SCHEMA),
                     cascade_periods=PERIODS)
        ingest_batch(store, spark.createDataFrame(second, RAW_SCHEMA),
                     cascade_periods=PERIODS[:2])
        with _count_jobs(spark, "gate-idle-edge") as jobs:
            assert incremental_decimation(store, 60) == 0
        assert len(jobs) <= 2, jobs  # its own seeds are a new version
        with _count_jobs(spark, "gate-idle-edge-cached") as jobs:
            assert incremental_decimation(store, 60) == 0
        assert jobs == []
        assert _levels(store) == _one_shot(spark, first + second)


def test_legacy_seed_table_with_idle_tag_still_reads(spark):
    """Seed tables written by older cascades have no schema header and
    carry the retired ``_src_hwm`` idle-run tag: they still read (by
    inference), the tag is dropped, and the cascade stays exact."""
    t0 = -(10**17) - (-(10**17)) % (60 * NS)
    first = [("A", t0 + s * NS, float(s % 3), 0, 0) for s in range(0, 30)]
    second = [("A", t0 + s * NS, float(s % 4), 0, 0) for s in range(30, 50)]
    with _fresh_store(spark) as store:
        ingest_batch(store, spark.createDataFrame(first, RAW_SCHEMA),
                     cascade_periods=PERIODS[:2])
        legacy = store.read_seed_state(10).withColumn(
            "_src_hwm", F.lit(t0).cast("long"))
        root = store._seed_table(10).root
        shutil.rmtree(root)
        table = ManifestTable(spark, root)
        stage = table.stage_dir()
        legacy.coalesce(1).write.parquet(stage)
        table.publish_stage(stage)
        assert table.header() is None

        seeds = store.read_seed_state(10)
        assert "_src_hwm" not in seeds.columns
        assert set(store.seed_values(10)["_src_level"]) == {2}
        ingest_batch(store, spark.createDataFrame(second, RAW_SCHEMA),
                     cascade_periods=PERIODS[:2])
        want = _one_shot(spark, first + second)
        got = _by_level([(p, store.read_samples(p)) for p in PERIODS[:2]])
        assert got == {p: want[p] for p in PERIODS[:2]}
