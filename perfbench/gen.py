"""Seeded input generator for the archiver benchmark.

Everything the program under test receives is written here, as parquet
files under the run's work directory, from one ``--seed``:

* ``archive(...)`` -- the history that seeds the store (bulk-loaded in
  set-up), the live micro-batch files that the ingest stream consumes,
  the channel configurations, and the exact level-0 contents the store
  must end with;
* ``catalog_tables(...)`` -- the TPC-H-like star schema plus the
  ``events`` stream table that the registry queries read.

Properties varied by the seed: per-channel update rates (spread over 2.5
decades), irregular spacing with bursts and gaps much longer than 30 s,
the share of stale and duplicate live samples, late-joining channels and
the Zipf skew of the channels clients ask for. Totals (history samples,
live samples per minute) are fixed so that run-to-run work is comparable.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = 1_000_000_000
DAY_NS = 86_400 * NS
#: 2024-03-01T00:00:00Z -- the first daily partition of the history
T0_NS = 19_783 * DAY_NS

#: decimation periods (s) of the cascade, and every stored level
CASCADE = (30, 900, 21600)
LEVELS = (0, *CASCADE)
#: level sets a channel can be configured with: ``[0]``, ``[0, 30]``, ...
LEVEL_SETS = tuple(list(LEVELS[: i + 1]) for i in range(len(LEVELS)))

SAMPLE_SCHEMA = pa.schema(
    [
        ("channel", pa.string()),
        ("t", pa.int64()),
        ("v", pa.float64()),
        ("severity", pa.int32()),
        ("status", pa.int32()),
    ]
)


@dataclass
class ArchiveSpec:
    """Sizes of one generated archive; recorded in DESIGN.md."""

    channels: int = 100
    days: int = 7
    #: channels whose history spans every day; the rest joined later
    old_channels: int = 1
    history_samples: int = 60_000
    #: channels that first report during the live phase, with no history
    late_channels: int = 4
    live_samples_per_min: int = 3_000


def _channel_name(i: int) -> str:
    return f"bench:pv{i:03d}"


def _arrivals(rng, n: int, dt_s: float) -> np.ndarray:
    """``n`` strictly increasing offsets (ns, µs-aligned) with Poisson
    spacing of mean ``dt_s``, bursts (runs at 20-200 ms) and long gaps
    (5-60 min, far beyond the 30 s level)."""
    gaps = rng.exponential(dt_s, n)
    burst = rng.random(n) < 0.03
    gaps[burst] = rng.uniform(0.02, 0.2, int(burst.sum()))
    long_gap = rng.random(n) < 0.004
    gaps[long_gap] += rng.uniform(300.0, 3600.0, int(long_gap.sum()))
    us = np.maximum(1, np.round(gaps * 1e6)).astype(np.int64)
    return np.cumsum(us) * 1000


def _values(rng, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    v = np.round(np.cumsum(rng.normal(0.0, 0.5, n)) + rng.uniform(-50, 50), 2)
    sev = rng.choice(np.array([0, 1, 2], np.int32), n, p=[0.95, 0.04, 0.01])
    return v, sev, (sev * 6).astype(np.int32)


def _table(ch: list[str], t, v, sev, st) -> pa.Table:
    return pa.table(
        {
            "channel": pa.array(ch, pa.string()),
            "t": pa.array(t, pa.int64()),
            "v": pa.array(v, pa.float64()),
            "severity": pa.array(sev, pa.int32()),
            "status": pa.array(st, pa.int32()),
        },
        schema=SAMPLE_SCHEMA,
    )


def archive(seed: int, out: str, live_files: int) -> dict:
    """Write ``history.parquet``, ``live_files`` one-minute files
    ``live/part-*.parquet``, ``live_kept.parquet`` and ``meta.json`` under
    ``out``; returns the meta dict."""
    spec = ArchiveSpec()
    rng = np.random.default_rng([seed, 1])
    os.makedirs(f"{out}/live", exist_ok=True)
    n_hist = spec.channels
    n_all = spec.channels + spec.late_channels
    names = [_channel_name(i) for i in range(n_all)]
    history_end = T0_NS + spec.days * DAY_NS - 3600 * NS  # 23:00 of day 7

    # per-channel mean interval: log-uniform over 2.5 decades, then the
    # whole rate vector is scaled so the totals are seed-independent
    dt = 10 ** rng.uniform(0.0, 2.5, n_all)
    rate = 1.0 / dt
    age_s = np.empty(n_hist)
    age_s[: spec.old_channels] = spec.days * 86_400 - 3600
    age_s[spec.old_channels:] = 10 ** rng.uniform(
        np.log10(600), np.log10(4 * 3600), n_hist - spec.old_channels
    )
    rng.shuffle(age_s)
    hist_weight = rate[:n_hist] * age_s
    hist_n = np.maximum(
        3, np.round(hist_weight / hist_weight.sum() * spec.history_samples)
    ).astype(np.int64)

    ch_parts, t_parts = [], []
    last_t = np.full(n_all, -1, np.int64)
    for c in range(n_hist):
        n = int(hist_n[c])
        span_ns = int(age_s[c] * NS)
        off = _arrivals(rng, n, age_s[c] / n)
        # squeeze into the channel's span, keeping strict order
        if off[-1] > span_ns:
            off = (off.astype(np.float64) * (span_ns / off[-1])).astype(np.int64)
            off = (off // 1000) * 1000
            off = np.maximum(off, np.arange(1, n + 1) * 1000)
        t = history_end - span_ns + off
        t = np.unique(t)
        ch_parts.append(np.full(len(t), c, np.int32))
        t_parts.append(t)
        last_t[c] = t[-1]
    ch_idx = np.concatenate(ch_parts)
    t_all = np.concatenate(t_parts)
    v, sev, st = _values(rng, len(t_all))
    history = _table([names[i] for i in ch_idx], t_all, v, sev, st)
    pq.write_table(history, f"{out}/history.parquet")

    # live minutes: every channel at its own (scaled) rate, plus stale
    # and duplicate samples and channels that join late
    stale_share = float(rng.uniform(0.01, 0.05))
    dup_share = float(rng.uniform(0.005, 0.02))
    # late channels first report in one of the live files
    join_minute = np.zeros(n_all, np.int64)
    join_minute[n_hist:] = rng.integers(0, live_files, spec.late_channels)
    live_rate = rate / rate.sum() * spec.live_samples_per_min / 60.0
    offered = stale = dups = 0
    kept_parts = []
    for k in range(live_files):
        lo = history_end + k * 60 * NS
        rows_c, rows_t = [], []
        for c in range(n_all):
            if k < join_minute[c]:
                continue
            n = rng.poisson(live_rate[c] * 60.0)
            if n == 0:
                continue
            t = lo + np.unique(rng.integers(1, 60_000_000, n)) * 1000
            rows_c.append(np.full(len(t), c, np.int32))
            rows_t.append(t)
        c_new = np.concatenate(rows_c)
        t_new = np.concatenate(rows_t)
        v_new, sev_new, st_new = _values(rng, len(t_new))
        kept_parts.append((c_new, t_new, v_new, sev_new, st_new))
        # stale: at or before the channel's last written sample
        has_past = np.flatnonzero(last_t >= 0)
        n_stale = rng.binomial(len(t_new), stale_share)
        sc = rng.choice(has_past, n_stale)
        st_t = last_t[sc] - rng.integers(0, 600_000_000, n_stale) * 1000
        sv, ssev, sst = _values(rng, n_stale)
        # duplicates: exact copies of this minute's rows
        n_dup = rng.binomial(len(t_new), dup_share)
        di = rng.choice(len(t_new), n_dup)
        fc = np.concatenate([c_new, sc, c_new[di]])
        ft = np.concatenate([t_new, st_t, t_new[di]])
        fv = np.concatenate([v_new, sv, v_new[di]])
        fsev = np.concatenate([sev_new, ssev, sev_new[di]])
        fst = np.concatenate([st_new, sst, st_new[di]])
        perm = rng.permutation(len(ft))
        # a duplicate must not precede its original (first one wins)
        order = np.concatenate([perm[perm < len(t_new)], perm[perm >= len(t_new)]])
        tab = _table([names[i] for i in fc[order]], ft[order], fv[order],
                     fsev[order], fst[order])
        pq.write_table(tab, f"{out}/live/part-{k:04d}.parquet")
        np.maximum.at(last_t, c_new, t_new)
        offered += len(ft)
        stale += n_stale
        dups += n_dup
    kc = np.concatenate([p[0] for p in kept_parts])
    live_kept = _table(
        [names[i] for i in kc],
        *[np.concatenate([p[j] for p in kept_parts]) for j in range(1, 5)],
    ).append_column("k", pa.array(np.concatenate(
        [np.full(len(p[1]), k, np.int32) for k, p in enumerate(kept_parts)]
    )))
    pq.write_table(live_kept, f"{out}/live_kept.parquet")

    # an equal share of channels per level set: the seed picks which
    # channels, not how many, so the cascade's work is comparable
    level_sets = [LEVEL_SETS[int(i) % len(LEVEL_SETS)]
                  for i in rng.permutation(n_all)]
    zipf_s = float(rng.uniform(0.8, 1.2))
    meta = {
        "seed": seed,
        "spec": dict(asdict(spec), live_files=live_files),
        "channels": names,
        "levels": {names[i]: level_sets[i] for i in range(n_all)},
        "history_start": int(T0_NS),
        "history_end": int(history_end),
        "history_rows": history.num_rows,
        "live_offered_per_file": [
            pq.ParquetFile(f"{out}/live/part-{k:04d}.parquet").metadata.num_rows
            for k in range(live_files)
        ],
        "live_offered": offered,
        "live_kept_per_file": [len(p[1]) for p in kept_parts],
        "live_stale": stale,
        "live_dups": dups,
        "zipf_s": zipf_s,
        "zipf_order": [int(i) for i in rng.permutation(n_hist)],
    }
    with open(f"{out}/meta.json", "w") as fh:
        json.dump(meta, fh)
    return meta


# -- catalog tables ---------------------------------------------------------

CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)


def catalog_tables(seed: int, out: str) -> None:
    """A TPC-H-like star schema plus the ``events`` stream table, in the
    schemas the registry queries read (one parquet file per table)."""
    users, events, orders = 50, 6_000, 15_000
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    def ts_us(lo: str, hi: str, n: int):
        a = np.datetime64(lo, "us").astype(np.int64)
        b = np.datetime64(hi, "us").astype(np.int64)
        return pa.array(rng.integers(a, b, n), pa.timestamp("us"))

    def days_us(lo: str, hi: str, n: int):
        a = np.datetime64(lo, "D").astype(np.int64)
        b = np.datetime64(hi, "D").astype(np.int64)
        d = rng.integers(a, b, n) * 86_400_000_000
        return pa.array(d, pa.timestamp("us"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part = orders // 10, max(10, orders // 150), orders // 7
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    colors = np.array(["red", "blue", "green", "small", "large", "shiny"])
    things = np.array(["widget", "anvil", "ring", "gear", "bolt"])
    types = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL",
                      "MEDIUM"])
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            colors[rng.integers(0, 6, n_part)],
            things[rng.integers(0, 5, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, orders), 2),
        "o_orderdate": days_us("1992-01-01", "1998-12-31", orders),
        "o_orderpriority": prio[rng.integers(0, 5, orders)],
    })
    n_li = orders * 4
    lk = np.sort(rng.integers(0, orders, n_li))
    # 1-based line number within each order
    first = np.r_[True, lk[1:] != lk[:-1]]
    idx = np.arange(n_li)
    linenum = (idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1).astype(
        np.int32
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days_us("1995-01-01", "2001-11-05", n_li),
    })
    etypes = np.array(["click", "signup", "error", "view", "purchase"])
    write("events", {
        "event_id": pa.array(range(events), pa.int64()),
        # January 2024, the span the registry's query bounds assume
        # (params.LO/MID/HI sit on Jan 10/15/20)
        "ts": ts_us("2024-01-01", "2024-02-01", events),
        "user_id": pa.array(rng.integers(0, users, events), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, events)],
        "value": np.round(rng.uniform(0.01, 490.0, events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, events)],
    })
