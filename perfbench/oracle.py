"""Output checks, run outside the timed windows.

Every check returns a list of problem strings; an empty list is a pass.
References are computed with DuckDB from the generated inputs, never from
the program's own output:

* raw responses -- limit-mode semantics over the raw samples: one row at
  or before ``start``, every row in range, one row at or after ``end``;
* decimated rows of a response and the levels the store holds -- the
  repository's DuckDB decimation SQL
  (``catalog._dec_ctes`` and ``_reagg_ctes``), run one-shot over the
  final raw data, so incremental decimation must equal one-shot
  decimation;
* level-0 row count -- samples offered minus the generator's known stale
  and duplicate samples.
"""

from __future__ import annotations

import json
import math

import duckdb

from cassandra_pv_archiver_spark.catalog import _dec_ctes, _reagg_ctes
from cassandra_pv_archiver_spark.functions.json_v1 import STATUS_LABELS

from .gen import CASCADE

SEVERITY = {0: "OK", 1: "MINOR", 2: "MAJOR"}
#: decimated means are compared with this relative tolerance: the store's
#: levels are built incrementally, the reference one-shot, and the order
#: of the floating-point sums may differ
REL_TOL = 1e-9


def _label(status: int) -> str:
    return STATUS_LABELS[status] if 0 <= status < len(STATUS_LABELS) else str(status)


def _same(a: float, b: float) -> bool:
    return a == b or math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def connect(raw_sql: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with table ``raw(channel, t, v, severity,
    status)`` built from ``raw_sql`` and one table ``lvl<p>`` per cascade
    level: the first decimates the raw data, each next one re-aggregates
    the level before it."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE raw AS {raw_sql}")
    src = "raw"
    for p in CASCADE:
        ctes = (_dec_ctes(p, src=src, out="x") if src == "raw"
                else _reagg_ctes(p, src=src, out="x"))
        con.execute(f"CREATE TABLE lvl{p} AS WITH {ctes} SELECT * FROM x")
        src = f"lvl{p}"
    return con


def limit_mode_raw(con, channel: str, start: int, end: int,
                   table: str = "raw") -> list[tuple]:
    return con.execute(
        f"""
        WITH c AS (SELECT t, v, severity, status FROM {table} WHERE channel = $ch),
        b AS (SELECT coalesce((SELECT max(t) FROM c WHERE t <= $s), $s) AS lo,
                     coalesce((SELECT min(t) FROM c WHERE t >= $e), $e) AS hi)
        SELECT t, v, severity, status FROM c, b
        WHERE t BETWEEN lo AND hi ORDER BY t
        """,
        {"ch": channel, "s": start, "e": end},
    ).fetchall()


class LevelIndex:
    """(channel, t) -> decimated rows of every cascade level."""

    def __init__(self, con, channels: set[str]):
        self.rows: dict[tuple[str, int], list[tuple]] = {}
        for period in CASCADE:
            for ch, t, mean, vmin, vmax, sev, st in con.execute(
                f"SELECT channel, t, mean, vmin, vmax, severity, status "
                f"FROM lvl{period} WHERE list_contains($chs, channel)",
                {"chs": sorted(channels)},
            ).fetchall():
                self.rows.setdefault((ch, t), []).append(
                    (period, mean, vmin, vmax, sev, st)
                )

    def match(self, ch: str, item: dict, periods: set[int]) -> bool:
        for period, mean, vmin, vmax, sev, st in self.rows.get((ch, item["time"]), []):
            if (period in periods and _same(item["value"][0], mean)
                    and item["minimum"] == vmin and item["maximum"] == vmax
                    and item["severity"]["level"] == SEVERITY.get(sev, "INVALID")
                    and item["status"] == _label(st)):
                return True
        return False


def _raw_tuple(item: dict) -> tuple:
    return (item["time"], item["value"][0], item["severity"]["level"],
            item["status"])


def _expect_tuple(row: tuple) -> tuple:
    t, v, sev, st = row
    return (t, v, SEVERITY.get(sev, "INVALID"), _label(st))


def check_response(rec: dict, expected_raw: list[list[tuple]],
                   levels: LevelIndex, periods: set[int]) -> list[str]:
    """One HTTP response: status 200, strictly increasing times, raw rows
    equal to one of ``expected_raw`` (limit-mode references, one per store
    state) and every decimated row present in one of the channel's
    configured levels (``periods``) of the reference. Decimated rows
    appear where the planner fills the part of the window that the raw
    level does not reach back to from a coarser level."""
    tag = f"{rec['channel']} [{rec['start']},{rec['end']}]"
    if rec["status"] != 200:
        return [f"{tag}: HTTP {rec['status']}: {rec['body'][:200]}"]
    try:
        items = json.loads(rec["body"])
    except ValueError as e:
        return [f"{tag}: body is not JSON ({e})"]
    times = [it["time"] for it in items]
    if any(b <= a for a, b in zip(times, times[1:])):
        return [f"{tag}: times not strictly increasing"]
    raw = [_raw_tuple(it) for it in items if it["type"] == "double"]
    dec = [it for it in items if it["type"] != "double"]
    problems = []
    cands = [[_expect_tuple(r) for r in rows] for rows in expected_raw]
    if raw not in cands:
        problems.append(
            f"{tag}: {len(raw)} raw rows differ from the limit-mode reference "
            f"({[len(c) for c in cands]} rows)")
    bad = [it["time"] for it in dec if not levels.match(rec["channel"], it, periods)]
    if bad:
        problems.append(f"{tag}: {len(bad)} decimated rows not in the reference, "
                        f"first t={bad[0]}")
    return problems


def compare_level(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Store level rows vs reference rows, both as sorted tuples of
    ``(channel, t, mean, std, vmin, vmax, covered_fraction, severity,
    status, n_samples)``."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, reference {len(want)}"]
    for g, w in zip(got, want):
        if g[:2] != w[:2] or g[7:] != w[7:] or not all(
            _same(a, b) for a, b in zip(g[2:7], w[2:7])
        ):
            return [f"{name}: first difference at {g[:2]}: {g} vs {w}"]
    return []
