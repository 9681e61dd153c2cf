"""Distribution statistics: exact per-group quantiles.

Discrete (type-1) quantiles — the value at row ceil(q·n) of the sorted
group — NOT interpolated: picking an existing value keeps the result
bit-identical across engines (no order-sensitive float interpolation)
and is what you want for threshold selection anyway ("drop the bottom
quartile" needs an attained value). One shuffle on the group key; the
per-group sort is a window, so skewed groups are the scale limit — the
sketch-based :func:`group_approx_quantiles` is the giant-stratum path
(exact below its accuracy, rank error ≤ 1/accuracy above it).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_discrete_quantiles(
    df: DataFrame,
    key_col: str,
    val_col: str,
    qs: Sequence[float],
    tiebreak_col: str,
) -> DataFrame:
    """Exact q-quantiles of ``val_col`` per ``key_col`` group.

    ``tiebreak_col`` makes the sort total so the selected row is unique
    and deterministic. Returns (key_col, q, q_value) with one row per
    (group, q).
    """
    w = Window.partitionBy(key_col).orderBy(val_col, tiebreak_col)
    r = df.select(
        key_col,
        F.col(val_col).alias("q_value"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(key_col)).alias("_n"),
    )
    qdf = df.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    return (
        r.join(
            F.broadcast(qdf),
            # round before ceil: IEEE products like 0.07*100 =
            # 7.000000000000001 would otherwise overshoot to row 8; the
            # 9-decimal round strips float noise identically on both
            # engines (the oracle mirrors it)
            F.col("_rn") == F.ceil(F.round(F.col("q") * F.col("_n"), 9)),
        )
        .select(key_col, "q", "q_value")
    )


def group_approx_quantiles(
    df: DataFrame,
    key_col: str,
    val_col: str,
    qs: Sequence[float],
    accuracy: int = 100_000,
) -> DataFrame:
    """Sketch-based per-group quantiles — the 100 TB path for
    :func:`group_discrete_quantiles`.

    ``approx_percentile`` aggregates a Greenwald-Khanna sketch with
    map-side partial combine: ONE hash aggregation, no per-group window
    sort — so a skewed stratum (one language carrying half the corpus)
    costs a bounded-size sketch merge instead of a single-task sort of
    half the data. Guarantees: rank error ≤ 1/accuracy of the group size
    (1e-5 by default); for groups SMALLER than ``accuracy`` the sketch
    retains every value and the result is EXACT (verified equal to the
    exact discrete quantiles at test scale — the rank convention,
    value at row ceil(q·n), matches both the exact operator and DuckDB's
    ``quantile_disc``, boundary cases probed in tests). Returns
    (key_col, q, q_value), one row per (group, q).
    """
    qlist = ", ".join(repr(float(q)) for q in qs)
    agg = F.expr(
        f"approx_percentile({val_col}, array({qlist}), {accuracy})"
    ).alias("_qv")
    qdf = df.sparkSession.createDataFrame(
        [(i, float(q)) for i, q in enumerate(qs)], "_i int, q double"
    )
    return (
        df.groupBy(key_col)
        .agg(agg)
        .join(F.broadcast(qdf))
        .select(key_col, "q", F.expr("_qv[_i]").alias("q_value"))
    )


def exact_corr(
    df: DataFrame, x_col: str, y_col: str, alias: str
) -> "DataFrame":
    """Exact distributed Pearson correlation of two INTEGER columns.

    Naive ``corr()`` accumulates float moments whose value depends on
    partition/merge order — unusable when results must be bit-stable
    across cluster sizes (or hash-checked against an oracle). Here the
    five moments (Σx, Σy, Σxy, Σx², Σy²) are exact DECIMAL(38,0) sums
    (order-insensitive), the numerator/denominator combine in exact
    decimal arithmetic, and only the final three values convert to
    double — via the ``big_to_double`` decomposition, correctly rounded
    on any IEEE engine — before one division and two sqrts in fixed
    order. One map-side-combined aggregation; no second pass over the
    data (the n·Σxy − Σx·Σy form needs no pre-computed means).
    """
    from .decimate import big_to_double

    # 19-digit inputs keep every product within Spark's DECIMAL(38)
    # cap (19+19+1 -> 38) so no silent precision loss can occur
    d = df.select(
        F.expr(f"CAST({x_col} AS DECIMAL(19,0))").alias("_x"),
        F.expr(f"CAST({y_col} AS DECIMAL(19,0))").alias("_y"),
    )
    m = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.expr("_x * _y")).alias("_sxy"),
        F.sum(F.expr("_x * _x")).alias("_sxx"),
        F.sum(F.expr("_y * _y")).alias("_syy"),
    )
    num = big_to_double("CAST(_n * _sxy - _sx * _sy AS DECIMAL(38,0))")
    dx = big_to_double("CAST(_n * _sxx - _sx * _sx AS DECIMAL(38,0))")
    dy = big_to_double("CAST(_n * _syy - _sy * _sy AS DECIMAL(38,0))")
    # zero-variance guard (a CONSTANT series): Pearson r is undefined and
    # under Spark's default ANSI mode the division THROWS — emit NULL,
    # the SQL corr() convention, via an exact decimal zero test
    zero = (
        "(_n * _sxx - _sx * _sx = 0 OR _n * _syy - _sy * _sy = 0)"
    )
    return m.select(
        F.expr(
            f"CASE WHEN {zero} THEN CAST(NULL AS DOUBLE)"
            f" ELSE ({num}) / (sqrt({dx}) * sqrt({dy})) END"
        ).alias(alias)
    )


def sql_exact_corr(table: str, x_col: str, y_col: str, alias: str) -> str:
    """DuckDB mirror of :func:`exact_corr` (HUGEINT moments)."""
    from .decimate import big_to_double_duck

    num = big_to_double_duck("(n_ * sxy - sx * sy)")
    dx = big_to_double_duck("(n_ * sxx - sx * sx)")
    dy = big_to_double_duck("(n_ * syy - sy * sy)")
    zero = "(n_ * sxx - sx * sx = 0 OR n_ * syy - sy * sy = 0)"
    return f"""
(SELECT CASE WHEN {zero} THEN CAST(NULL AS DOUBLE)
        ELSE ({num}) / (sqrt({dx}) * sqrt({dy})) END AS {alias} FROM (
  SELECT CAST(count(*) AS HUGEINT) AS n_,
         sum(CAST({x_col} AS HUGEINT)) AS sx,
         sum(CAST({y_col} AS HUGEINT)) AS sy,
         sum(CAST({x_col} AS HUGEINT) * CAST({y_col} AS HUGEINT)) AS sxy,
         sum(CAST({x_col} AS HUGEINT) * CAST({x_col} AS HUGEINT)) AS sxx,
         sum(CAST({y_col} AS HUGEINT) * CAST({y_col} AS HUGEINT)) AS syy
  FROM {table}))
"""


def aligned_channel_correlations(
    samples: DataFrame,
    channels: list[str],
    v_decimals: int = 2,
    key: str = "channel",
) -> DataFrame:
    """Correlation matrix over as-of-ALIGNED channels — the reference
    UI's correlation-plot primitive (`ArchiveAccessServiceImpl.java:
    756-813` boundary semantics), N-way and exact.

    Channels sample at unrelated times, so correlating raw rows is
    meaningless; each channel is first held forward onto the UNION time
    grid of all requested channels (J1 at-or-before semantics at every
    grid point). Construction, one pass:

      1. grid = distinct sample timestamps of the requested channels ×
         the channel list (broadcast — N is a user query parameter, not
         data-sized);
      2. one ``last(v) IGNORE NULLS`` window per channel over the grid
         (the same union-merge hold-forward as :func:`asof.asof_align`,
         N-way);
      3. pivot to one row per grid timestamp (drop leading rows where
         any channel has no sample yet);
      4. ONE aggregation computes every pairwise Pearson: values
         quantize to exact ints (``floor(v·10^d + 0.5)``, the engine's
         decimation convention), moments are exact DECIMAL(38,0) sums
         (order-insensitive — bit-stable at any parallelism), and only
         the final r converts to double via ``big_to_double``.

    Scale: grid rows = N × distinct-ts; the window partitions per
    channel (bounded by the query's time range, as the reference's
    correlation plots are); the moment aggregation is one map-side-
    combined pass. Returns (ch_a, ch_b, r, n_points) for a < b.
    """
    from .decimate import big_to_double

    vs = 10 ** v_decimals
    s = samples.filter(F.col(key).isin(channels)).select(
        key, "t", F.expr(f"CAST(floor(v * {vs} + 0.5) AS DECIMAL(19,0))").alias("_vi")
    )
    grid = s.select("t").distinct()
    chans = samples.sparkSession.createDataFrame(
        [(c,) for c in channels], f"{key} string"
    )
    g = grid.crossJoin(F.broadcast(chans))
    u = g.join(s, [key, "t"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    held = u.select(
        key, "t", F.last("_vi", ignorenulls=True).over(w).alias("_h")
    )
    cols = {
        c: F.max(F.when(F.col(key) == c, F.col("_h"))).alias(f"_c{i}")
        for i, c in enumerate(channels)
    }
    # a requested channel with ZERO rows would NULL its pivot column on
    # every grid row and na.drop() would silently empty the whole matrix —
    # fail loudly instead (almost always a typo'd channel name)
    present = {r[key] for r in s.select(key).distinct().collect()}
    missing = [c for c in channels if c not in present]
    if missing and len(missing) < len(channels):
        # SOME channels have data and some do not: almost always a typo'd
        # name, and the pivot would silently drop every row — fail loudly.
        # (ALL channels empty = an empty store / over-narrow range: the
        # F4 convention applies and the empty result falls through.)
        raise ValueError(
            f"channels with no samples in range: {missing} — the pivoted "
            "matrix would silently drop every row"
        )
    mat = (
        held.groupBy("t")
        .agg(*cols.values())
        .na.drop()  # leading grid points before some channel's first sample
    )
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("_n")]
    for i in range(len(channels)):
        aggs.append(F.sum(f"_c{i}").alias(f"_s{i}"))
        aggs.append(F.sum(F.expr(f"_c{i} * _c{i}")).alias(f"_q{i}"))
    for i in range(len(channels)):
        for j in range(i + 1, len(channels)):
            aggs.append(F.sum(F.expr(f"_c{i} * _c{j}")).alias(f"_x{i}_{j}"))
    m = mat.agg(*aggs)
    n_ch = len(channels)
    # Fold the moment columns into arrays and expand pairs through a
    # broadcast (i, j, pair) index table, so the Pearson arithmetic below
    # is ONE generic expression regardless of N. The previous form inlined
    # the full CASE/sqrt/big_to_double chain once PER PAIR inside a single
    # explode — an O(N^2)-sized generated method that janino refuses to
    # compile beyond ~7 channels (the BENCH_r03 codegen-fallback trace),
    # silently dropping the stage to interpreted execution.
    marr = m.select(
        "_n",
        F.array(*[F.col(f"_s{i}") for i in range(n_ch)]).alias("_sa"),
        F.array(*[F.col(f"_q{i}") for i in range(n_ch)]).alias("_qa"),
        F.array(
            *[
                F.col(f"_x{i}_{j}")
                for i in range(n_ch)
                for j in range(i + 1, n_ch)
            ]
        ).alias("_xa"),
    )
    pair_rows = []
    for i in range(n_ch):
        for j in range(i + 1, n_ch):
            # 1-based indices: element_at
            pair_rows.append((channels[i], channels[j], i + 1, j + 1,
                              len(pair_rows) + 1))
    pairs = samples.sparkSession.createDataFrame(
        pair_rows, "ch_a string, ch_b string, _i int, _j int, _p int"
    )
    # one moment row x the pair-index literal: a broadcast nested-loop of
    # 1 x N(N-1)/2 rows (same tiny-literal pattern as the grid x channel
    # crossJoin above) — never data-sized
    e = marr.crossJoin(F.broadcast(pairs))
    si, sj = "element_at(_sa, _i)", "element_at(_sa, _j)"
    qi, qj = "element_at(_qa, _i)", "element_at(_qa, _j)"
    xij = "element_at(_xa, _p)"
    num = big_to_double(f"CAST(_n * {xij} - {si} * {sj} AS DECIMAL(38,0))")
    dx = big_to_double(f"CAST(_n * {qi} - {si} * {si} AS DECIMAL(38,0))")
    dy = big_to_double(f"CAST(_n * {qj} - {sj} * {sj} AS DECIMAL(38,0))")
    zero = (
        f"(_n * {qi} - {si} * {si} = 0"
        f" OR _n * {qj} - {sj} * {sj} = 0)"
    )
    return (
        e.select(
            "ch_a",
            "ch_b",
            F.expr(
                f"CASE WHEN {zero} THEN CAST(NULL AS DOUBLE)"
                f" ELSE ({num}) / (sqrt({dx}) * sqrt({dy})) END"
            ).alias("r"),
            F.col("_n").cast("long").alias("n_points"),
        )
        # Pearson is undefined below 2 aligned points: emit nothing
        # (not a null-r row) for an empty/degenerate grid
        .filter(F.col("n_points") >= 2)
    )


def threshold_crossings(samples: DataFrame) -> DataFrame:
    """Alarm-limit threshold crossings per channel (the EPICS limit-alarm
    analog — the reference carries warn/alarm limits in display metadata,
    `ChannelAccessSampleValueAccess.java:98-132`): the limit is the
    channel's (min+max)/2 midpoint, and every upward/downward crossing
    is detected via a lag window.

    100 TB shape: the unbounded min/max window, the lag window, and the
    per-channel aggregation all reuse one hash(channel) partitioning —
    one data exchange total when the input arrives channel-hashed (the
    sample load's layout; audit-pinned like channel_gap_stats).

    Input: (channel, t, v). Returns per channel: thr, n_up, n_down,
    t_first_cross, t_last_cross (nulls when no crossing).
    """
    wch = Window.partitionBy("channel")
    wt = Window.partitionBy("channel").orderBy("t")
    thr = (F.min("v").over(wch) + F.max("v").over(wch)) / 2
    d = (
        samples.withColumn("thr", thr)
        .withColumn("v_prev", F.lag("v").over(wt))
    )
    has_prev = F.col("v_prev").isNotNull()
    up = has_prev & (F.col("v_prev") < F.col("thr")) & (F.col("v") >= F.col("thr"))
    down = has_prev & (F.col("v_prev") >= F.col("thr")) & (F.col("v") < F.col("thr"))
    cross = up | down
    return d.groupBy("channel").agg(
        F.max("thr").alias("thr"),
        F.sum(up.cast("long")).alias("n_up"),
        F.sum(down.cast("long")).alias("n_down"),
        F.min(F.when(cross, F.col("t"))).alias("t_first_cross"),
        F.max(F.when(cross, F.col("t"))).alias("t_last_cross"),
    )


def lagged_channel_correlation(
    samples: DataFrame,
    ch_a: str,
    ch_b: str,
    period_s: int,
    lags_s: Sequence[int],
    v_decimals: int = 2,
) -> DataFrame:
    """Lead/lag cross-correlation between two channels — "does B follow
    A, and by how much?", the next question after the correlation matrix
    (:func:`aligned_channel_correlations`) says two PVs co-move.

    Both channels are held forward onto ONE regular ``period_s`` grid
    (J1 at-or-before semantics at every grid point — the same
    construction as the matrix, but a regular grid so that shifting by a
    lag maps grid points onto grid points exactly). For each lag L,
    ``r(L) = corr(a(t), b(t+L))`` — positive L with max r means B trails
    A by L seconds. The shifted pairing is a ``lead``/``lag`` window over
    the pivoted grid (a lag of L seconds IS a row offset of L/period on a
    regular grid — no self-join, no cached intermediate); moments are
    exact DECIMAL(38,0) sums per lag, so every r is bit-stable at any
    parallelism. Returns (lag_s, r, n_points), lags with < 2 aligned
    points omitted.
    """
    from .decimate import NS, big_to_double

    bad_lags = [l for l in lags_s if int(l) % period_s != 0]
    if bad_lags:
        raise ValueError(
            f"lags {bad_lags} are not multiples of period_s={period_s}; "
            "a non-grid lag can never pair grid points and would silently "
            "produce no row for that lag"
        )
    vs = 10 ** v_decimals
    p_ns = period_s * NS
    s = samples.filter(F.col("channel").isin([ch_a, ch_b])).select(
        "channel",
        "t",
        F.expr(f"CAST(floor(v * {vs} + 0.5) AS DECIMAL(19,0))").alias("_vi"),
    )
    # aligned grid spanning [ceil(min t), floor(max t)] — built
    # distributed from the 1-row bounds agg (empty input -> empty grid)
    # guard: a span with no aligned point inside makes start > stop,
    # which sequence() rejects (the oracle's generate_series returns
    # empty) — emit an empty grid instead; NULL bounds (empty input)
    # fall through to the empty branch the same way
    grid = (
        s.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
        .select(
            F.explode(
                F.expr(
                    f"CASE WHEN lo + pmod(-lo, {p_ns})"
                    f"          <= hi - pmod(hi, {p_ns})"
                    f" THEN sequence(lo + pmod(-lo, {p_ns}),"
                    f"               hi - pmod(hi, {p_ns}), {p_ns})"
                    f" ELSE array() END"
                )
            ).alias("t")
        )
    )
    chans = samples.sparkSession.createDataFrame(
        [(ch_a,), (ch_b,)], "channel string"
    )
    gc = grid.crossJoin(F.broadcast(chans))
    rows = s.withColumn("_g", F.lit(0)).unionByName(
        gc.select(
            "channel",
            "t",
            F.lit(None).cast("decimal(19,0)").alias("_vi"),
            F.lit(1).alias("_g"),
        )
    )
    # grid row at an exact sample timestamp sorts AFTER the sample
    # (t, _g) so last-ignorenulls picks the sample's value up
    w = (
        Window.partitionBy("channel")
        .orderBy("t", "_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    held = rows.select(
        "channel",
        "t",
        "_g",
        F.last("_vi", ignorenulls=True).over(w).alias("_h"),
    ).filter(F.col("_g") == 1)
    # Pivot both channels onto one row per grid point, then express every
    # lag as a lead/lag WINDOW over the grid: the grid is regular and the
    # lags are multiples of its period (checked above), so shifting by L
    # is exactly a row offset of L/period — no self-join of the two
    # series, hence nothing to persist/checkpoint (the round-3 persist
    # leaked CacheManager blocks per invocation, ADVICE r3) and one
    # window pass instead of two branches over the held subtree. The
    # no-partition window is bounded: grid rows = query range / grid
    # period, a correlation-plot parameter, never data-sized.
    g = held.groupBy("t").agg(
        F.max(F.when(F.col("channel") == ch_a, F.col("_h"))).alias("_va"),
        F.max(F.when(F.col("channel") == ch_b, F.col("_h"))).alias("_vb"),
    )
    wg = Window.orderBy("t")
    shift_cols = []
    for idx, l in enumerate(lags_s):
        k = int(l) // period_s
        c = F.lead("_vb", k).over(wg) if k >= 0 else F.lag("_vb", -k).over(wg)
        shift_cols.append(c.alias(f"_b{idx}"))
    shifted = g.select("_va", *shift_cols)
    pairs = shifted.select(
        "_va",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(l)).alias("lag_s"),
                        F.col(f"_b{idx}").alias("_vb"),
                    )
                    for idx, l in enumerate(lags_s)
                ]
            )
        ).alias("_p"),
    ).select(
        "_va", F.col("_p.lag_s").alias("lag_s"), F.col("_p._vb").alias("_vb")
    ).filter(F.col("_va").isNotNull() & F.col("_vb").isNotNull())
    m = pairs.groupBy("lag_s").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum("_va").alias("_sx"),
        F.sum("_vb").alias("_sy"),
        F.sum(F.expr("_va * _vb")).alias("_sxy"),
        F.sum(F.expr("_va * _va")).alias("_sxx"),
        F.sum(F.expr("_vb * _vb")).alias("_syy"),
    )
    num = big_to_double("CAST(_n * _sxy - _sx * _sy AS DECIMAL(38,0))")
    dx = big_to_double("CAST(_n * _sxx - _sx * _sx AS DECIMAL(38,0))")
    dy = big_to_double("CAST(_n * _syy - _sy * _sy AS DECIMAL(38,0))")
    zero = "(_n * _sxx - _sx * _sx = 0 OR _n * _syy - _sy * _sy = 0)"
    return (
        m.select(
            F.col("lag_s").cast("long").alias("lag_s"),
            F.expr(
                f"CASE WHEN {zero} THEN CAST(NULL AS DOUBLE)"
                f" ELSE ({num}) / (sqrt({dx}) * sqrt({dy})) END"
            ).alias("r"),
            F.col("_n").cast("long").alias("n_points"),
        )
        .filter(F.col("n_points") >= 2)
    )


def cusum_alarms(samples: DataFrame, lam: int = 8) -> DataFrame:
    """Exact one-sided CUSUM changepoint alarms per channel.

    The textbook recursion C_t = max(0, C_{t-1} + (x_t - mean)) is not a
    window function, but its closed form is: with P_t = prefix-sum of
    deviations, C_t = P_t - min_{j<=t} P_j (and the downward side is
    running-max - P_t). Both prefix aggregates ARE window functions, so
    the whole detector stays declarative — no applyInPandas, no
    per-channel driver loop.

    Everything is integer-exact: values scale to vi = floor(v*100+0.5),
    the deviation is d_t = n*vi - S (n, S = per-channel count/sum, so
    d is n*(x_t - mean) with no division), prefix sums accumulate in
    DECIMAL(38,0) (order-insensitive), and the alarm rule
    ``C_t * n > lam * A`` (A = sum|d|) compares C against ``lam`` mean
    absolute deviations with exact integer cross-multiplication — the
    oracle reproduces every comparison bit-for-bit in HUGEINT.

    100 TB shape: ONE hash(channel) exchange feeds all four windows
    (the unordered n/S/A windows and the ordered prefix windows share
    the partitioning) and the final per-channel aggregation reuses it;
    channels are independent, so the plan is embarrassingly parallel
    across executors and the per-channel sort is the only superlinear
    term. A constant channel has A = 0 and never alarms.

    Returns: channel, n_samples, n_pos_alarms, n_neg_alarms,
    first_alarm_t (nullable), max_pos_dev, max_neg_dev (double,
    in value units: C / (n * 100)).
    """
    from .decimate import big_to_double

    wc = Window.partitionBy("channel")
    wo = (
        Window.partitionBy("channel")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        samples.select(
            "channel",
            "t",
            F.expr("CAST(floor(v * 100 + 0.5) AS DECIMAL(19,0))").alias("_vi"),
        )
        .withColumn("_n", F.count(F.lit(1)).over(wc).cast("decimal(19,0)"))
        .withColumn("_s", F.sum("_vi").over(wc))
        .withColumn(
            "_d", F.expr("CAST(_n * _vi - _s AS DECIMAL(38,0))")
        )
        .withColumn("_a", F.sum(F.abs(F.col("_d"))).over(wc))
        .withColumn("_p", F.sum("_d").over(wo))
        # the running min/max must include the EMPTY prefix (P_{-1} = 0):
        # C_t = P_t - min(0, min_{j<=t} P_j) is the exact closed form of
        # max(0, C_{t-1} + d_t); without the 0 anchor a series whose
        # prefix sums start positive under-reports the excursion
        # (hypothesis counterexample: vals=[0, -1])
        .withColumn("_cpos", F.expr(
            "_p - least(min(_p) OVER (PARTITION BY channel ORDER BY t),"
            " CAST(0 AS DECIMAL(38,0)))"))
        .withColumn("_cneg", F.expr(
            "greatest(max(_p) OVER (PARTITION BY channel ORDER BY t),"
            " CAST(0 AS DECIMAL(38,0))) - _p"))
    )
    alarm_pos = F.expr(f"_cpos * _n > {lam} * _a")
    alarm_neg = F.expr(f"_cneg * _n > {lam} * _a")
    mx = big_to_double("CAST(max(_cpos) AS DECIMAL(38,0))")
    mn = big_to_double("CAST(max(_cneg) AS DECIMAL(38,0))")
    return (
        d.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(alarm_pos.cast("long")).alias("n_pos_alarms"),
            F.sum(alarm_neg.cast("long")).alias("n_neg_alarms"),
            F.min(
                F.when(alarm_pos | alarm_neg, F.col("t"))
            ).alias("first_alarm_t"),
            F.expr(
                f"({mx}) / (CAST(max(_n) AS DOUBLE) * 100.0)"
            ).alias("max_pos_dev"),
            F.expr(
                f"({mn}) / (CAST(max(_n) AS DOUBLE) * 100.0)"
            ).alias("max_neg_dev"),
        )
        .orderBy("channel")
    )


def distribution_drift(samples: DataFrame, n_bins: int = 20) -> DataFrame:
    """Per-channel distribution drift between the first and second half
    of the channel's time range, as exact total-variation distance over
    a shared equal-width histogram.

    TVD = 1/2 Σ|a_i/Na - b_i/Nb| is the drift metric that stays
    integer-exact: the per-bin term cross-multiplies to
    |a_i*Nb - b_i*Na| (BIGINT), the Σ is order-insensitive, and only
    the final value divides by 2*Na*Nb (one ``big_to_double`` divide) —
    unlike PSI/KL, no per-bin log whose float summation order would
    break the cross-engine hash. Bins are the value_histogram
    construction (fixed IEEE expression tree over the channel's own
    min/max), the half-split is the integer midpoint of the channel's
    time range (ties to the second half).

    100 TB shape: one bounds aggregation broadcast back over one scan,
    then all reductions are over (channel × bins) rows — thousands,
    regardless of input size. A channel entirely inside one half (or a
    constant-time channel) yields NULL tvd rather than a division error.

    Returns: channel, n_first, n_second, tvd.
    """
    from .decimate import big_to_double

    s = samples.select("channel", "t", "v")
    bounds = s.groupBy("channel").agg(
        F.min("v").alias("_lo"),
        F.max("v").alias("_hi"),
        F.min("t").alias("_tlo"),
        F.max("t").alias("_thi"),
    )
    binned = (
        s.join(F.broadcast(bounds), "channel")
        .withColumn(
            "_bin",
            F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(n_bins - 1),
                    F.floor(
                        (F.col("v") - F.col("_lo"))
                        / (F.col("_hi") - F.col("_lo"))
                        * n_bins
                    ),
                )
            )
            .cast("int"),
        )
        .withColumn(
            "_first", (F.col("t") * 2 < F.col("_tlo") + F.col("_thi")).cast("int")
        )
    )
    per_bin = binned.groupBy("channel", "_bin").agg(
        F.sum("_first").cast("decimal(19,0)").alias("_a"),
        F.sum(F.expr("1 - _first")).cast("decimal(19,0)").alias("_b"),
    )
    wc = Window.partitionBy("channel")
    per_bin = per_bin.withColumn("_na", F.sum("_a").over(wc)).withColumn(
        "_nb", F.sum("_b").over(wc)
    )
    num = big_to_double(
        "CAST(sum(abs(_a * _nb - _b * _na)) AS DECIMAL(38,0))"
    )
    den = big_to_double("CAST(2 * max(_na) * max(_nb) AS DECIMAL(38,0))")
    return (
        per_bin.groupBy("channel")
        .agg(
            F.max("_na").cast("long").alias("n_first"),
            F.max("_nb").cast("long").alias("n_second"),
            F.expr(
                "CASE WHEN max(_na) = 0 OR max(_nb) = 0"
                " THEN CAST(NULL AS DOUBLE)"
                f" ELSE ({num}) / ({den}) END"
            ).alias("tvd"),
        )
        .orderBy("channel")
    )


def sax_motifs(
    samples: DataFrame,
    period_ns: int,
    n_symbols: int = 4,
    word_len: int = 3,
) -> DataFrame:
    """SAX-style symbolic motif discovery per channel (Lin et al.,
    "A Symbolic Representation of Time Series", DMKD 2007 — the public
    SAX/PAA construction): PAA-reduce each channel to per-window means,
    quantize each mean into ``n_symbols`` equal-width bins over the
    channel's own mean range, and report the most frequent word of
    ``word_len`` CONSECUTIVE window symbols.

    Engine-portability: the window mean converts once through
    ``big_to_double`` (exact DECIMAL sum of scaled-int values) and the
    bin is the value_histogram fixed IEEE expression tree, so symbols —
    and therefore words and counts — are bit-identical on any engine.
    Consecutiveness is enforced on the window INDEX (lead(win) == win+k),
    so gaps in sparse channels never fabricate words. Top word per
    channel picks min(struct(-count, word)) — a total order, stable on
    any cluster.

    100 TB shape: one hash(channel) exchange for the PAA aggregation;
    the lead() windows and the word count ride the same partitioning
    (word count keys on (channel, word) but data per channel has already
    collapsed to windows — thousands of rows — so the second exchange
    moves near-nothing).

    Returns: channel, motif, n_occurrences, n_windows.
    """
    from .decimate import big_to_double

    p = int(period_ns)
    win_expr = f"CAST((t - ((t % {p} + {p}) % {p})) AS BIGINT) div {p}"
    paa = (
        samples.select(
            "channel",
            F.expr(win_expr).alias("win"),
            F.expr("CAST(floor(v * 100 + 0.5) AS DECIMAL(19,0))").alias("_vi"),
        )
        .groupBy("channel", "win")
        .agg(
            F.sum("_vi").alias("_sv"),
            F.count(F.lit(1)).alias("_c"),
        )
        .withColumn(
            "_m",
            F.expr(
                f"({big_to_double('CAST(_sv AS DECIMAL(38,0))')})"
                " / CAST(_c AS DOUBLE)"
            ),
        )
    )
    bounds = paa.groupBy("channel").agg(
        F.min("_m").alias("_lo"), F.max("_m").alias("_hi")
    )
    sym = paa.join(F.broadcast(bounds), "channel").withColumn(
        "_sym",
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_symbols - 1),
                F.floor(
                    (F.col("_m") - F.col("_lo"))
                    / (F.col("_hi") - F.col("_lo"))
                    * n_symbols
                ),
            )
        )
        .cast("int"),
    )
    wo = Window.partitionBy("channel").orderBy("win")
    parts = [F.col("_sym").cast("string")]
    cond = F.lit(True)
    for k in range(1, word_len):
        parts.append(F.lead("_sym", k).over(wo).cast("string"))
        cond = cond & (F.lead("win", k).over(wo) == F.col("win") + k)
    words = (
        sym.select(
            "channel",
            "win",
            F.concat(*parts).alias("word"),
            cond.alias("_ok"),
            F.count(F.lit(1)).over(Window.partitionBy("channel")).alias(
                "n_windows"
            ),
        )
        .filter(F.col("_ok") & F.col("word").isNotNull())
    )
    counts = words.groupBy("channel", "n_windows", "word").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    return (
        counts.groupBy("channel", "n_windows")
        .agg(
            F.min(F.struct((-F.col("n_occ")).alias("_neg"), "word")).alias("_t")
        )
        .select(
            "channel",
            F.col("_t.word").alias("motif"),
            (-F.col("_t._neg")).cast("long").alias("n_occurrences"),
            F.col("n_windows").cast("long").alias("n_windows"),
        )
        .orderBy("channel")
    )


def channel_acf(
    samples: DataFrame,
    period_s: int,
    lags_s: Sequence[int],
    v_decimals: int = 2,
    max_grid_work: int | None = 50_000_000,
) -> DataFrame:
    """Autocorrelation function per channel: r(L) = corr(x(t), x(t+L))
    on the regular hold-forward grid — the self-correlation diagnostic
    (is this PV periodic / how fast does it decorrelate) that precedes
    any cross-channel analysis.

    Same construction as :func:`lagged_channel_correlation` but for ALL
    channels at once with per-channel PARTITIONED windows: one global
    grid (so row offsets equal time offsets everywhere), hold-forward
    per channel, each lag a lead() row offset within the channel
    partition, exact DECIMAL moments per (channel, lag). Unlike the
    two-channel operator's global window, every step here partitions by
    channel — the plan scales horizontally with the channel count.

    Grid points before a channel's first sample hold NULL and drop from
    the moments (pairs need both ends). Returns (channel, lag_s, r,
    n_points), pairs with < 2 points omitted; constant channels give
    NULL r (the SQL corr convention).

    Cost envelope: the materialized grid is ``n_grid_points ×
    n_channels`` rows and every lag walks it once, so total work is
    ``n_grid × n_channels × n_lags``. ``max_grid_work`` bounds that
    product (two bounded metadata jobs: one min/max agg, one channel
    count — the `max_gap_windows` / `max_points_per_gap` guard pattern);
    a span/lag combination that exceeds it is refused with a pointer at
    coarser ``period_s`` or fewer lags rather than silently launching a
    runaway fan-out. ``None`` disables the check.
    """
    from .decimate import NS, big_to_double

    bad = [l for l in lags_s if int(l) % period_s != 0 or int(l) < 0]
    if bad:
        raise ValueError(
            f"lags {bad} must be non-negative multiples of period_s"
        )
    vs = 10 ** v_decimals
    p_ns = period_s * NS
    known_bounds = None
    if max_grid_work is not None:
        # ONE guard job for bounds + channel count (was two, r12), and
        # the collected bounds become grid literals below — the main
        # plan then needs no second min/max aggregation of the input
        bounds = samples.agg(
            F.min("t").alias("lo"),
            F.max("t").alias("hi"),
            F.countDistinct("channel").alias("n_ch"),
        ).collect()[0]
        if bounds["lo"] is not None:
            known_bounds = (int(bounds["lo"]), int(bounds["hi"]))
            n_grid = (bounds["hi"] - bounds["lo"]) // (period_s * NS) + 1
            work = n_grid * bounds["n_ch"] * max(1, len(lags_s))
            if work > max_grid_work:
                raise ValueError(
                    f"channel_acf: grid work {work} (= {n_grid} grid points"
                    f" x {bounds['n_ch']} channels x {len(lags_s)} lags)"
                    f" exceeds max_grid_work={max_grid_work}; coarsen"
                    " period_s, restrict the time range/lag list, or raise"
                    " the bound deliberately"
                )
    s = samples.select(
        "channel",
        "t",
        F.expr(f"CAST(floor(v * {vs} + 0.5) AS DECIMAL(19,0))").alias("_vi"),
    )
    # bounds are substituted parenthesized: a bare negative literal
    # would turn `-{lo}` into `--...`, which SQL reads as a comment
    seq_expr = (
        "CASE WHEN {lo} + pmod(-{lo}, {p}) <= {hi} - pmod({hi}, {p})"
        " THEN sequence({lo} + pmod(-{lo}, {p}), {hi} - pmod({hi}, {p}), {p})"
        " ELSE array() END"
    )
    if known_bounds is not None:
        lo, hi = known_bounds
        grid = samples.sparkSession.range(1).select(
            F.explode(
                F.expr(seq_expr.format(lo=f"({lo}L)", hi=f"({hi}L)", p=p_ns))
            ).alias("t")
        )
    else:
        grid = (
            s.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
            .select(
                F.explode(
                    F.expr(seq_expr.format(lo="lo", hi="hi", p=p_ns))
                ).alias("t")
            )
        )
    chans = samples.select("channel").distinct()
    gc = grid.crossJoin(F.broadcast(chans))
    rows = s.withColumn("_g", F.lit(0)).unionByName(
        gc.select(
            "channel",
            "t",
            F.lit(None).cast("decimal(19,0)").alias("_vi"),
            F.lit(1).alias("_g"),
        )
    )
    w = (
        Window.partitionBy("channel")
        .orderBy("t", "_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    held = rows.select(
        "channel",
        "t",
        "_g",
        F.last("_vi", ignorenulls=True).over(w).alias("_h"),
    ).filter(F.col("_g") == 1)
    wg = Window.partitionBy("channel").orderBy("t")
    shift_cols = [
        F.lead("_h", int(l) // period_s).over(wg).alias(f"_b{idx}")
        for idx, l in enumerate(lags_s)
    ]
    pairs = (
        held.select("channel", F.col("_h").alias("_va"), *shift_cols)
        .select(
            "channel",
            "_va",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(int(l)).alias("lag_s"),
                            F.col(f"_b{idx}").alias("_vb"),
                        )
                        for idx, l in enumerate(lags_s)
                    ]
                )
            ).alias("_p"),
        )
        .select(
            "channel",
            "_va",
            F.col("_p.lag_s").alias("lag_s"),
            F.col("_p._vb").alias("_vb"),
        )
        .filter(F.col("_va").isNotNull() & F.col("_vb").isNotNull())
    )
    m = pairs.groupBy("channel", "lag_s").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum("_va").alias("_sx"),
        F.sum("_vb").alias("_sy"),
        F.sum(F.expr("_va * _vb")).alias("_sxy"),
        F.sum(F.expr("_va * _va")).alias("_sxx"),
        F.sum(F.expr("_vb * _vb")).alias("_syy"),
    )
    num = big_to_double("CAST(_n * _sxy - _sx * _sy AS DECIMAL(38,0))")
    dx = big_to_double("CAST(_n * _sxx - _sx * _sx AS DECIMAL(38,0))")
    dy = big_to_double("CAST(_n * _syy - _sy * _sy AS DECIMAL(38,0))")
    zero = "(_n * _sxx - _sx * _sx = 0 OR _n * _syy - _sy * _sy = 0)"
    return (
        m.select(
            "channel",
            F.col("lag_s").cast("long").alias("lag_s"),
            F.expr(
                f"CASE WHEN {zero} THEN CAST(NULL AS DOUBLE)"
                f" ELSE ({num}) / (sqrt({dx}) * sqrt({dy})) END"
            ).alias("r"),
            F.col("_n").cast("long").alias("n_points"),
        )
        .filter(F.col("n_points") >= 2)
    )


def channel_trend(samples: DataFrame, period_ns: int) -> DataFrame:
    """Per-channel OLS trend: slope (value units per period), intercept
    at the channel's own first-window origin, and R² — the drift
    diagnostic behind every "is this PV slowly walking away" dashboard.

    Exactness: the regressor is the WINDOW INDEX relative to the
    channel's first sample (small integers — raw ns timestamps squared
    would overflow DECIMAL(38)), values are scaled ints, all five
    moments are exact DECIMAL sums, and the closed-form slope/intercept/
    R² convert once through ``big_to_double``. Constant channels (zero
    x- or y-variance) give NULL slope/r2 rather than a division error.

    100 TB shape: one map-side-combined groupBy(channel) over one scan —
    the minimum possible plan; the per-channel origin comes from the
    same aggregation (min window index), not a second pass.

    Returns: channel, n_samples, slope_per_period, intercept, r2.
    """
    from .decimate import big_to_double

    p = int(period_ns)
    win = f"CAST((t - ((t % {p} + {p}) % {p})) AS BIGINT) div {p}"
    d = samples.select(
        "channel",
        F.expr(win).alias("_w"),
        F.expr("CAST(floor(v * 100 + 0.5) AS DECIMAL(19,0))").alias("_y"),
    )
    # two-level: x must be relative to the channel's min window so x² sums
    # stay small; min(_w) rides the same grouping via a window on channel
    wc = Window.partitionBy("channel")
    d = d.withColumn("_x", (F.col("_w") - F.min("_w").over(wc)).cast(
        "decimal(19,0)"
    ))
    m = d.groupBy("channel").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.expr("_x * _y")).alias("_sxy"),
        F.sum(F.expr("_x * _x")).alias("_sxx"),
        F.sum(F.expr("_y * _y")).alias("_syy"),
    )
    num = big_to_double("CAST(_n * _sxy - _sx * _sy AS DECIMAL(38,0))")
    dx = big_to_double("CAST(_n * _sxx - _sx * _sx AS DECIMAL(38,0))")
    dy = big_to_double("CAST(_n * _syy - _sy * _sy AS DECIMAL(38,0))")
    sy = big_to_double("CAST(_sy AS DECIMAL(38,0))")
    sx = big_to_double("CAST(_sx AS DECIMAL(38,0))")
    n_ = big_to_double("CAST(_n AS DECIMAL(38,0))")
    zx = "(_n * _sxx - _sx * _sx = 0)"
    zy = "(_n * _syy - _sy * _sy = 0)"
    slope = f"(({num}) / ({dx})) / 100.0"
    return (
        m.select(
            "channel",
            F.col("_n").cast("long").alias("n_samples"),
            F.expr(
                f"CASE WHEN {zx} THEN CAST(NULL AS DOUBLE)"
                f" ELSE {slope} END"
            ).alias("slope_per_period"),
            F.expr(
                f"CASE WHEN {zx} THEN CAST(NULL AS DOUBLE)"
                f" ELSE (({sy}) / ({n_}) - (({num}) / ({dx}))"
                f" * (({sx}) / ({n_}))) / 100.0 END"
            ).alias("intercept"),
            F.expr(
                f"CASE WHEN {zx} OR {zy} THEN CAST(NULL AS DOUBLE)"
                f" ELSE (({num}) * ({num})) / (({dx}) * ({dy})) END"
            ).alias("r2"),
        )
        .orderBy("channel")
    )


def seasonal_hod_anomalies(
    samples: DataFrame, k_sigma: int = 3
) -> DataFrame:
    """Hour-of-day seasonal baseline + anomaly census per channel: the
    "is this PV behaving like it usually does at 3am?" monitoring
    query. Each (channel, hour-of-day) cell gets an exact profile
    (count, mean, std from DECIMAL(38,0) moments of the x100-quantized
    values — the decimate.py convention) and a census of samples
    outside ``k_sigma`` standard deviations of THEIR OWN cell.

    The anomaly test never compares floats: |v - mean| > k·std is
    algebraically identical to (vi·n - s)² > k²·(n·s2 - s²) over the
    exact integer moments (both sides scale by (100n)²), so the flag —
    and therefore the census — is bit-portable to any engine or
    partitioning. z itself is (vi·n - s)/sqrt(n·s2 - s²): an exact
    integer numerator and one correctly-rounded sqrt, so max_abs_z is
    deterministic too (NULL for a constant cell, where z is undefined).

    Scale shape: ONE exchange. The per-cell moments come from window
    aggregates over the (channel, hod) partition — no profile
    self-join — and the final census groupBy reuses that clustering
    (hash(channel, hod) already satisfies it). Decimal envelope: vi·n
    needs |vi| · n < 10^19, i.e. ~10^13 samples per cell at PV-scale
    values — beyond any per-cell population a 100 TB archive reaches
    (cells partition one channel's history 24 ways).

    Returns one row per populated cell: channel, hod, n_samples, mean,
    std, n_anomalies, max_abs_z.
    """
    from .decimate import NS, big_to_double

    hour_ns = 3600 * NS
    k2 = k_sigma * k_sigma
    s = samples.select(
        "channel",
        F.expr(f"CAST((t div {hour_ns}) % 24 AS INT)").alias("hod"),
        F.expr("CAST(floor(v * 100 + 0.5) AS DECIMAL(19,0))").alias("_vi"),
    )
    pw = Window.partitionBy("channel", "hod")
    m = s.select(
        "channel",
        "hod",
        "_vi",
        F.count(F.lit(1)).over(pw).cast("decimal(38,0)").alias("_n"),
        F.sum("_vi").over(pw).alias("_s"),
        F.sum(F.expr("_vi * _vi")).over(pw).alias("_s2"),
    )
    dev = "CAST(_vi * _n - _s AS DECIMAL(38,0))"
    var_num = "CAST(_n * _s2 - _s * _s AS DECIMAL(38,0))"
    flagged = m.select(
        "channel",
        "hod",
        "_n",
        "_s",
        "_s2",
        F.expr(f"CASE WHEN ({dev}) * ({dev}) > {k2} * ({var_num})"
               " THEN 1 ELSE 0 END").alias("_flag"),
        F.expr(f"abs({dev})").alias("_absdev"),
    )
    mean = (
        f"{big_to_double('_s')} / CAST(_n AS DOUBLE) / 100.0"
    )
    std = (
        f"sqrt(greatest({big_to_double(var_num)}, 0.0))"
        " / CAST(_n AS DOUBLE) / 100.0"
    )
    maxz = (
        f"CASE WHEN {var_num} = 0 THEN CAST(NULL AS DOUBLE)"
        f" ELSE {big_to_double('CAST(max(_absdev) AS DECIMAL(38,0))')}"
        f" / sqrt({big_to_double(var_num)}) END"
    )
    return (
        flagged.groupBy("channel", "hod", "_n", "_s", "_s2")
        .agg(
            F.sum("_flag").cast("long").alias("n_anomalies"),
            F.expr(maxz).alias("max_abs_z"),
        )
        .select(
            "channel",
            "hod",
            F.col("_n").cast("long").alias("n_samples"),
            F.expr(mean).alias("mean"),
            F.expr(std).alias("std"),
            "n_anomalies",
            "max_abs_z",
        )
        .orderBy("channel", "hod")
    )


def key_skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Shuffle-health diagnostics for a prospective partition key: the
    question every 100 TB groupBy/join plan gets asked first — "how
    skewed is this key?". One map-side-combined count per key, then
    order statistics over the (tiny) per-key count table: hottest key
    and its row share, attained p50/p90/p99 of rows-per-key, and the
    max/mean skew factor (the straggler multiplier a hash shuffle on
    this key pays; AQE skew-join or salting territory above ~4).

    All counts are exact integers; the shares/factors are single-divide
    doubles — value-hash-portable. Quantiles are DISCRETE (attained
    counts, index = ceil(q·n) order statistic), the
    group_discrete_quantiles convention — computed from the count
    HISTOGRAM, so no per-key global sort exists anywhere in the plan
    (for pathological histograms swap in the GK sketch from
    group_approx_quantiles; flat fixtures keep this exact).

    Returns ONE row: n_rows, n_keys, top_key, max_rows_per_key,
    max_key_share, p50_rows_per_key, p90_rows_per_key,
    p99_rows_per_key, skew_factor.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("_k")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    # order statistics WITHOUT sorting the per-key table: collapse to
    # the count HISTOGRAM (one row per distinct rows-per-key value —
    # heavy-tailed data keeps this tiny even at a billion keys), then
    # the p-quantile is the smallest count whose cumulative key
    # coverage reaches ceil(p·n_keys). The only unpartitioned window
    # runs over that histogram, never over keys or rows.
    byc = counts.groupBy("_c").agg(F.count(F.lit(1)).alias("_nk_at"))
    wcum = Window.orderBy("_c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = byc.select(
        "_c",
        F.sum("_nk_at").over(wcum).alias("_cum"),
        F.sum("_nk_at").over(wall).alias("_nk"),
    )
    q = lambda p: F.min(  # noqa: E731
        F.when(
            F.col("_cum")
            >= F.expr(f"CAST(ceil(_nk * {p} / 100.0) AS BIGINT)"),
            F.col("_c"),
        )
    )
    quants = cum.agg(
        F.max("_nk").cast("long").alias("n_keys"),
        q(50).alias("p50_rows_per_key"),
        q(90).alias("p90_rows_per_key"),
        q(99).alias("p99_rows_per_key"),
    )
    top = counts.agg(
        F.sum("_c").alias("n_rows"),
        F.max(F.struct(F.col("_c"), F.col("_k"))).alias("_top"),
    )
    # a global agg over zero rows yields one all-NULL row — an empty
    # input must produce an EMPTY report (the F4 convention)
    return top.crossJoin(F.broadcast(quants)).filter(
        F.col("n_rows").isNotNull()
    ).select(
        "n_rows",
        "n_keys",
        F.col("_top._k").alias("top_key"),
        F.col("_top._c").alias("max_rows_per_key"),
        F.expr("CAST(_top._c AS DOUBLE) / CAST(n_rows AS DOUBLE)")
        .alias("max_key_share"),
        "p50_rows_per_key",
        "p90_rows_per_key",
        "p99_rows_per_key",
        F.expr(
            "CAST(_top._c AS DOUBLE)"
            " / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))"
        ).alias("skew_factor"),
    )


def ewma_by_channel(
    samples: DataFrame, alpha_num: int = 1, alpha_den: int = 4
) -> DataFrame:
    """Exponentially-weighted moving average per channel — the classic
    monitoring smoother (alpha = alpha_num/alpha_den, seeded at the
    first sample): ewma_t = α·v_t + (1-α)·ewma_{t-1} over the
    x100-quantized values, every step the same two IEEE multiplies and
    one add in the same order on any engine, so the whole trajectory
    is bit-portable (the DuckDB oracle re-runs the identical recursion
    as a recursive CTE — a deliberately different formulation).

    EWMA is inherently sequential per channel (no window-function
    closed form exists, unlike CUSUM's prefix-min trick), so the fold
    runs as ONE Catalyst ``aggregate`` lambda over the channel's
    time-sorted array — no Python crossing, channels parallel. Memory
    envelope: one channel's queried range materializes in one task
    (the same per-channel sequential envelope as the reference's
    processing chain); time-bound the query, not the operator.

    Returns (channel, t, v_q, ewma) — v_q the quantized input the
    recursion consumed.
    """
    a = alpha_num / alpha_den
    b = 1.0 - a
    arr = samples.select(
        "channel",
        F.expr(
            "struct(t AS t, CAST(floor(v * 100 + 0.5) AS BIGINT) AS vi)"
        ).alias("_s"),
    ).groupBy("channel").agg(
        F.expr("array_sort(collect_list(_s))").alias("_arr")
    )
    step = (
        f"CASE WHEN acc.n = 0 THEN CAST(x.vi AS DOUBLE)"
        f" ELSE CAST({a!r} AS DOUBLE) * CAST(x.vi AS DOUBLE)"
        f" + CAST({b!r} AS DOUBLE) * acc.prev END"
    )
    fold = (
        "aggregate(_arr,"
        " named_struct('prev', CAST(0.0 AS DOUBLE),"
        "              'out', CAST(array() AS"
        "                          ARRAY<STRUCT<t: BIGINT, vi: BIGINT,"
        "                                       e: DOUBLE>>),"
        "              'n', 0),"
        f" (acc, x) -> named_struct('prev', {step},"
        "   'out', array_append(acc.out,"
        f"          named_struct('t', x.t, 'vi', x.vi, 'e', {step})),"
        "   'n', acc.n + 1),"
        " acc -> acc.out)"
    )
    return (
        arr.select("channel", F.explode(F.expr(fold)).alias("_e"))
        .select(
            "channel",
            F.col("_e.t").alias("t"),
            (F.col("_e.vi").cast("double") / F.lit(100.0)).alias("v_q"),
            (F.col("_e.e") / F.lit(100.0)).alias("ewma"),
        )
        .orderBy("channel", "t")
    )


def seasonal_profile(samples: DataFrame) -> DataFrame:
    """Exact per-(channel, hour-of-day) moment profile — the broadcast
    baseline the LIVE seasonal monitor
    (streaming/detect.stream_seasonal_flags) checks arriving samples
    against: count, Σvi, Σvi² as DECIMAL(38,0) over the x100-quantized
    values (one map-combined groupBy; the same moments
    :func:`seasonal_hod_anomalies` derives through its window)."""
    from .decimate import NS

    hour_ns = 3600 * NS
    return (
        samples.select(
            "channel",
            F.expr(f"CAST((t div {hour_ns}) % 24 AS INT)").alias("hod"),
            F.expr("CAST(floor(v * 100 + 0.5) AS DECIMAL(19,0))").alias("_vi"),
        )
        .groupBy("channel", "hod")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
            F.sum("_vi").alias("_s"),
            F.sum(F.expr("_vi * _vi")).alias("_s2"),
        )
    )
