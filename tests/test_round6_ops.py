"""Round-6 operators: CUSUM changepoints, distribution drift (TVD),
SAX motifs, content-defined chunk dedup, temperature allocation."""

from __future__ import annotations

import math

import pytest

from cassandra_pv_archiver_spark.operators.dedup import cdc_chunk_stats
from cassandra_pv_archiver_spark.operators.sampling import temperature_alloc
from cassandra_pv_archiver_spark.operators.stats import (
    cusum_alarms,
    distribution_drift,
    sax_motifs,
)


def _samples(spark, rows):
    return spark.createDataFrame(
        rows, "channel string, t long, v double, severity int, status int"
    )


class TestCusum:
    def test_level_shift_alarms(self, spark):
        # 20 points at 0.0 then 20 points at 10.0: an unmistakable mean
        # shift — the positive CUSUM must alarm, and only after the shift
        rows = [("c", i, 0.0, 0, 0) for i in range(20)] + [
            ("c", 20 + i, 10.0, 0, 0) for i in range(20)
        ]
        r = cusum_alarms(_samples(spark, rows)).collect()[0]
        # retrospective CUSUM against the GLOBAL mean: both excursions
        # (below-mean first half, above-mean second half) accumulate, so
        # both sides alarm; the first alarm needs several samples of
        # evidence (8 mean absolute deviations), never the first row
        assert r.n_pos_alarms > 0
        assert r.first_alarm_t is not None and r.first_alarm_t > 5
        assert r.max_pos_dev > 0

    def test_constant_series_never_alarms(self, spark):
        rows = [("c", i, 3.25, 0, 0) for i in range(50)]
        r = cusum_alarms(_samples(spark, rows)).collect()[0]
        assert r.n_pos_alarms == 0 and r.n_neg_alarms == 0
        assert r.first_alarm_t is None
        assert r.max_pos_dev == 0.0 and r.max_neg_dev == 0.0

    def test_noise_without_shift_stays_quiet(self, spark):
        # alternating +/-1 around 0: prefix sums stay within one step of
        # zero, far below 8 mean absolute deviations
        rows = [("c", i, float(1 if i % 2 else -1), 0, 0) for i in range(40)]
        r = cusum_alarms(_samples(spark, rows)).collect()[0]
        assert r.n_pos_alarms == 0 and r.n_neg_alarms == 0

    def test_downward_shift_alarms_negative_side(self, spark):
        rows = [("c", i, 10.0, 0, 0) for i in range(20)] + [
            ("c", 20 + i, 0.0, 0, 0) for i in range(20)
        ]
        r = cusum_alarms(_samples(spark, rows)).collect()[0]
        assert r.n_neg_alarms > 0
        assert r.max_neg_dev > 0


class TestDistributionDrift:
    def test_identical_halves_zero_tvd(self, spark):
        # same values repeat in both halves -> identical histograms
        vals = [1.0, 2.0, 3.0, 4.0] * 5
        rows = [("c", i, v, 0, 0) for i, v in enumerate(vals)] + [
            ("c", 1000 + i, v, 0, 0) for i, v in enumerate(vals)
        ]
        r = distribution_drift(_samples(spark, rows)).collect()[0]
        assert r.n_first == 20 and r.n_second == 20
        assert r.tvd == 0.0

    def test_disjoint_halves_full_tvd(self, spark):
        rows = [("c", i, 0.0, 0, 0) for i in range(10)] + [
            ("c", 1000 + i, 100.0, 0, 0) for i in range(10)
        ]
        r = distribution_drift(_samples(spark, rows)).collect()[0]
        assert r.tvd == 1.0

    def test_single_sided_channel_is_null(self, spark):
        # all samples at one timestamp: tlo == thi, everything lands in
        # the second half (ties go second) -> NULL, not a crash
        rows = [("c", 5, float(v), 0, 0) for v in range(10)]
        r = distribution_drift(_samples(spark, rows)).collect()[0]
        assert r.n_first == 0
        assert r.tvd is None


HOUR = 3_600_000_000_000


class TestSaxMotifs:
    def test_alternating_pattern_dominates(self, spark):
        # hourly windows alternating lo/hi for 12 h: symbols 0,3,0,3,...
        # -> the two words 030/303 tie-break on word ASC -> "030"
        rows = [
            ("c", h * HOUR + 1, 0.0 if h % 2 == 0 else 10.0, 0, 0)
            for h in range(12)
        ]
        r = sax_motifs(
            _samples(spark, rows), period_ns=HOUR, n_symbols=4, word_len=3
        ).collect()[0]
        assert r.n_windows == 12
        assert r.motif == "030"
        assert r.n_occurrences == 5

    def test_gap_breaks_words(self, spark):
        # windows 0,1,2 then 10,11,12: exactly two words, none across the gap
        rows = [("c", h * HOUR + 1, float(h), 0, 0) for h in (0, 1, 2, 10, 11, 12)]
        out = sax_motifs(
            _samples(spark, rows), period_ns=HOUR, n_symbols=4, word_len=3
        ).collect()[0]
        assert out.n_windows == 6
        assert out.n_occurrences == 1  # every word unique, top has count 1

    def test_constant_channel_single_symbol(self, spark):
        rows = [("c", h * HOUR + 1, 7.0, 0, 0) for h in range(5)]
        r = sax_motifs(
            _samples(spark, rows), period_ns=HOUR, n_symbols=4, word_len=3
        ).collect()[0]
        assert r.motif == "000"
        assert r.n_occurrences == 3


class TestCdcChunks:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    def test_identical_docs_fully_duplicated(self, spark):
        text = " ".join(f"w{i}" for i in range(100))
        docs = self._docs(spark, [(1, "a", text), (2, "b", text)])
        out = {r.source: r for r in cdc_chunk_stats(docs).collect()}
        assert out["a"].n_chunks == out["b"].n_chunks > 1
        assert out["a"].dup_chunk_ratio == 1.0
        assert out["b"].dup_chunk_ratio == 1.0

    def test_chunks_cover_document(self, spark):
        # reassembling chunk_texts in chunk_id order must reproduce the doc
        text = " ".join(f"tok{i}" for i in range(200))
        docs = self._docs(spark, [(1, "a", text)])
        from cassandra_pv_archiver_spark.operators.dedup import (
            cdc_chunk_stats as _,  # noqa: F401 - same module path sanity
        )
        from cassandra_pv_archiver_spark.operators.sampling import hash_bucket16
        from pyspark.sql import functions as F

        # independent reconstruction through the operator's grouping
        n = cdc_chunk_stats(docs).collect()[0]
        assert n.n_chunks >= 1
        assert n.n_dup_chunks == 0

    def test_local_edit_preserves_most_chunks(self, spark):
        # CDC's selling point: editing one word re-chunks only locally
        words = [f"w{i}" for i in range(300)]
        edited = list(words)
        edited[150] = "EDITED"
        docs = self._docs(
            spark, [(1, "a", " ".join(words)), (2, "b", " ".join(edited))]
        )
        out = {r.source: r for r in cdc_chunk_stats(docs).collect()}
        # most chunks still dedupe against the original
        assert out["b"].dup_chunk_ratio > 0.5


class TestTemperatureAlloc:
    def _docs(self, spark, sizes):
        rows = [
            (i, lang, sz)
            for i, (lang, sz) in enumerate(
                (lang, s) for lang, szs in sizes.items() for s in szs
            )
        ]
        return spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")

    def test_allocations_sum_to_budget(self, spark):
        docs = self._docs(
            spark, {"en": [1000, 2000, 3000], "de": [500], "fr": [70, 7]}
        )
        out = temperature_alloc(docs, budget_tokens=999_983).collect()
        assert sum(r.alloc_tokens for r in out) == 999_983

    def test_sqrt_flattens_ratio(self, spark):
        # en is 100x fr by size; with alpha=1/2 the allocation ratio is ~10x
        docs = self._docs(spark, {"en": [1_000_000], "fr": [10_000]})
        out = {r.lang: r for r in temperature_alloc(docs).collect()}
        ratio = out["en"].alloc_tokens / out["fr"].alloc_tokens
        assert 9.5 < ratio < 10.5

    def test_isqrt_exact_on_squares(self, spark):
        # perfect squares and their neighbours: weight must be math.isqrt
        sizes = {f"l{k}": [v] for k, v in enumerate([1, 3, 4, 8, 9, 10, 10**12])}
        docs = self._docs(spark, sizes)
        out = temperature_alloc(docs).collect()
        by_lang = {r.lang: r for r in out}
        for k, v in enumerate([1, 3, 4, 8, 9, 10, 10**12]):
            assert by_lang[f"l{k}"].weight == math.isqrt(v), (k, v)

    def test_all_zero_weights_allocates_zero(self, spark):
        # every group size 0 -> weight sum 0: the documented convention is
        # 0 tokens / 0.0 share everywhere, not NULLs from a zero divide
        docs = self._docs(spark, {"en": [0, 0], "fr": [0]})
        out = temperature_alloc(docs).collect()
        assert len(out) == 2
        for r in out:
            assert r.alloc_tokens == 0 and r.share == 0.0


class TestImageDhash:
    def test_png_roundtrip_all_values(self, spark):
        from cassandra_pv_archiver_spark.operators.multimodal import (
            decode_png,
            encode_png_gray,
        )

        pix = bytes((i * 37) % 256 for i in range(9 * 7))
        w, h, ch, back = decode_png(
            encode_png_gray(9, 7, pix), return_pixels=True
        )
        assert (w, h, ch) == (9, 7, 1)
        assert back == pix

    def test_dhash_brightness_invariance(self, spark):
        # uniform brightness shift preserves every gradient sign
        from cassandra_pv_archiver_spark.operators.multimodal import dhash56

        base = bytes((i * 3) % 200 for i in range(63))
        shifted = bytes(min(255, b + 50) for b in base)
        assert dhash56(base) == dhash56(shifted)

    def test_banding_finds_exact_dup_pairs(self, spark):
        # identical texts must appear as a hamming-0 pair; a totally
        # different doc must not pair with them at ham <= 3
        from cassandra_pv_archiver_spark import catalog_data as cd
        import pyspark.sql.functions as F

        text1 = " ".join(f"w{i}" for i in range(80))
        text2 = " ".join(f"z{i}" for i in range(80))
        docs = spark.createDataFrame(
            [(1, text1), (2, text1), (3, text2)], "doc_id long, text string"
        )

        # reuse the query's construction on an in-memory docs table
        from cassandra_pv_archiver_spark.operators import multimodal, text

        cells = docs.select("doc_id", F.expr(text._WORDS).alias("_w")).select(
            "doc_id",
            F.expr(
                "transform(sequence(0, 62), i -> CAST(conv(substring(md5("
                "CASE WHEN i < size(_w) THEN _w[i] ELSE '' END), 1, 2),"
                " 16, 10) AS INT))"
            ).alias("cells"),
        )
        dh = {r.doc_id: r.dhash for r in multimodal.image_dhash_table(cells).collect()}
        assert dh[1] == dh[2]
        assert bin(dh[1] ^ dh[3]).count("1") > 3


class TestStreamCusum:
    def test_stream_matches_sequential_reference(self, spark, tmp_path):
        """Online CUSUM alarms over two micro-batches must equal the
        row-at-a-time reference — state carries across batches."""
        import os
        import shutil

        from cassandra_pv_archiver_spark.streaming.detect import (
            batch_cusum_reference,
            cusum_baseline,
            stream_cusum,
        )

        # channel X: calm history around 5.0, then a +5 shift mid-stream;
        # channel Y: stays calm throughout
        rows = (
            [("X", i, 5.0 + (0.1 if i % 2 else -0.1)) for i in range(20)]
            + [("X", 20 + i, 10.0) for i in range(10)]
            + [("Y", i, 3.0) for i in range(30)]
        )
        schema = "channel string, t long, v double"
        hist = spark.createDataFrame(rows[:15] + rows[-30:], schema)
        base_df = cusum_baseline(hist)
        base = {
            r.channel: (r.mu_scaled, r.mad_scaled) for r in base_df.collect()
        }

        src = str(tmp_path / "src")
        os.makedirs(src)

        def _write_file(chunk, name, mtime):
            stage = str(tmp_path / ("stage_" + name))
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            part = next(
                f for f in os.listdir(stage)
                if f.endswith(".parquet") and not f.startswith("_")
            )
            dst = os.path.join(src, name + ".parquet")
            shutil.copy(os.path.join(stage, part), dst)
            os.utime(dst, (mtime, mtime))

        # split mid-shift so the accumulating evidence spans micro-batches
        _write_file(rows[:24], "b1", 1_000_000_000)
        _write_file(rows[24:], "b2", 1_000_000_100)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        alarms = stream_cusum(stream, base_df)
        got = []

        def _sink(batch_df, batch_id):
            got.extend(
                (r.channel, r.t, r.side, r.cusum_scaled, r.threshold_scaled)
                for r in batch_df.collect()
            )

        q = (
            alarms.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        want = batch_cusum_reference(rows, base)
        assert sorted(got) == want
        # the engineered shift must actually alarm on X and not on Y
        assert any(ch == "X" and side == "pos" for ch, _, side, _, _ in want)
        assert not any(ch == "Y" for ch, _, _, _, _ in want)


class TestChannelAcf:
    def test_periodic_signal_peaks_at_its_period(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import channel_acf

        # period-2h square wave sampled hourly: r(2h)=+1, r(1h)=-1
        rows = [
            ("c", h * HOUR, 1.0 if (h // 1) % 2 == 0 else -1.0, 0, 0)
            for h in range(48)
        ]
        out = {
            r.lag_s: r.r
            for r in channel_acf(
                _samples(spark, rows), 3600, [3600, 7200]
            ).collect()
        }
        assert abs(out[7200] - 1.0) < 1e-9
        assert abs(out[3600] + 1.0) < 1e-9

    def test_constant_channel_null_r(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import channel_acf

        rows = [("c", h * HOUR, 5.0, 0, 0) for h in range(10)]
        out = channel_acf(_samples(spark, rows), 3600, [3600]).collect()
        assert len(out) == 1 and out[0].r is None

    def test_late_starting_channel_drops_leading_grid(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import channel_acf

        # channel d starts 5h after c: its leading grid points hold NULL
        # and must not contribute pairs
        rows = [("c", h * HOUR, float(h % 3), 0, 0) for h in range(12)] + [
            ("d", (5 + h) * HOUR, float(h % 2), 0, 0) for h in range(7)
        ]
        out = channel_acf(_samples(spark, rows), 3600, [3600]).collect()
        pts = {r.channel: r.n_points for r in out}
        assert pts["c"] > pts["d"]

    def test_pre_1970_input_matches_shifted_output(self, spark):
        """A negative grid bound once rendered as ``pmod(--…L)``, and
        ``--`` starts a SQL comment. Shifting the input by -1e18 ns (a
        whole number of periods, so the grid aligns the same way) must
        leave every (channel, lag) result unchanged, with or without the
        collected-bounds guard."""
        from cassandra_pv_archiver_spark.operators.stats import channel_acf

        NS = 1_000_000_000
        shift = -10**18
        rows = [("c", h * 100 * NS, float(h % 3), 0, 0) for h in range(12)] + [
            ("d", (5 + h) * 100 * NS, float(h % 2), 0, 0) for h in range(7)
        ]
        moved = [(c, t + shift, v, s, st) for c, t, v, s, st in rows]
        for bound in (50_000_000, None):
            want = sorted(map(tuple, channel_acf(
                _samples(spark, rows), 100, [100, 200], max_grid_work=bound
            ).collect()))
            got = sorted(map(tuple, channel_acf(
                _samples(spark, moved), 100, [100, 200], max_grid_work=bound
            ).collect()))
            assert want and got == want


class TestChannelTrend:
    def test_exact_line_recovers_slope(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import channel_trend

        # v = 2 + 0.5 * hour, exactly linear in the window index
        rows = [("c", h * HOUR + 5, 2.0 + 0.5 * h, 0, 0) for h in range(24)]
        r = channel_trend(_samples(spark, rows), HOUR).collect()[0]
        assert abs(r.slope_per_period - 0.5) < 1e-9
        assert abs(r.intercept - 2.0) < 1e-9
        assert abs(r.r2 - 1.0) < 1e-9

    def test_constant_channel_null(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import channel_trend

        rows = [("c", h * HOUR, 7.0, 0, 0) for h in range(10)]
        r = channel_trend(_samples(spark, rows), HOUR).collect()[0]
        # x varies but y does not: slope is exactly 0, r2 undefined
        assert r.slope_per_period == 0.0
        assert r.r2 is None

    def test_origin_is_channel_relative(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import channel_trend

        # same line, but the channel starts at hour 1000 — the relative
        # origin must keep the intercept at the first window's value
        rows = [
            ("c", (1000 + h) * HOUR, 3.0 + 1.0 * h, 0, 0) for h in range(12)
        ]
        r = channel_trend(_samples(spark, rows), HOUR).collect()[0]
        assert abs(r.slope_per_period - 1.0) < 1e-9
        assert abs(r.intercept - 3.0) < 1e-9


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HYP6 = True
except ImportError:  # pragma: no cover
    _HYP6 = False


if _HYP6:

    @given(
        vals=st.lists(
            st.integers(min_value=-500, max_value=500), min_size=2, max_size=40
        )
    )
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_cusum_closed_form_matches_recursion(spark, vals):
        """The window closed form (P_t - running min / running max - P_t)
        must equal the textbook recursion C_t = max(0, C_{t-1} + d_t)
        for every series — including the alarm counts derived from it."""
        rows = [("c", i, v / 100.0, 0, 0) for i, v in enumerate(vals)]
        r = cusum_alarms(_samples(spark, rows), lam=8).collect()[0]

        n = len(vals)
        s = sum(vals)
        ds = [n * v - s for v in vals]
        a = sum(abs(d) for d in ds)
        cp = cn = 0
        pos_alarms = neg_alarms = 0
        first_t = None
        max_p = max_n = 0
        for i, d in enumerate(ds):
            cp = max(0, cp + d)
            cn = max(0, cn - d)
            max_p, max_n = max(max_p, cp), max(max_n, cn)
            if cp * n > 8 * a:
                pos_alarms += 1
                if first_t is None:
                    first_t = i
            if cn * n > 8 * a:
                neg_alarms += 1
                if first_t is None:
                    first_t = i
        assert r.n_pos_alarms == pos_alarms
        assert r.n_neg_alarms == neg_alarms
        assert r.first_alarm_t == first_t
        assert abs(r.max_pos_dev - max_p / (n * 100.0)) < 1e-9
        assert abs(r.max_neg_dev - max_n / (n * 100.0)) < 1e-9


class TestCmsHeavyHitters:
    def test_overestimate_invariant_and_bound(self, spark):
        from cassandra_pv_archiver_spark.operators.sketches import (
            cms_heavy_hitter_audit,
        )

        # skewed corpus: 'hot' dominates, long tail of singletons
        rows = [(0, "hot " * 200)] + [
            (i, f"w{i}a w{i}b w{i}c") for i in range(1, 200)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = cms_heavy_hitter_audit(docs, top_k=5).collect()
        n_total = 200 + 199 * 3
        for r in out:
            assert r.overestimate >= 0, r  # the hard CMS guarantee
            assert r.cms_est == r.exact_n + r.overestimate
        top = out[0]
        assert top.token == "hot" and top.exact_n == 200
        # eps = e/w ~ 0.0027; with N ~ 800 the expected overestimate is
        # ~2 tokens; allow generous slack, it just must not be huge
        assert all(r.overestimate <= n_total * 0.05 for r in out)

    def test_estimate_exact_when_no_collisions(self, spark):
        from cassandra_pv_archiver_spark.operators.sketches import (
            cms_heavy_hitter_audit,
        )

        # few distinct tokens in a wide sketch: min over 4 rows should be
        # exact unless all 4 buckets collide (astronomically unlikely)
        docs = spark.createDataFrame(
            [(0, "alpha beta gamma alpha beta alpha")],
            "doc_id long, text string",
        )
        out = {r.token: r for r in cms_heavy_hitter_audit(docs, top_k=3).collect()}
        assert out["alpha"].cms_est == 3
        assert out["beta"].cms_est == 2
        assert out["gamma"].cms_est == 1


class TestKsDrift:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, src string, v double")

    def test_identical_distributions_near_zero(self, spark):
        from cassandra_pv_archiver_spark.operators.text import ks_drift_by_group

        # both groups sample the same values interleaved: D = 1/n at most
        rows = [(i, "a" if i % 2 == 0 else "b", float(i // 2)) for i in range(40)]
        out = {r.src: r for r in
               ks_drift_by_group(self._df(spark, rows), "src", "v", "doc_id").collect()}
        assert out["a"].ks <= 0.06
        assert out["b"].ks <= 0.06

    def test_disjoint_distributions_full_distance(self, spark):
        from cassandra_pv_archiver_spark.operators.text import ks_drift_by_group

        rows = [(i, "lo", float(i)) for i in range(10)] + [
            (100 + i, "hi", 1000.0 + i) for i in range(10)
        ]
        out = {r.src: r for r in
               ks_drift_by_group(self._df(spark, rows), "src", "v", "doc_id").collect()}
        assert out["lo"].ks == 1.0 and out["hi"].ks == 1.0

    def test_matches_scipy_style_reference(self, spark):
        from cassandra_pv_archiver_spark.operators.text import ks_drift_by_group

        import itertools
        vals_a = [0.1, 0.4, 0.4, 0.9, 2.0]
        vals_b = [0.2, 0.3, 1.1, 1.5]
        rows = [(i, "a", v) for i, v in enumerate(vals_a)] + [
            (100 + i, "b", v) for i, v in enumerate(vals_b)
        ]
        out = {r.src: r for r in
               ks_drift_by_group(self._df(spark, rows), "src", "v", "doc_id").collect()}
        # reference D: max over all points of |F_a - F_b|
        pts = sorted(set(vals_a + vals_b))
        d = max(
            abs(sum(v <= p for v in vals_a) / len(vals_a)
                - sum(v <= p for v in vals_b) / len(vals_b))
            for p in pts
        )
        assert abs(out["a"].ks - d) < 1e-9
        assert abs(out["b"].ks - d) < 1e-9

    def test_cross_group_ties_textbook(self, spark):
        """When the same value occurs in BOTH groups, the statistic must
        be the ECDF gap AFTER the full tie run (textbook / scipy), not a
        mid-tie prefix: a=[1,1], b=[1,2] has D=0.5 (at v=1), while the
        mid-tie prefix after a's two rows would claim 1.0."""
        from cassandra_pv_archiver_spark.operators.text import ks_drift_by_group

        rows = [(0, "a", 1.0), (1, "a", 1.0), (100, "b", 1.0), (101, "b", 2.0)]
        out = {r.src: r for r in
               ks_drift_by_group(self._df(spark, rows), "src", "v", "doc_id").collect()}
        assert abs(out["a"].ks - 0.5) < 1e-12
        assert abs(out["b"].ks - 0.5) < 1e-12


class TestStreamDrift:
    def test_stream_drift_converges_to_batch_tvd(self, spark, tmp_path):
        """Replaying a drifted stream must end at exactly the TVD the
        batch formula gives for (seen, baseline) — state carries bin
        counts across micro-batches."""
        import os
        import shutil

        from cassandra_pv_archiver_spark.streaming.detect import (
            histogram_baseline,
            stream_histogram_drift,
        )

        schema = "channel string, t long, v double"
        # baseline: uniform over [0, 10); live: everything in the top bins
        hist_rows = [("X", i, float(i % 10), ) for i in range(100)]
        base_df = histogram_baseline(
            spark.createDataFrame([(c, t, v) for c, t, v in hist_rows], schema)
        )
        live = [("X", 1000 + i, 9.0) for i in range(20)]

        src = str(tmp_path / "src")
        os.makedirs(src)

        def _write_file(chunk, name, mtime):
            stage = str(tmp_path / ("stage_" + name))
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            part = next(
                f for f in os.listdir(stage)
                if f.endswith(".parquet") and not f.startswith("_")
            )
            dst = os.path.join(src, name + ".parquet")
            shutil.copy(os.path.join(stage, part), dst)
            os.utime(dst, (mtime, mtime))

        _write_file(live[:8], "b1", 1_000_000_000)
        _write_file(live[8:], "b2", 1_000_000_100)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        drift = stream_histogram_drift(stream, base_df)
        got = []

        def _sink(batch_df, batch_id):
            got.extend(batch_df.collect())

        q = (
            drift.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        assert len(got) == 2  # one emission per micro-batch
        final = max(got, key=lambda r: r.n_seen)
        assert final.n_seen == 20
        # reference: seen = 20 in the last bin; base = 10 per bin of 20 bins?
        # baseline uses 20 bins over [0,9]: values 0..9 spread; compute the
        # exact formula on the collected baseline
        base = {r.channel: r for r in base_df.collect()}["X"]
        seen = [0] * 20
        lo, hi = base.lo, base.hi
        for _, _, v in live:
            b = min(19, max(0, int((v - lo) / (hi - lo) * 20)))
            seen[b] += 1
        na, nb = sum(seen), sum(base.counts)
        num = sum(abs(a * nb - b * na) for a, b in zip(seen, base.counts))
        assert final.tvd_num == num
        assert final.tvd_den == 2 * na * nb
        assert abs(final.tvd - num / (2 * na * nb)) < 1e-12
        # drift direction sanity: concentrated stream vs uniform base
        assert final.tvd > 0.5


class TestArrayElementwise:
    def test_fixture_array_structure_preserved(self, spark):
        """The typed fixture's array_double payloads are (x, 2x, 3x):
        element-wise means must preserve that exact ratio, which any
        index mix-up or partial-agg bug would destroy."""
        from cassandra_pv_archiver_spark.catalog import (
            q_array_elementwise_stats,
        )

        out = q_array_elementwise_stats(
            spark, "/root/testdata/sf0.001"
        ).collect()
        by_ch = {}
        for r in out:
            by_ch.setdefault(r.channel, {})[r.idx] = r
        assert by_ch
        for ch, idxs in by_ch.items():
            assert set(idxs) == {0, 1, 2}
            m0 = idxs[0].mean
            assert abs(idxs[1].mean - 2 * m0) < 1e-9, ch
            assert abs(idxs[2].mean - 3 * m0) < 1e-9, ch
            assert idxs[0].n == idxs[1].n == idxs[2].n


class TestContainment:
    def test_quote_inside_article_found(self, spark):
        """A short doc fully contained in a long doc: J tiny, C = 1.0 —
        the case resemblance dedup structurally misses."""
        from cassandra_pv_archiver_spark.operators.dedup import (
            containment_pairs,
            shingles,
        )

        quote = " ".join(f"q{i}" for i in range(20))
        article = quote + " " + " ".join(f"a{i}" for i in range(400))
        other = " ".join(f"z{i}" for i in range(50))
        docs = spark.createDataFrame(
            [(1, quote), (2, article), (3, other)], "doc_id long, text string"
        )
        out = containment_pairs(shingles(docs), 0.8, 0.5).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.id_small, r.id_big) == (1, 2)
        assert r.containment == 1.0
        assert r.jaccard < 0.1

    def test_identical_docs_excluded_by_jmax(self, spark):
        # exact dups have J = 1.0: symmetric dedup's territory, not ours
        from cassandra_pv_archiver_spark.operators.dedup import (
            containment_pairs,
            shingles,
        )

        t = " ".join(f"w{i}" for i in range(30))
        docs = spark.createDataFrame(
            [(1, t), (2, t)], "doc_id long, text string"
        )
        assert containment_pairs(shingles(docs), 0.8, 0.5).count() == 0


class TestAcfWorkBound:
    def test_acf_refuses_runaway_grid(self, spark):
        """The max_grid_work envelope (grid x channels x lags) must
        refuse a span/lag combination before launching the fan-out."""
        from cassandra_pv_archiver_spark.operators.stats import channel_acf

        NS = 1_000_000_000
        rows = [("A", 0, 1.0), ("A", 86_400_000 * NS, 2.0)]  # 1000-day span
        s = spark.createDataFrame(rows, "channel string, t long, v double")
        with pytest.raises(ValueError, match="max_grid_work"):
            channel_acf(s, period_s=1, lags_s=[1, 2, 3]).collect()
        # bound disabled or generous: plan builds fine
        assert channel_acf(
            s, period_s=86_400_000, lags_s=[86_400_000]
        ).count() >= 0


class TestBloomDecontam:
    def _fixture(self, spark):
        base = "alpha beta gamma delta epsilon zeta"
        rows = [
            (0, "bench", base),                       # benchmark doc
            (1, "a", base + " eta theta"),            # contaminated
            (2, "b", " ".join(f"q{i}" for i in range(10))),  # clean
        ]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        from cassandra_pv_archiver_spark.operators import dedup

        sh = dedup.shingles(docs).join(docs.select("doc_id", "source"), "doc_id")
        bench = docs.filter("doc_id = 0").select("doc_id")
        return sh, bench

    def test_no_false_negatives_and_exact_counts(self, spark):
        from cassandra_pv_archiver_spark.operators.sketches import (
            bloom_contamination_audit,
        )

        sh, bench = self._fixture(spark)
        out = {r.grp: r for r in
               bloom_contamination_audit(sh, bench, group_col="source").collect()}
        # contaminated doc shares the benchmark's 3-gram run; the Bloom
        # screen must flag at least every exact hit (no false negatives)
        assert out["a"].n_exact > 0
        for r in out.values():
            assert r.n_bloom >= r.n_exact
            assert r.n_false_pos == r.n_bloom - r.n_exact

    def test_tiny_filter_forces_false_positives(self, spark):
        """m=4 bits saturates the filter: everything becomes
        bloom-positive, exact membership stays the truth — the audit's
        reason to exist."""
        from cassandra_pv_archiver_spark.operators.sketches import (
            bloom_contamination_audit,
        )

        sh, bench = self._fixture(spark)
        out = {r.grp: r for r in
               bloom_contamination_audit(sh, bench, m=4, k=2,
                                         group_col="source").collect()}
        assert out["b"].n_exact == 0
        assert out["b"].n_false_pos == out["b"].n_grams  # saturated filter
        assert out["b"].fp_rate == 1.0

    def test_k_budget_guard(self, spark):
        from cassandra_pv_archiver_spark.operators.sketches import (
            bloom_contamination_audit,
        )

        sh, bench = self._fixture(spark)
        with pytest.raises(ValueError, match="md5"):
            bloom_contamination_audit(sh, bench, k=9)


class TestSeasonalHodAnomalies:
    HOUR_NS = 3600 * 1_000_000_000

    def _samples(self, spark, rows):
        return spark.createDataFrame(
            rows, "channel string, t long, v double"
        )

    def test_census_matches_bruteforce_and_constant_cell(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import (
            seasonal_hod_anomalies,
        )

        # hod 0 of channel A: one wild outlier among 19 tight values —
        # its z² is exactly n-1 = 19 > 9. (With n = 10 it would be
        # exactly 9 and the strict > correctly leaves it unflagged.)
        # hod 1: constant (std 0, z undefined)
        rows = [("A", 0 * self.HOUR_NS + i, v)
                for i, v in enumerate([10.0] * 19 + [100.0])]
        rows += [("A", 1 * self.HOUR_NS + i, 7.0) for i in range(5)]
        out = {r.hod: r for r in seasonal_hod_anomalies(
            self._samples(spark, rows)).collect()}

        import math
        vals = [10.0] * 19 + [100.0]
        vi = [round(v * 100) for v in vals]
        n, s, s2 = len(vi), sum(vi), sum(x * x for x in vi)
        mean, var = s / n / 100, (n * s2 - s * s) / (n * n) / 1e4
        flags = sum(
            1 for x in vi if (x * n - s) ** 2 > 9 * (n * s2 - s * s)
        )
        cell = out[0]
        assert cell.n_samples == n and cell.n_anomalies == flags == 1
        assert abs(cell.mean - mean) < 1e-9
        assert abs(cell.std - math.sqrt(var)) < 1e-9
        assert abs(
            cell.max_abs_z
            - max(abs(x * n - s) for x in vi) / math.sqrt(n * s2 - s * s)
        ) < 1e-12

        const = out[1]
        assert const.n_samples == 5 and const.n_anomalies == 0
        assert const.std == 0.0 and const.max_abs_z is None

    def test_hod_wraps_days_and_partitioning_invariant(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import (
            seasonal_hod_anomalies,
        )

        # same hour on different days lands in one cell
        rows = [("B", (d * 24 + 5) * self.HOUR_NS, float(d)) for d in range(4)]
        df = self._samples(spark, rows)
        out = seasonal_hod_anomalies(df).collect()
        assert len(out) == 1 and out[0].hod == 5 and out[0].n_samples == 4
        again = seasonal_hod_anomalies(df.repartition(7)).collect()
        assert [tuple(r) for r in out] == [tuple(r) for r in again]


class TestKeySkewReport:
    def test_hand_computed_skew(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import key_skew_report

        # keys: a=6 rows, b=2, c=1, d=1 -> n=10 rows, 4 keys
        rows = [("a",)] * 6 + [("b",)] * 2 + [("c",)] + [("d",)]
        df = spark.createDataFrame(rows, "k string")
        r = key_skew_report(df, "k").collect()[0]
        assert r.n_rows == 10 and r.n_keys == 4
        assert r.top_key == "a" and r.max_rows_per_key == 6
        assert abs(r.max_key_share - 0.6) < 1e-15
        # ordered counts (c,k): (1,c),(1,d),(2,b),(6,a);
        # p50 -> rank ceil(2.0)=2 -> 1; p90 -> rank 4 -> 6; p99 -> 4 -> 6
        assert r.p50_rows_per_key == 1
        assert r.p90_rows_per_key == 6 and r.p99_rows_per_key == 6
        assert abs(r.skew_factor - 6 / 2.5) < 1e-12

    def test_flat_keys_factor_one_and_tie_break(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import key_skew_report

        df = spark.createDataFrame(
            [(k,) for k in "xyz" for _ in range(4)], "k string"
        )
        r = key_skew_report(df, "k").collect()[0]
        assert r.skew_factor == 1.0 and r.max_key_share == 4 / 12
        # all counts tie at 4: struct-max convention picks the LARGEST key
        assert r.top_key == "z"
        assert (r.p50_rows_per_key, r.p99_rows_per_key) == (4, 4)


class TestEwma:
    def test_hand_computed_trajectory(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import ewma_by_channel

        rows = [("c", i, v, 0, 0) for i, v in enumerate([4.0, 8.0, 8.0, 0.0])]
        out = ewma_by_channel(_samples(spark, rows)).collect()
        want = []
        e = None
        for v in [400, 800, 800, 0]:
            e = float(v) if e is None else 0.25 * v + 0.75 * e
            want.append(e / 100.0)
        assert [r.ewma for r in out] == want
        assert [r.v_q for r in out] == [4.0, 8.0, 8.0, 0.0]

    def test_channels_independent_and_partition_invariant(self, spark):
        from cassandra_pv_archiver_spark.operators.stats import ewma_by_channel

        rows = [("a", i, float(i), 0, 0) for i in range(20)] + [
            ("b", i, float(-i), 0, 0) for i in range(20)
        ]
        df = _samples(spark, rows)
        one = [(r.channel, r.t, r.ewma) for r in ewma_by_channel(df).collect()]
        two = [
            (r.channel, r.t, r.ewma)
            for r in ewma_by_channel(df.repartition(13)).collect()
        ]
        assert one == two
        # the seed is the first sample, not zero
        assert one[0][2] == 0.0 and one[20][2] == 0.0
        assert one[1][2] == 0.25 * 1.0
