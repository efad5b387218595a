"""Trend / changepoint / seasonality analyzers (operators/trend.py):
pure-Python mirrors, detection behavior on injected shifts/trends/
periods, degenerate series, and partition invariance."""

import math
import random

import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators.trend import (
    cusum_verdicts,
    series_autocorr,
    series_cusum,
    theil_sen_trend,
)


def _cusum_mirror(vals, k=0.5, h=5.0):
    """Sequential Page CUSUM in integer micro-z units — the recursion
    the closed form must equal."""
    vq = [round(v * 1e6) for v in vals]
    n = len(vq)
    s1 = sum(vq)
    s2 = sum(x * x for x in vq)
    varnum = n * s2 - s1 * s1
    if varnum <= 0:
        return [(None, None, False)] * n
    zq = [round((n * x - s1) / math.sqrt(varnum) * 1e6) for x in vq]
    kq = round(k * 1e6)
    sp = sn = 0
    out = []
    for q in zq:
        sp = max(0, sp + q - kq)
        sn = max(0, sn - q - kq)
        out.append((sp / 1e6, sn / 1e6, sp / 1e6 > h or sn / 1e6 > h))
    return out


def test_cusum_matches_sequential_recursion(spark):
    rnd = random.Random(11)
    rows = []
    series = {}
    for key, shift_at in [("a", 40), ("b", None)]:
        vals = []
        for t in range(80):
            v = 20.0 + (4.0 if shift_at and t >= shift_at else 0.0)
            v += rnd.uniform(-1, 1)
            vals.append(v)
            rows.append((key, t, v))
        series[key] = vals
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = (
        series_cusum(df, ["k"], "t", "v", k=0.5, h=4.0)
        .orderBy("k", "t")
        .collect()
    )
    for key, vals in series.items():
        mirror = _cusum_mirror(vals, k=0.5, h=4.0)
        rows_k = [r for r in got if r.k == key]
        for r, (sp, sn, alarm) in zip(rows_k, mirror):
            assert r.s_pos == pytest.approx(sp, abs=1e-9)
            assert r.s_neg == pytest.approx(sn, abs=1e-9)
            assert r.alarm == alarm


def test_cusum_detects_level_shift_with_changepoint(spark):
    rnd = random.Random(3)
    rows = [
        ("s", t, 10.0 + (3.0 if t >= 50 else 0.0) + rnd.uniform(-0.3, 0.3))
        for t in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    scored = series_cusum(df, ["k"], "t", "v", k=0.5, h=3.0)
    v = cusum_verdicts(scored, ["k"], "t").collect()[0]
    assert v.n_alarms > 0
    # the positive walk alarms shortly after the shift and its
    # changepoint estimate (last in-control instant) sits near t=50
    first_pos = (
        scored.filter(F.col("alarm_pos")).agg(F.min("t")).collect()[0][0]
    )
    assert 50 <= first_pos <= 60
    cp = (
        scored.filter(F.col("alarm_pos") & (F.col("t") == first_pos))
        .select("cp_pos")
        .collect()[0][0]
    )
    assert 40 <= cp <= 52


def test_cusum_constant_series_never_alarms(spark):
    df = spark.createDataFrame(
        [("c", t, 7.0) for t in range(30)], "k string, t int, v double"
    )
    got = series_cusum(df, ["k"], "t", "v").collect()
    assert all(not r.alarm for r in got)
    assert all(r.z is None and r.s_pos is None for r in got)


def test_cusum_null_and_nan_values_excluded(spark):
    rows = [("k", 0, 1.0), ("k", 1, None), ("k", 2, float("nan")),
            ("k", 3, 2.0), ("k", 4, 3.0)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = series_cusum(df, ["k"], "t", "v").collect()
    assert sorted(r.t for r in got) == [0, 3, 4]


def test_cusum_partition_invariance(spark):
    rnd = random.Random(5)
    rows = [("p", t, rnd.uniform(0, 100)) for t in range(60)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    a = series_cusum(df.coalesce(1), ["k"], "t", "v").orderBy("t").collect()
    b = series_cusum(df.repartition(7), ["k"], "t", "v").orderBy("t").collect()
    assert [(r.s_pos, r.s_neg, r.cp_pos, r.cp_neg) for r in a] == [
        (r.s_pos, r.s_neg, r.cp_pos, r.cp_neg) for r in b
    ]


def _type1_median(xs):
    s = sorted(xs)
    return s[(len(s) + 1) // 2 - 1]


def test_theil_sen_mirror_and_robustness(spark):
    rnd = random.Random(9)
    xs = list(range(30))
    vals = [3.0 * x + 5.0 + rnd.uniform(-0.2, 0.2) for x in xs]
    # inject 4 gross outliers — the median slope must not move far
    for i in (3, 11, 19, 27):
        vals[i] += 500.0
    df = spark.createDataFrame(
        [("s", float(x), v) for x, v in zip(xs, vals)],
        "k string, x double, v double",
    )
    got = theil_sen_trend(df, ["k"], "x", "v").collect()[0]
    slopes = [
        (vals[j] - vals[i]) / (xs[j] - xs[i])
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    ]
    assert got.slope == _type1_median(slopes)
    assert got.slope == pytest.approx(3.0, abs=0.3)
    inters = [v - got.slope * x for x, v in zip(xs, vals)]
    assert got.intercept == _type1_median(inters)
    assert got.n == 30 and got.n_pairs == 435


def test_theil_sen_duplicate_x_excluded(spark):
    df = spark.createDataFrame(
        [("k", 1.0, 1.0), ("k", 1.0, 9.0), ("k", 2.0, 2.0)],
        "k string, x double, v double",
    )
    got = theil_sen_trend(df, ["k"], "x", "v").collect()[0]
    # slopes: (2-1)/1=1, (2-9)/1=-7 — type-1 median = -7
    assert got.slope == -7.0
    # n_pairs counts pairs ACTUALLY used: the duplicate-x pair is
    # excluded (round-4 ADVICE: the old n_pairs_upper said 3)
    assert got.n_pairs == 2 and got.n == 3


def test_autocorr_exact_mirror(spark):
    rnd = random.Random(13)
    vals = [rnd.uniform(-5, 5) for _ in range(50)]
    df = spark.createDataFrame(
        [("k", t, v) for t, v in enumerate(vals)],
        "k string, t int, v double",
    )
    got = {
        r.lag: r.acf
        for r in series_autocorr(df, ["k"], "t", "v", max_lag=6).collect()
    }
    vq = [round(v * 1e6) for v in vals]
    n, S = len(vq), sum(vq)
    S2 = sum(x * x for x in vq)
    den = n * n * S2 - n * S * S
    for lag in range(1, 7):
        P = sum(vq[t] * vq[t + lag] for t in range(n - lag))
        A = sum(vq[: n - lag])
        B = sum(vq[lag:])
        num = n * n * P - n * S * (A + B) + (n - lag) * S * S
        # cast-each-side-then-divide, matching the engine (and the
        # DuckDB twin): exact-rational big-int division differs in the
        # last ulp
        assert got[lag] == float(num) / float(den)


def test_autocorr_period_discovery(spark):
    pattern = [2.0, 8.0, 3.0, -1.0, 0.0]
    df = spark.createDataFrame(
        [("p", t, pattern[t % 5] + 0.001 * t) for t in range(60)],
        "k string, t int, v double",
    )
    acf = series_autocorr(df, ["k"], "t", "v", max_lag=9).collect()
    # the period is the lag with the largest positive acf
    best = max((r for r in acf if r.acf is not None), key=lambda r: r.acf)
    assert best.lag == 5
    assert best.acf > 0.9


def test_autocorr_constant_series_null(spark):
    df = spark.createDataFrame(
        [("c", t, 4.0) for t in range(20)], "k string, t int, v double"
    )
    got = series_autocorr(df, ["k"], "t", "v", max_lag=3).collect()
    assert all(r.acf is None for r in got)


def test_autocorr_partition_invariance(spark):
    rnd = random.Random(17)
    rows = [("a", t, rnd.uniform(0, 9)) for t in range(40)] + [
        ("b", t, rnd.uniform(0, 9)) for t in range(35)
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    a = sorted(
        series_autocorr(df.coalesce(1), ["k"], "t", "v", 5).collect(),
        key=lambda r: (r.k, r.lag),
    )
    b = sorted(
        series_autocorr(df.repartition(8), ["k"], "t", "v", 5).collect(),
        key=lambda r: (r.k, r.lag),
    )
    assert [(r.k, r.lag, r.acf) for r in a] == [
        (r.k, r.lag, r.acf) for r in b
    ]


# ------------------------------------------------------------------ EWMA
def _ewma_mirror(vals, mu, sigma, lam=0.25, L=3.0):
    import math as _m

    q = 1.0 - lam
    q2 = q * q
    c = lam / (2.0 - lam)
    e, f = mu, 1.0
    out = []
    for v in vals:
        e = lam * v + q * e
        f = f * q2
        hw = L * sigma * _m.sqrt(c * (1.0 - f))
        out.append((e, mu + hw, mu - hw, e > mu + hw or e < mu - hw))
    return out


def test_ewma_chart_mirror_and_small_shift(spark):
    from anomalydetector_spark.operators.trend import (
        cusum_reference,
        ewma_chart,
    )

    rnd = random.Random(31)
    # small 1.2σ shift at t=40 — a Shewhart 3σ rule misses it, the
    # EWMA chart catches it within a few windows
    vals = []
    for t in range(80):
        v = 100.0 + rnd.uniform(-1.5, 1.5) + (1.2 if t >= 40 else 0.0)
        vals.append(v)
    df = spark.createDataFrame(
        [("s", t, v) for t, v in enumerate(vals)],
        "k string, t int, v double",
    )
    ref = cusum_reference(
        df.filter(F.col("t") < 40), ["k"], "v"
    )
    got = (
        ewma_chart(df, ["k"], "t", "v", lam=0.25, L=3.0, reference=ref)
        .orderBy("t")
        .collect()
    )
    r = ref.collect()[0]
    exp = _ewma_mirror(vals, r.mu, r.sigma)
    for g, (e, u, l, a) in zip(got, exp):
        assert (g.ewma, g.ucl, g.lcl, g.alarm) == (e, u, l, a)
    # the chart alarms after the small shift, within 10 windows
    first = next(g.t for g in got if g.alarm)
    assert 40 <= first <= 50
    # no false alarm in the in-control half
    assert all(not g.alarm for g in got if g.t < 40)
    # Shewhart 3σ on raw values misses this shift entirely
    assert all(abs(v - r.mu) < 3 * r.sigma for v in vals)


def test_ewma_chart_derived_reference_and_degenerate(spark):
    from anomalydetector_spark.operators.trend import ewma_chart

    rows = [("a", t, 5.0 + 0.1 * (t % 3)) for t in range(20)] + [
        ("const", t, 9.0) for t in range(20)
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = ewma_chart(df, ["k"], "t", "v").collect()
    const = [r for r in got if r.k == "const"]
    assert const and all(
        r.ewma is None and not r.alarm for r in const
    )
    a = [r for r in got if r.k == "a"]
    assert all(r.ewma is not None for r in a)


def test_ewma_partition_invariance(spark):
    from anomalydetector_spark.operators.trend import ewma_chart

    rnd = random.Random(33)
    rows = [("p", t, rnd.uniform(0, 50)) for t in range(60)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    a = ewma_chart(df.coalesce(1), ["k"], "t", "v").orderBy("t").collect()
    b = ewma_chart(df.repartition(7), ["k"], "t", "v").orderBy("t").collect()
    assert [(r.ewma, r.ucl) for r in a] == [(r.ewma, r.ucl) for r in b]


# --------------------------------------------------- seasonal expectation
def test_seasonal_expectation_weekly_mask(spark):
    """A weekly-periodic series with one anomalous Monday: plain
    mean-based checks see Mondays as 'high' every week; the seasonal
    check flags ONLY the broken one."""
    from anomalydetector_spark.operators.trend import seasonal_expectation

    vals = []
    for t in range(56):  # 8 weeks
        base = 100.0 if t % 7 == 0 else 20.0  # Mondays 5x the rest
        if t == 42:  # week 7's Monday collapses
            base = 30.0
        vals.append(base)
    df = spark.createDataFrame(
        [("s", t, v) for t, v in enumerate(vals)],
        "k string, t int, v double",
    )
    got = {
        r.t: r
        for r in seasonal_expectation(
            df, ["k"], "t", "v", season_lag=7, n_seasons=4, tolerance=0.5
        ).collect()
    }
    flagged = sorted(t for t, r in got.items() if r.flagged)
    assert 42 in flagged
    # the healthy Mondays after enough history are NOT flagged
    assert 35 not in flagged and 28 not in flagged
    # week-8 Monday (t=49) compares against a history containing the
    # broken week — mean (100+100+100+30)/4 = 82.5, dev 17.5/82.5 < 0.5
    assert 49 not in flagged
    # exact expected at t=42: mean of t=35,28,21,14 = 100
    assert got[42].expected == 100.0
    assert got[42].rel_dev == (4 * 30_000_000 - 400_000_000) / 400_000_000
    # first season_lag rows have no history
    assert all(
        got[t].expected is None and not got[t].flagged
        for t in range(7)
    )
    assert got[13].n_history == 1 and got[42].n_history == 4

    # clean period-7 series with different phases + noise: nothing flags
    rnd = random.Random(47)
    rows = []
    for s in range(3):
        for t in range(56):
            v = 50.0 + (30.0 if (t + s) % 7 == 0 else 0.0)
            rows.append((f"s{s}", t, v + rnd.uniform(-1, 1)))
    clean = spark.createDataFrame(rows, "k string, t int, v double")
    got = seasonal_expectation(
        clean, ["k"], "t", "v", season_lag=7, n_seasons=4, tolerance=0.3
    )
    assert got.filter("flagged").count() == 0


def test_seasonal_expectation_zero_history_and_invariance(spark):
    from anomalydetector_spark.operators.trend import seasonal_expectation

    rows = [("k", t, 0.0) for t in range(14)] + [("k", 14, 5.0)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {r.t: r for r in seasonal_expectation(
        df, ["k"], "t", "v", season_lag=7, n_seasons=2
    ).collect()}
    # burst after dead weeks: expected 0 -> any volume flags
    assert got[14].flagged and got[14].rel_dev is None
    assert not got[7].flagged  # zero matching zero history

    import random
    rnd = random.Random(41)
    big = [("p", t, rnd.uniform(0, 50)) for t in range(60)]
    bdf = spark.createDataFrame(big, "k string, t int, v double")
    a = seasonal_expectation(bdf.coalesce(1), ["k"], "t", "v").orderBy("t").collect()
    b = seasonal_expectation(bdf.repartition(9), ["k"], "t", "v").orderBy("t").collect()
    assert [(r.expected, r.rel_dev, r.flagged) for r in a] == [
        (r.expected, r.rel_dev, r.flagged) for r in b
    ]


def test_seasonal_expectation_negative_series(spark):
    """Regression (round-4 ADVICE): a NEGATIVE seasonal history sum
    used to make rel_dev NULL and drop the flag to `value != 0`,
    flagging every non-zero window of a negative-valued stat series.
    With the |s| denominator the deviation is well-defined and only
    genuine departures flag."""
    from anomalydetector_spark.operators.trend import seasonal_expectation

    # steady -10 series, lag 3: every in-history window sits exactly on
    # its seasonal expectation -> rel_dev 0.0, nothing flags
    rows = [("k", t, -10.0) for t in range(12)]
    # one genuine departure at the end
    rows.append(("k", 12, -30.0))
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {r.t: r for r in seasonal_expectation(
        df, ["k"], "t", "v", season_lag=3, n_seasons=2, tolerance=0.5
    ).collect()}
    steady = [got[t] for t in range(3, 12)]
    assert all(r.rel_dev == 0.0 for r in steady)
    assert not any(r.flagged for r in steady)
    assert got[12].expected == -10.0
    # (1*(-30) - (-10)) / |-10| = -2.0
    assert got[12].rel_dev == pytest.approx(-2.0)
    assert got[12].flagged
    # streaming twin agrees on the same arithmetic (pure-python mirror)
    s = -10_000_000 * 2  # two lags of vq = -1e7
    rel = float(2 * (-30_000_000) - s) / float(abs(s))
    assert rel == pytest.approx(-2.0)
