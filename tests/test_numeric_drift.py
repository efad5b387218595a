"""Numeric histogram drift (operators/divergence.numeric_window_drift):
TFDV-style L-infinity plus TVD and binned EMD between consecutive
windows, exact cross-multiplied integer arithmetic."""

import datetime as dt
import math
import random
from collections import Counter

import pyspark.sql.functions as F

from anomalydetector_spark.operators.divergence import (
    numeric_bin,
    numeric_window_drift,
)

LO, HI, NB = 0.0, 10.0, 10
T0 = dt.datetime(2024, 1, 1)


def bin_py(v, lo=LO, hi=HI, nb=NB):
    w = (hi - lo) / nb
    return min(max(int(math.floor((v - lo) / w)), 0), nb - 1)


def drift_py(rows, lo=LO, hi=HI, nb=NB):
    """Dense-histogram mirror — the operator's sparse gap-weighted EMD
    must equal this dense form."""
    by_day = {}
    for ts, v in rows:
        if v is None:
            continue
        day = dt.datetime(ts.year, ts.month, ts.day)
        by_day.setdefault(day, Counter())[bin_py(v, lo, hi, nb)] += 1
    out = {}
    for day, cur in sorted(by_day.items()):
        prev = by_day.get(day - dt.timedelta(days=1))
        if prev is None:
            continue
        tc, td = sum(cur.values()), sum(prev.values())
        xs = [cur.get(i, 0) * td - prev.get(i, 0) * tc for i in range(nb)]
        cum, emd = 0, 0
        for x in xs:
            cum += x
            emd += abs(cum)
        den = float(tc * td)
        out[day] = (
            max(abs(x) for x in xs) / den,
            sum(abs(x) for x in xs) / den / 2.0,
            emd / den,
        )
    return out


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {}
    for r in numeric_window_drift(
        df, lo=kw.get("lo", LO), hi=kw.get("hi", HI),
        n_bins=kw.get("nb", NB),
    ).collect():
        got[r.window_start] = (r.linf, r.tvd, r.emd)
    return got


def test_matches_dense_pure_python(spark):
    rng = random.Random(17)
    rows = []
    for d in range(6):
        # shift the distribution day over day so drift is non-zero
        for _ in range(rng.randint(30, 80)):
            rows.append(
                (T0 + dt.timedelta(days=d, seconds=rng.randint(0, 86000)),
                 min(max(rng.gauss(3 + d, 1.5), 0.0), 9.99)),
            )
    assert _run(spark, rows) == drift_py(rows)


def test_identical_windows_have_zero_drift(spark):
    rows = []
    for d in range(3):
        for i in range(50):
            rows.append(
                (T0 + dt.timedelta(days=d, seconds=i), float(i % 10))
            )
    got = _run(spark, rows)
    assert len(got) == 2
    for linf, tvd, emd in got.values():
        assert linf == tvd == emd == 0.0


def test_total_shift_maximizes_tvd_and_emd_counts_distance(spark):
    # day 0 all in bin 0, day 1 all in bin 9: tvd = 1, emd = 9 bins
    rows = [(T0 + dt.timedelta(seconds=i), 0.5) for i in range(40)]
    rows += [
        (T0 + dt.timedelta(days=1, seconds=i), 9.5) for i in range(25)
    ]
    got = _run(spark, rows)
    (linf, tvd, emd), = got.values()
    assert linf == 1.0 and tvd == 1.0 and emd == 9.0


def test_empty_middle_bins_still_count_in_emd(spark):
    # mass moves 0 -> 5; bins 1..4 are empty on both sides but the
    # cumulative mismatch persists across them: emd = 5, tvd = 1
    rows = [(T0 + dt.timedelta(seconds=i), 0.5) for i in range(30)]
    rows += [
        (T0 + dt.timedelta(days=1, seconds=i), 5.5) for i in range(30)
    ]
    (vals,) = _run(spark, rows).values()
    assert vals == (1.0, 1.0, 5.0)


def test_out_of_range_values_clamp(spark):
    rows = [(T0 + dt.timedelta(seconds=i), -50.0) for i in range(10)]
    rows += [
        (T0 + dt.timedelta(days=1, seconds=i), 999.0) for i in range(10)
    ]
    (vals,) = _run(spark, rows).values()
    assert vals == (1.0, 1.0, 9.0)  # edge bin to edge bin


def test_nan_values_excluded_like_nulls(spark):
    # a NaN burst must not read as mass shifting into bin 0
    rows = [(T0 + dt.timedelta(seconds=i), 5.0) for i in range(20)]
    rows += [
        (T0 + dt.timedelta(days=1, seconds=i), 5.0) for i in range(20)
    ]
    rows += [
        (T0 + dt.timedelta(days=1, seconds=500 + i), float("nan"))
        for i in range(30)
    ]
    (vals,) = _run(spark, rows).values()
    assert vals == (0.0, 0.0, 0.0)


def test_nulls_excluded_and_gap_windows_skipped(spark):
    rows = [(T0 + dt.timedelta(seconds=i), 1.0) for i in range(10)]
    rows += [(T0 + dt.timedelta(seconds=99), None)]
    # day 1 missing entirely; day 2 present -> no pair emitted
    rows += [
        (T0 + dt.timedelta(days=2, seconds=i), 2.0) for i in range(10)
    ]
    assert _run(spark, rows) == {}


def test_partition_invariance(spark):
    rng = random.Random(23)
    rows = [
        (T0 + dt.timedelta(days=d, seconds=rng.randint(0, 86000)),
         rng.uniform(0, 10))
        for d in range(4) for _ in range(60)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    a = sorted(map(tuple, numeric_window_drift(df.repartition(1)).collect()))
    b = sorted(map(tuple, numeric_window_drift(df.repartition(16)).collect()))
    assert a == b


def test_bin_expression_is_codegen(spark):
    df = spark.createDataFrame(
        [(T0, 1.0)], "ts timestamp, value double"
    )
    plan = (
        df.select(numeric_bin(F.col("value"), LO, HI, NB))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


# ---- exact two-sample KS (ks_drift_from_value_counts) ----

from anomalydetector_spark.operators.divergence import numeric_window_ks  # noqa: E402


def ks_py(rows):
    """Pure-python mirror: exact integer cross-multiplied KS per
    consecutive-day pair."""
    by_day = {}
    for ts, v in rows:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        day = dt.datetime(ts.year, ts.month, ts.day)
        by_day.setdefault(day, Counter())[v] += 1
    out = {}
    for day, cur in sorted(by_day.items()):
        prev = by_day.get(day - dt.timedelta(days=1))
        if prev is None:
            continue
        tc, td = sum(cur.values()), sum(prev.values())
        support = sorted(set(cur) | set(prev))
        cum, best = 0, 0
        for v in support:
            cum += cur.get(v, 0) * td - prev.get(v, 0) * tc
            best = max(best, abs(cum))
        out[day] = (best / float(tc * td), len(support))
    return out


def _run_ks(spark, rows):
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    return {
        r.window_start: (r.ks, r.n_support)
        for r in numeric_window_ks(df).collect()
    }


def test_ks_matches_pure_python(spark):
    rng = random.Random(31)
    rows = []
    for d in range(6):
        for _ in range(rng.randint(40, 90)):
            # discrete support (quantized), the operator's target shape
            rows.append(
                (T0 + dt.timedelta(days=d, seconds=rng.randint(0, 86000)),
                 float(max(0, min(19, round(rng.gauss(6 + d, 3.0)))))),
            )
    assert _run_ks(spark, rows) == ks_py(rows)


def test_ks_identical_is_zero_and_disjoint_is_one(spark):
    rows = [(T0 + dt.timedelta(seconds=i), float(i % 5)) for i in range(50)]
    rows += [
        (T0 + dt.timedelta(days=1, seconds=i), float(i % 5))
        for i in range(50)
    ]
    # day 2's support is disjoint from day 1's -> KS = 1 exactly
    rows += [
        (T0 + dt.timedelta(days=2, seconds=i), float(100 + i % 3))
        for i in range(30)
    ]
    got = _run_ks(spark, rows)
    assert got[T0 + dt.timedelta(days=1)][0] == 0.0
    assert got[T0 + dt.timedelta(days=2)][0] == 1.0


def test_ks_known_hand_case(spark):
    # prev = {1:2, 2:2}, cur = {1:1, 2:1, 3:2}
    # support 1: |1*4 - 2*4|/16 = 4/16; support 2: |2*4 - 4*4|/16 = 8/16
    # support 3: cum -> 0. KS = 0.5
    rows = [(T0 + dt.timedelta(seconds=i), v) for i, v in
            enumerate([1.0, 1.0, 2.0, 2.0])]
    rows += [(T0 + dt.timedelta(days=1, seconds=i), v) for i, v in
             enumerate([1.0, 2.0, 3.0, 3.0])]
    (val,), = (v for v in [list(_run_ks(spark, rows).values())])
    assert val == (0.5, 3)


def test_ks_nan_null_excluded_and_partition_invariant(spark):
    rng = random.Random(7)
    rows = [
        (T0 + dt.timedelta(days=d, seconds=rng.randint(0, 86000)),
         float(rng.randint(0, 8)))
        for d in range(4) for _ in range(60)
    ]
    rows += [(T0 + dt.timedelta(days=1, seconds=86390), None)]
    rows += [(T0 + dt.timedelta(days=2, seconds=86390), float("nan"))]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    a = sorted(map(tuple, numeric_window_ks(df.repartition(1)).collect()))
    b = sorted(map(tuple, numeric_window_ks(df.repartition(16)).collect()))
    assert a == b == sorted(
        (k, v[0], v[1]) for k, v in ks_py(rows).items()
    )


# ---- PSI + chi-square (psi_chi2_from_bin_counts) ----

from anomalydetector_spark.operators.divergence import (  # noqa: E402
    numeric_window_psi,
)


def _half_up_micro(x):
    """Spark round(double, 0): shortest decimal repr -> BigDecimal
    HALF_UP (see test_bigram_lm.r)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(0, rounding=ROUND_HALF_UP))


def psi_py(rows, lo=LO, hi=HI, nb=NB, alpha=1):
    """Pure-python mirror replaying the operator's pinned arithmetic
    order: exact integer smoothed counts, per-bin micro-quantized
    transcendentals, integer sums, one final double division chain."""
    by_day = {}
    for ts, v in rows:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        day = dt.datetime(ts.year, ts.month, ts.day)
        by_day.setdefault(day, Counter())[bin_py(v, lo, hi, nb)] += 1
    out = {}
    for day, cur in sorted(by_day.items()):
        prev = by_day.get(day - dt.timedelta(days=1))
        if prev is None:
            continue
        union = sorted(set(cur) | set(prev))
        B = len(union)
        tc = sum(cur.values()) + alpha * B
        td = sum(prev.values()) + alpha * B
        psi_num, chi_sum = 0, 0
        for i in union:
            c, d = cur.get(i, 0) + alpha, prev.get(i, 0) + alpha
            num = c * td - d * tc
            lnm = _half_up_micro(
                math.log((float(c) * float(td)) / (float(d) * float(tc)))
                * 1e6
            )
            chim = _half_up_micro(
                float(num) * float(num)
                / float(tc * td * (c + d)) * 1e6
            )
            psi_num += num * lnm
            chi_sum += chim
        psi = float(psi_num) / float(tc * td) / 1e6
        chi2 = float(chi_sum) / 1e6
        v_ = math.sqrt(float(chi_sum) / 1e6 / float(tc + td))
        out[day] = (psi, chi2, v_, B)
    return out


def _run_psi(spark, rows, alpha=1):
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    return {
        r.window_start: (r.psi, r.chi2, r.cramers_v, r.n_bins_union)
        for r in numeric_window_psi(
            df, lo=LO, hi=HI, n_bins=NB, alpha=alpha
        ).collect()
    }


def test_psi_matches_pure_python(spark):
    rng = random.Random(17)
    rows = []
    for d in range(6):
        for _ in range(rng.randint(50, 120)):
            rows.append(
                (T0 + dt.timedelta(days=d, seconds=rng.randint(0, 86000)),
                 min(HI - 1e-9, max(LO, rng.gauss(3 + d * 0.8, 2.0)))),
            )
    assert _run_psi(spark, rows) == psi_py(rows)


def test_psi_identical_windows_near_zero(spark):
    # identical distributions: every num = 0 -> psi = chi2 = 0 exactly
    rows = [(T0 + dt.timedelta(seconds=i), float(i % 7)) for i in range(70)]
    rows += [(T0 + dt.timedelta(days=1, seconds=i), float(i % 7))
             for i in range(70)]
    got = _run_psi(spark, rows)
    psi, chi2, v_, b = got[T0 + dt.timedelta(days=1)]
    assert psi == 0.0 and chi2 == 0.0 and v_ == 0.0 and b == 7


def test_psi_disjoint_support_defined_and_large(spark):
    # disjoint bins would be +inf unsmoothed; alpha=1 keeps it finite,
    # large, and symmetric-positive
    rows = [(T0 + dt.timedelta(seconds=i), 0.0) for i in range(50)]
    rows += [(T0 + dt.timedelta(days=1, seconds=i), 9.0) for i in range(50)]
    got = _run_psi(spark, rows)
    psi, chi2, v_, b = got[T0 + dt.timedelta(days=1)]
    assert b == 2 and psi > 5.0 and chi2 > 50.0 and 0.0 < v_ <= 1.0
    assert got == psi_py(rows)


def test_psi_nan_null_and_partition_invariance(spark):
    rng = random.Random(5)
    rows = [
        (T0 + dt.timedelta(days=d, seconds=rng.randint(0, 86000)),
         min(HI - 1e-9, max(LO, rng.gauss(4 + d, 2.5))))
        for d in range(4) for _ in range(80)
    ]
    rows += [(T0 + dt.timedelta(days=1, seconds=86399), None),
             (T0 + dt.timedelta(days=2, seconds=86399), float("nan"))]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    a = sorted(map(tuple, numeric_window_psi(
        df.repartition(1), lo=LO, hi=HI, n_bins=NB).collect()))
    b = sorted(map(tuple, numeric_window_psi(
        df.repartition(16), lo=LO, hi=HI, n_bins=NB).collect()))
    assert a == b == sorted(
        (k, *v) for k, v in psi_py(rows).items()
    )


def test_psi_alpha_zero_shared_support(spark):
    # alpha=0 is exact unsmoothed PSI when both windows share support
    rows = [(T0 + dt.timedelta(seconds=i), float(i % 4)) for i in range(40)]
    rows += [(T0 + dt.timedelta(days=1, seconds=i), float((i % 4) if i < 30 else 0))
             for i in range(40)]
    assert _run_psi(spark, rows, alpha=0) == psi_py(rows, alpha=0)


# ---- equi-depth binning (equi_depth_bounds / bin_by_bounds) ----

from anomalydetector_spark.operators.divergence import (  # noqa: E402
    bin_by_bounds,
    equi_depth_bounds,
    numeric_window_drift_equidepth,
)


def bounds_py(values, nb):
    vals = sorted(v for v in values
                  if v is not None and not math.isnan(v))
    n = len(vals)
    return [vals[-(-q * n // nb) - 1] for q in range(1, nb)]


def test_exact_bounds_match_type1_quantiles(spark):
    rng = random.Random(23)
    vals = [round(rng.gauss(50.0, 20.0), 2) for _ in range(999)]
    vals += [None, float("nan")]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    got = equi_depth_bounds(df, "value", 10, exact=True)
    assert got == bounds_py(vals, 10)


def test_exact_bounds_skewed_repeats(spark):
    # one value owns 70% of the mass -> repeated boundaries
    vals = [5.0] * 700 + [float(i) for i in range(300)]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    got = equi_depth_bounds(df, "value", 4, exact=True)
    assert got == bounds_py(vals, 4)
    assert got[0] == got[1] == 5.0  # q25 and q50 collapse onto the mode


def test_approx_bounds_close_to_exact(spark):
    rng = random.Random(9)
    vals = [rng.uniform(0, 1000) for _ in range(20000)]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    exact = bounds_py(vals, 5)
    approx = equi_depth_bounds(df, "value", 5, exact=False)
    assert len(approx) == 4
    for a, x in zip(approx, exact):
        assert abs(a - x) < 25  # loose: sketch error on 20k uniform rows


def test_bin_by_bounds_semantics(spark):
    df = spark.createDataFrame(
        [(v,) for v in [0.0, 1.0, 1.5, 2.0, 99.0]], "value double"
    )
    got = [
        r.b for r in df.select(
            bin_by_bounds(F.col("value"), [1.0, 2.0]).alias("b")
        ).collect()
    ]
    # boundary values go UP: 1.0 -> bin 1, 2.0 -> bin 2
    assert got == [0, 1, 1, 2, 2]
    # repeated boundary leaves the middle bin empty
    got2 = [
        r.b for r in df.select(
            bin_by_bounds(F.col("value"), [2.0, 2.0]).alias("b")
        ).collect()
    ]
    assert got2 == [0, 0, 0, 2, 2]


def test_equidepth_drift_equals_manual_binning(spark):
    rng = random.Random(41)
    rows = []
    for d in range(5):
        for _ in range(150):
            rows.append(
                (T0 + dt.timedelta(days=d, seconds=rng.randint(0, 86000)),
                 rng.gauss(40 + 10 * d, 15.0)),
            )
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    bounds = equi_depth_bounds(df, "value", 8, exact=True)
    auto = sorted(map(tuple, numeric_window_drift_equidepth(
        df, n_bins=8, exact_bounds=True).collect()))
    manual_counts = (
        df.groupBy(
            F.window("ts", "1 day").alias("w"),
            bin_by_bounds(F.col("value"), bounds).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"), "bin", "n")
    )
    from anomalydetector_spark.operators.divergence import (
        numeric_drift_from_bin_counts,
    )

    manual = sorted(map(tuple,
                        numeric_drift_from_bin_counts(manual_counts)
                        .collect()))
    assert auto == manual and len(auto) == 4
    # frozen-bounds path: passing the same bounds is identical
    frozen = sorted(map(tuple, numeric_window_drift_equidepth(
        df, n_bins=8, bounds=bounds).collect()))
    assert frozen == auto


# ------------------------------------------------- windowed correlation
def test_numeric_window_corr_mirror(spark):
    import datetime as dt
    import math
    import random

    from anomalydetector_spark.operators.divergence import (
        numeric_window_corr,
    )

    rnd = random.Random(19)
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for d in range(3):
        for i in range(50):
            a = rnd.uniform(0, 100)
            b = 2.0 * a + rnd.uniform(-5, 5) if d < 2 else rnd.uniform(0, 100)
            rows.append((t0 + dt.timedelta(days=d, seconds=i * 60), a, b))
    df = spark.createDataFrame(rows, "ts timestamp, a double, b double")
    got = {
        r.window_start.day: (r.corr, r.n)
        for r in numeric_window_corr(df, "ts", "a", "b", "1 day").collect()
    }
    # python mirror on micro ints per day
    by_day = {}
    for ts, a, b in rows:
        by_day.setdefault(ts.day, []).append((round(a * 1e6), round(b * 1e6)))
    for day, pts in by_day.items():
        n = len(pts)
        sa = sum(a for a, _ in pts); sb = sum(b for _, b in pts)
        sa2 = sum(a * a for a, _ in pts); sb2 = sum(b * b for _, b in pts)
        sab = sum(a * b for a, b in pts)
        exp = float(n * sab - sa * sb) / (
            math.sqrt(float(n * sa2 - sa * sa))
            * math.sqrt(float(n * sb2 - sb * sb))
        )
        assert got[day] == (exp, n)
    # the coupled days are strongly correlated, the broken day is not
    assert got[1][0] > 0.95 and got[2][0] > 0.95
    assert abs(got[3][0]) < 0.5


def test_numeric_window_corr_constant_and_nulls(spark):
    import datetime as dt

    from anomalydetector_spark.operators.divergence import (
        numeric_window_corr,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(seconds=i), 5.0, float(i)) for i in range(10)]
    rows += [(t0 + dt.timedelta(seconds=100), None, 1.0),
             (t0 + dt.timedelta(seconds=101), float("nan"), 1.0)]
    df = spark.createDataFrame(rows, "ts timestamp, a double, b double")
    got = numeric_window_corr(df, "ts", "a", "b", "1 day").collect()
    assert len(got) == 1
    assert got[0].corr is None and got[0].n == 10  # constant a, nulls excluded
