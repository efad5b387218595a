"""Per-series trend / changepoint / seasonality analyzers over bounded
windowed stat series — the three classical lenses the SR detector does
NOT provide, riding the exact same series shape the engine's drift
machinery emits (``(*part_cols, order, value)`` with one bounded row
per window per series):

* :func:`series_cusum` — two-sided Page CUSUM. SR is a *saliency*
  detector (spikes/dips stand out against the local spectrum); CUSUM is
  the complementary *sustained level-shift* detector — a small
  persistent mean shift that SR's spectral residual smooths away
  accumulates linearly in the CUSUM walk and alarms. Reference anchor:
  the same per-window stat series scored by
  ``msanomalydetector/spectral_residual.py`` feed this operator.
* :func:`theil_sen_trend` — robust slope (median of pairwise slopes,
  Sen 1968): monotone drift magnitude with a 29% breakdown point, so a
  few anomalous windows cannot fake or hide a trend.
* :func:`series_autocorr` — exact sample autocorrelation at lags
  ``1..L``, whose largest positive acf marks the period:
  periodicity/seasonality discovery for stat series (the "is this
  daily-periodic" question that decides whether a drift alarm is
  seasonality or a real shift).

Determinism contract (the repo's cross-engine float rule): series
values micro-quantize once at entry (``round(v·1e6)`` HALF_UP →
decimal(38,0)); every cumulative / pairwise quantity that feeds a
comparison is an EXACT integer (the CUSUM walk runs wholly in integer
micro-z units via the running-min closed form; ACF reduces to an
integer polynomial in the per-series sums); doubles appear only in
per-row pinned-order scalar expressions (the z standardization, the
pairwise slope ratio) and in ONE final division — so every output is
partitioning-independent and a DuckDB twin reproduces it bit-for-bit.

CUSUM closed form (why no recursion is needed): Page's
``S⁺_t = max(0, S⁺_{t−1} + z_t − k)`` telescopes to
``S⁺_t = C_t − min(0, min_{j≤t} C_j)`` with ``C_t = Σ_{i≤t}(z_i − k)``
— a cumulative sum plus a running min, both plain window aggregates
over exact integers (an order-independent SET sum per prefix, so no
float-accumulation-order hazard exists at any partitioning). The
argmin of the running min is the changepoint estimate — on ties the
FIRST time the walk reached its floor (the ``min`` over the encoding
``C·2²⁰ + rownum`` selects the smallest rownum among equal ``C``, and
the streaming twin's strict ``<`` update agrees); it is carried
through the same window via that order-preserving integer encoding
(valid for series up to 2²⁰ windows — far above any real
windows-per-series cardinality).

Scale shape: inputs are POST-aggregation stat series (windows ×
partitions rows, independent of raw row count). One shuffle keys the
series; every window function partitions by the series key; pairwise
stages (Theil–Sen, ACF lags) are bounded self-equi-joins of the series
frame — O(w²) and O(w·L) per series where w = windows per series.
Raw-row inputs should be aggregated to windows first (the
``*_windowed`` query wrappers do exactly that).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"
_ENC = 1 << 20  # rownum encoding base for the argmin carry


def _micro(col: Column) -> Column:
    """``round(x·1e6)`` HALF_UP as decimal(38,0)."""
    return F.round(col.cast("double") * F.lit(1e6), 0).cast(_DEC)


def cusum_reference(
    series: DataFrame,
    part_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-series reference ``(*part_cols, mu, sigma)`` for
    :func:`series_cusum`'s reference mode — the exact micro-sum mean and
    population σ of the given (typically in-control / training-period)
    series, as the pinned double chain ``S1/n/1e6`` and
    ``sqrt(n·S2 − S1²)/n/1e6``."""
    part = list(part_cols)
    rows = series.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    ).select(*part, _micro(F.col(value_col)).alias("_vq"))
    stats = rows.groupBy(*part).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_vq").cast(_DEC).alias("_s1"),
        F.sum(F.col("_vq") * F.col("_vq")).cast(_DEC).alias("_s2"),
    )
    var_num = (
        F.col("_n").cast(_DEC) * F.col("_s2")
        - F.col("_s1") * F.col("_s1")
    )
    return stats.select(
        *part,
        (
            F.col("_s1").cast("double")
            / F.col("_n").cast("double")
            / F.lit(1e6)
        ).alias("mu"),
        (
            F.sqrt(var_num.cast("double"))
            / F.col("_n").cast("double")
            / F.lit(1e6)
        ).alias("sigma"),
    )


def series_cusum(
    series: DataFrame,
    part_cols: Sequence[str],
    order_col: str,
    value_col: str,
    k: float = 0.5,
    h: float = 5.0,
    reference: DataFrame | None = None,
) -> DataFrame:
    """Two-sided Page CUSUM over each series keyed by ``part_cols`` and
    ordered by ``order_col`` (must be unique per series; NULL/NaN values
    are excluded before standardization).

    Standardization has two modes. Default (``reference=None``): ``z``
    standardizes against the series' OWN exact mean/σ (population σ
    from integer micro sums — the n's cancel, so
    ``z = (n·vq − S1)/sqrt(n·S2 − S1²)``, one division on an exact
    integer). Reference mode: ``reference`` is a bounded
    ``(*part_cols, mu, sigma)`` frame (see :func:`cusum_reference` —
    typically frozen from an in-control period) and
    ``z = (v − mu)/sigma`` — the ONLINE form whose walk is a pure
    left-to-right function of the prefix. ``k`` is the slack and ``h`` the alarm
    threshold, both in σ units. Output per input row::

        (*part_cols, order_col, value, z, s_pos, s_neg,
         alarm_pos, alarm_neg, alarm, cp_pos, cp_neg)

    ``s_pos``/``s_neg`` are the one-sided walks (≥0, σ units);
    ``cp_pos``/``cp_neg`` are the changepoint estimates — the value of
    ``order_col`` at the running-min argmin, i.e. the FIRST instant the
    walk touched its floor before the shift (ties resolve to the
    earliest index; the streaming twin's strict ``<`` update matches),
    NULL while the walk has never left zero. A
    constant series (σ = 0, or reference σ ≤ 0/NULL) yields NULL
    z/walks and ``alarm = false``.
    """
    part = list(part_cols)
    rows = series.filter(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double"))
    ).select(*part, order_col, F.col(value_col).cast("double").alias("_v"))

    if reference is not None:
        joined = (
            rows.join(F.broadcast(reference), part)
            if part
            else rows.crossJoin(F.broadcast(reference))
        )
        z = F.when(
            F.col("sigma") > 0,
            (F.col("_v") - F.col("mu")) / F.col("sigma"),
        )
        joined = joined.withColumn("_z", z).withColumn(
            "_zq", F.round(F.col("_z") * F.lit(1e6), 0).cast(_DEC)
        )
    else:
        vq = _micro(F.col("_v"))
        rows = rows.withColumn("_vq", vq)

        stats = rows.groupBy(*part).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_vq").cast(_DEC).alias("_s1"),
            F.sum(F.col("_vq") * F.col("_vq")).cast(_DEC).alias("_s2"),
        )
        joined = rows.join(stats, part) if part else rows.crossJoin(
            F.broadcast(stats)
        )

        # exact variance numerator n·S2 − S1² (integer); the series σ in
        # micro units is sqrt(var_num)/n, so the n's cancel in
        # z = (vq − S1/n)/σ = (n·vq − S1)/sqrt(var_num) — ONE division
        # on an exact-integer numerator
        var_num = (
            F.col("_n").cast(_DEC) * F.col("_s2")
            - F.col("_s1") * F.col("_s1")
        )
        z = F.when(
            var_num > 0,
            (
                F.col("_n").cast(_DEC) * F.col("_vq") - F.col("_s1")
            ).cast("double")
            / F.sqrt(var_num.cast("double")),
        )
        joined = joined.withColumn("_z", z).withColumn(
            "_zq", F.round(F.col("_z") * F.lit(1e6), 0).cast(_DEC)
        )

    kq = round(k * 1e6)
    hq = round(h * 1e6)
    w = (
        Window.partitionBy(*part)
        if part
        else Window.partitionBy(F.lit(1))
    )
    wo = w.orderBy(order_col)
    cum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    out = (
        joined.withColumn(
            "_rn", F.row_number().over(wo).cast(_DEC)
        )
        .withColumn(
            "_cp", F.sum(F.col("_zq") - F.lit(kq).cast(_DEC)).over(cum)
        )
        .withColumn(
            "_cn", F.sum(-F.col("_zq") - F.lit(kq).cast(_DEC)).over(cum)
        )
        .withColumn(
            "_ep", F.min(F.col("_cp") * F.lit(_ENC).cast(_DEC) + F.col("_rn")).over(cum)
        )
        .withColumn(
            "_en", F.min(F.col("_cn") * F.lit(_ENC).cast(_DEC) + F.col("_rn")).over(cum)
        )
        .withColumn("_mp", F.min("_cp").over(cum))
        .withColumn("_mn", F.min("_cn").over(cum))
    )

    s_pos = (
        F.col("_cp") - F.least(F.lit(0).cast(_DEC), F.col("_mp"))
    ).cast("double") / F.lit(1e6)
    s_neg = (
        F.col("_cn") - F.least(F.lit(0).cast(_DEC), F.col("_mn"))
    ).cast("double") / F.lit(1e6)
    out = out.withColumn(
        "s_pos", F.when(F.col("_zq").isNotNull(), s_pos)
    ).withColumn("s_neg", F.when(F.col("_zq").isNotNull(), s_neg))

    # argmin rownum (1-based) of the running min: decode E − C_min·2²⁰;
    # a positive running min means the floor is still C₀ = 0 → no shift
    rn_p = F.col("_ep") - F.col("_mp") * F.lit(_ENC).cast(_DEC)
    rn_n = F.col("_en") - F.col("_mn") * F.lit(_ENC).cast(_DEC)
    out = out.withColumn(
        "_cp_rn", F.when(F.col("_mp") < 0, rn_p.cast("long"))
    ).withColumn("_cn_rn", F.when(F.col("_mn") < 0, rn_n.cast("long")))

    # map the argmin rownum back to the order value via a bounded
    # self-equi-join on (series key, rownum)
    idx = out.select(
        *part,
        F.col("_rn").cast("long").alias("_irn"),
        F.col(order_col).alias("_iord"),
    )
    alarm_pos = F.coalesce(
        F.col("s_pos") > F.lit(hq / 1e6), F.lit(False)
    )
    alarm_neg = F.coalesce(
        F.col("s_neg") > F.lit(hq / 1e6), F.lit(False)
    )
    res = (
        out.alias("o")
        .join(
            F.broadcast(idx.alias("p")),
            [F.col(f"o.{c}") == F.col(f"p.{c}") for c in part]
            + [F.col("o._cp_rn") == F.col("p._irn")]
            if part
            else [F.col("o._cp_rn") == F.col("p._irn")],
            "left",
        )
        .select("o.*", F.col("p._iord").alias("cp_pos"))
    )
    res = (
        res.alias("o")
        .join(
            F.broadcast(idx.alias("q")),
            [F.col(f"o.{c}") == F.col(f"q.{c}") for c in part]
            + [F.col("o._cn_rn") == F.col("q._irn")]
            if part
            else [F.col("o._cn_rn") == F.col("q._irn")],
            "left",
        )
        .select("o.*", F.col("q._iord").alias("cp_neg"))
    )

    return res.select(
        *part,
        order_col,
        F.col("_v").alias("value"),
        F.col("_z").alias("z"),
        "s_pos",
        "s_neg",
        alarm_pos.alias("alarm_pos"),
        alarm_neg.alias("alarm_neg"),
        (alarm_pos | alarm_neg).alias("alarm"),
        "cp_pos",
        "cp_neg",
    )


def cusum_verdicts(
    scored: DataFrame, part_cols: Sequence[str], order_col: str
) -> DataFrame:
    """Per-series summary of :func:`series_cusum` output: ``(*part_cols,
    n_windows, n_alarms, first_alarm, changepoint, max_s)`` —
    ``first_alarm`` is the earliest alarmed ``order_col``;
    ``changepoint`` the cp estimate AT that first alarm (positive side
    wins when both fire, matching the two-sided convention of reporting
    the dominant direction); ``max_s`` the worst one-sided walk value.
    """
    part = list(part_cols)
    first_alarm = F.min(
        F.when(F.col("alarm"), F.col(order_col))
    ).alias("first_alarm")
    at_first = F.min_by(
        F.when(
            F.col("alarm"),
            F.when(F.col("alarm_pos"), F.col("cp_pos")).otherwise(
                F.col("cp_neg")
            ),
        ),
        F.when(F.col("alarm"), F.col(order_col)),
    ).alias("changepoint")
    return scored.groupBy(*part).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.col("alarm").cast("long")).alias("n_alarms"),
        first_alarm,
        at_first,
        F.greatest(F.max("s_pos"), F.max("s_neg")).alias("max_s"),
    )


def theil_sen_trend(
    series: DataFrame,
    part_cols: Sequence[str],
    x_col: str,
    value_col: str,
) -> DataFrame:
    """Robust per-series trend: the Theil–Sen estimator — slope =
    type-1 median of all pairwise slopes ``(v_j−v_i)/(x_j−x_i)``,
    intercept = type-1 median of ``v_i − slope·x_i``. ``x_col`` must be
    numeric (cast timestamps to epoch seconds first); duplicate-x pairs
    are excluded (vertical slope), NULL/NaN values dropped.

    Medians are type-1 (the lower middle) over the deterministic order
    ``(slope, i, j)`` / ``(intercept, i)`` so ties and the even case
    resolve identically in any engine — every comparison is on
    IEEE-exact per-row doubles (one subtraction + one division in
    pinned order), never on accumulated sums.

    Output: ``(*part_cols, slope, intercept, n, n_pairs)`` — slope in
    value-units per x-unit. O(w²) pairs per series; series are bounded
    post-aggregation frames (document: w ≤ ~10⁴ keeps the pair stage
    trivially small; raw rows should be windowed first).
    """
    part = list(part_cols)
    rows = (
        series.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
            & F.col(x_col).isNotNull()
        )
        .select(
            *part,
            F.col(x_col).cast("double").alias("_x"),
            F.col(value_col).cast("double").alias("_v"),
        )
    )
    w = (
        Window.partitionBy(*part)
        if part
        else Window.partitionBy(F.lit(1))
    )
    rows = rows.withColumn(
        "_rn", F.row_number().over(w.orderBy("_x"))
    )

    a = rows.alias("a")
    b = rows.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in part] + [
        F.col("a._rn") < F.col("b._rn"),
        F.col("a._x") != F.col("b._x"),
    ]
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{c}") for c in part],
        F.col("a._rn").alias("_i"),
        F.col("b._rn").alias("_j"),
        (
            (F.col("b._v") - F.col("a._v"))
            / (F.col("b._x") - F.col("a._x"))
        ).alias("_slope"),
    )
    wp = (
        Window.partitionBy(*part)
        if part
        else Window.partitionBy(F.lit(1))
    )
    ranked = pairs.withColumn(
        "_r", F.row_number().over(wp.orderBy("_slope", "_i", "_j"))
    ).withColumn("_m", F.count(F.lit(1)).over(wp))
    # _m on the median row is the count of pairs ACTUALLY ranked —
    # duplicate-x (vertical-slope) pairs were already excluded by the
    # join condition, so this is the true pair count, not the
    # n·(n−1)/2 upper bound
    slopes = ranked.filter(
        F.col("_r") == F.floor((F.col("_m") + 1) / 2)
    ).select(
        *part,
        F.col("_slope").alias("slope"),
        F.col("_m").cast("long").alias("n_pairs"),
    )

    joined = (
        rows.join(F.broadcast(slopes), part)
        if part
        else rows.crossJoin(F.broadcast(slopes))
    )
    resid = joined.select(
        *part,
        "_rn",
        "slope",
        "n_pairs",
        (F.col("_v") - F.col("slope") * F.col("_x")).alias("_b"),
    )
    ranked_b = resid.withColumn(
        "_r", F.row_number().over(wp.orderBy("_b", "_rn"))
    ).withColumn("_m", F.count(F.lit(1)).over(wp))
    inter = ranked_b.filter(
        F.col("_r") == F.floor((F.col("_m") + 1) / 2)
    ).select(*part, "slope", F.col("_b").alias("intercept"), "n_pairs")

    counts = rows.groupBy(*part).agg(
        F.count(F.lit(1)).alias("n"),
    )
    out = (
        inter.join(counts, part)
        if part
        else inter.crossJoin(counts)
    )
    return out.select(
        *part,
        "slope",
        "intercept",
        "n",
        "n_pairs",
    )


def series_autocorr(
    series: DataFrame,
    part_cols: Sequence[str],
    order_col: str,
    value_col: str,
    max_lag: int = 10,
) -> DataFrame:
    """EXACT sample autocorrelation of each series at row-index lags
    ``1..max_lag`` (the standard biased estimator, the one whose
    spectrum is non-negative):

    ``r_ℓ = Σ_{t≤n−ℓ}(v_t−μ)(v_{t+ℓ}−μ) / Σ_t(v_t−μ)²``

    computed as an integer polynomial in the micro-quantized values:
    with ``S = Σvq``, ``S2 = Σvq²``, ``P_ℓ = Σ vq_t·vq_{t+ℓ}``,
    ``A_ℓ = Σ_{t≤n−ℓ} vq_t``, ``B_ℓ = Σ_{t>ℓ} vq_t``::

        r_ℓ = (n²·P_ℓ − n·S·(A_ℓ+B_ℓ) + (n−ℓ)·S²) / (n²·S2 − n·S²)

    — numerator and denominator are exact decimal(38,0) integers (fits
    for |v| ≤ ~10⁶ and n ≤ ~10⁴), ONE final double division per lag, so
    the statistic is partitioning-independent and SQL-reproducible.
    Lags are ROW-index lags over ``order_col``'s sort (gap-agnostic by
    design — aggregate to a dense window grid first if calendar lags
    must align; ``order_col`` must be unique per series, or the lag
    pairing itself becomes partitioning-dependent). NULL/NaN excluded;
    σ = 0 (constant) → NULL acf.

    Output: ``(*part_cols, lag, acf, n)``, one row per series × lag
    with ``lag < n``.
    """
    part = list(part_cols)
    rows = series.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    ).select(*part, order_col, _micro(F.col(value_col)).alias("_vq"))
    w = (
        Window.partitionBy(*part)
        if part
        else Window.partitionBy(F.lit(1))
    )
    rows = rows.withColumn(
        "_rn", F.row_number().over(w.orderBy(order_col))
    )
    stats = rows.groupBy(*part).agg(
        F.count(F.lit(1)).cast(_DEC).alias("_n"),
        F.sum("_vq").cast(_DEC).alias("_s"),
        F.sum(F.col("_vq") * F.col("_vq")).cast(_DEC).alias("_s2"),
    )

    lags = [int(l) for l in range(1, max_lag + 1)]
    lag_df = rows.sparkSession.createDataFrame(
        [(l,) for l in lags], "lag int"
    )
    a = rows.alias("a").crossJoin(F.broadcast(lag_df))
    b = rows.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in part] + [
        F.col("b._rn") == F.col("a._rn") + F.col("lag")
    ]
    prods = a.join(b, cond).groupBy(
        *[F.col(f"a.{c}") for c in part], F.col("lag")
    ).agg(
        F.sum(F.col("a._vq") * F.col("b._vq")).cast(_DEC).alias("_p"),
        F.sum(F.col("a._vq")).cast(_DEC).alias("_a"),
        F.sum(F.col("b._vq")).cast(_DEC).alias("_b"),
    )
    joined = (
        prods.join(F.broadcast(stats), part)
        if part
        else prods.crossJoin(F.broadcast(stats))
    )
    num = (
        F.col("_n") * F.col("_n") * F.col("_p")
        - F.col("_n") * F.col("_s") * (F.col("_a") + F.col("_b"))
        + (F.col("_n") - F.col("lag").cast(_DEC))
        * F.col("_s")
        * F.col("_s")
    )
    den = F.col("_n") * F.col("_n") * F.col("_s2") - F.col(
        "_n"
    ) * F.col("_s") * F.col("_s")
    return joined.select(
        *part,
        "lag",
        F.when(den > 0, num.cast("double") / den.cast("double")).alias(
            "acf"
        ),
        F.col("_n").cast("long").alias("n"),
    )


def ewma_chart(
    series: DataFrame,
    part_cols: Sequence[str],
    order_col: str,
    value_col: str,
    lam: float = 0.25,
    L: float = 3.0,
    reference: DataFrame | None = None,
) -> DataFrame:
    """EWMA control chart (Roberts 1959) — the third classical lens
    beside SR (saliency) and CUSUM (sustained shift): the exponentially
    weighted moving average ``E_t = λ·v_t + (1−λ)·E_{t−1}`` with
    time-varying control limits ``μ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t}))``
    reacts to SMALL shifts faster than a Shewhart rule and forgets
    faster than CUSUM (λ tunes the memory). ``E_0 = μ``.

    ``reference`` is a bounded ``(*part_cols, mu, sigma)`` frame
    (:func:`cusum_reference`); default derives it from the full series.
    Series with σ ≤ 0 emit NULL chart columns and ``alarm = false``;
    series absent from an explicit reference are dropped (inner join).

    Determinism: the walk is a SEQUENTIAL left-to-right recursion (a
    geometric-weight sum has no exact closed form over integers), run
    as an explicit Python loop over each BOUNDED series inside one
    Arrow batch — the float operation sequence (``λ·v + (1−λ)·E``,
    ``f·(1−λ)²``, ``L·σ·√(c·(1−f))`` with all constants precomputed in
    Python) is pinned, so a DuckDB recursive-CTE twin replaying the
    same expressions is bit-identical (the same contract as the
    streaming twin, which carries (E, f) as O(1) state). Input rows
    with NULL/NaN values are excluded before the walk.

    Output: ``(*part_cols, order_col, value, ewma, ucl, lcl, alarm)``.
    """
    import math

    part = list(part_cols)
    if reference is None:
        reference = cusum_reference(series, part_cols, value_col)
    rows = series.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    ).select(*part, order_col, F.col(value_col).cast("double").alias("value"))
    joined = (
        rows.join(F.broadcast(reference), part)
        if part
        else rows.crossJoin(F.broadcast(reference))
    )

    fields = []
    for f_ in joined.schema.fields:
        if f_.name in part or f_.name == order_col:
            fields.append(f"`{f_.name}` {f_.dataType.simpleString()}")
    schema = (
        ", ".join(fields)
        + ", value double, ewma double, ucl double, lcl double, "
        + "alarm boolean"
    )
    q = 1.0 - lam
    q2 = q * q
    c = lam / (2.0 - lam)

    def walk(pdf):
        import pandas as pd  # noqa: F811

        pdf = pdf.sort_values(order_col)
        mu = float(pdf["mu"].iloc[0]) if len(pdf) else None
        sigma = float(pdf["sigma"].iloc[0]) if len(pdf) else None
        degenerate = (
            sigma is None or not sigma > 0 or mu is None or mu != mu
        )
        n = len(pdf)
        ewma = [None] * n
        ucl = [None] * n
        lcl = [None] * n
        alarm = [False] * n
        if not degenerate:
            e = mu
            f = 1.0
            for i, v in enumerate(pdf["value"].tolist()):
                e = lam * v + q * e
                f = f * q2
                hw = L * sigma * math.sqrt(c * (1.0 - f))
                ewma[i] = e
                ucl[i] = mu + hw
                lcl[i] = mu - hw
                alarm[i] = e > ucl[i] or e < lcl[i]
        out = pdf[[*part, order_col, "value"]].copy()
        out["ewma"] = pd.array(ewma, dtype="Float64")
        out["ucl"] = pd.array(ucl, dtype="Float64")
        out["lcl"] = pd.array(lcl, dtype="Float64")
        out["alarm"] = alarm
        return out

    grouped = (
        joined.groupBy(*part) if part else joined.groupBy(F.lit(1))
    )
    if not part:
        # a keyless groupBy(lit) would leak the literal column; give the
        # global series an explicit empty key via a constant column
        joined = joined.withColumn("_g", F.lit(1))
        grouped = joined.groupBy("_g")
        schema = "_g int, " + schema
        out = grouped.applyInPandas(
            lambda pdf: walk(pdf).assign(_g=1), schema
        )
        return out.drop("_g")
    return grouped.applyInPandas(walk, schema)


def seasonal_expectation(
    series: DataFrame,
    part_cols: Sequence[str],
    order_col: str,
    value_col: str,
    season_lag: int = 7,
    n_seasons: int = 4,
    tolerance: float = 0.5,
) -> DataFrame:
    """Seasonality-aware volume expectation (the Deequ-style "is
    today's metric where the last few SAME-PHASE values say it should
    be" check): for each window the expected value is the exact mean of
    the values at row-index lags ``season_lag, 2·season_lag, …`` (up to
    ``n_seasons`` that exist), and the window is flagged when the
    relative deviation exceeds ``tolerance``. The lens the plain drift
    battery lacks: a Monday is compared to MONDAYS, so weekly rhythm
    stops masking (or faking) volume anomalies.

    Exact arithmetic: with micro-quantized values ``vq`` and seasonal
    history sum ``s`` over ``m ≤ n_seasons`` lags,
    ``rel_dev = (m·vq − s)/|s|`` — an exact-integer numerator and ONE
    double division, so the flag is partitioning-independent and
    SQL-reproducible. The ``|s|`` denominator makes the deviation
    well-defined for series containing negative values (generic stat
    series, not just volumes). Rows with no seasonal history (``rn ≤
    season_lag``) emit NULL expected/rel_dev and ``flagged = false``;
    an all-zero history (``s = 0``) flags any non-zero value (expected
    0 means any volume is infinite relative deviation). NULL/NaN values
    are excluded before indexing.

    Output: ``(*part_cols, order_col, value, expected, rel_dev,
    flagged, n_history)``. Lags are ROW-INDEX lags over ``order_col``'s
    sort (unique per series, same contract as :func:`series_autocorr`;
    aggregate to a dense window grid first if calendar phase must
    align across data gaps).
    """
    part = list(part_cols)
    rows = series.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    ).select(
        *part,
        order_col,
        F.col(value_col).cast("double").alias("_v"),
        _micro(F.col(value_col)).alias("_vq"),
    )
    w = (
        Window.partitionBy(*part)
        if part
        else Window.partitionBy(F.lit(1))
    )
    rows = rows.withColumn(
        "_rn", F.row_number().over(w.orderBy(order_col))
    )
    lag_df = rows.sparkSession.createDataFrame(
        [(j,) for j in range(1, n_seasons + 1)], "j int"
    )
    a = rows.alias("a").crossJoin(F.broadcast(lag_df))
    b = rows.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in part] + [
        F.col("b._rn")
        == F.col("a._rn") - F.col("j") * F.lit(int(season_lag))
    ]
    hist = a.join(b, cond).groupBy(
        *[F.col(f"a.{c}") for c in part], F.col("a._rn").alias("_rn")
    ).agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(F.col("b._vq")).cast(_DEC).alias("_s"),
    )
    joined = rows.join(hist, [*part, "_rn"], "left")
    m_dec = F.col("_m").cast(_DEC)
    num = m_dec * F.col("_vq") - F.col("_s")
    # relative deviation against |s| so series with NEGATIVE values
    # (generic stat series, not just volumes) get a well-defined
    # deviation instead of a NULL that used to fall through to the
    # flag-any-nonzero branch; s = 0 keeps the documented
    # expected-zero semantics (any non-zero value flags)
    rel = F.when(
        F.col("_s") != 0,
        num.cast("double") / F.abs(F.col("_s")).cast("double"),
    )
    expected = F.when(
        F.col("_m").isNotNull(),
        F.col("_s").cast("double")
        / F.col("_m").cast("double")
        / F.lit(1e6),
    )
    flagged = F.when(F.col("_m").isNull(), F.lit(False)).when(
        F.col("_s") != 0, F.abs(rel) > F.lit(tolerance)
    ).otherwise(F.col("_vq") != 0)
    return joined.select(
        *part,
        order_col,
        F.col("_v").alias("value"),
        expected.alias("expected"),
        rel.alias("rel_dev"),
        flagged.alias("flagged"),
        F.coalesce(F.col("_m"), F.lit(0)).cast("int").alias("n_history"),
    )
