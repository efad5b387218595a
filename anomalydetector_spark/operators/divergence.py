"""Distribution-divergence drift between consecutive time windows.

The engine's SR scorer flags anomalies in per-window SCALAR series (null
rate, doc count, quantiles). Categorical columns (lang, source, domain
class) drift in SHAPE, which a scalar per-category series can miss — the
standard check is a divergence between consecutive windows' category
distributions:

* **Jensen-Shannon divergence** (symmetric, bounded [0,1] in log2,
  defined when categories appear/disappear — the reason it is preferred
  over raw KL for drift monitors),
* **total variation distance** ``0.5 * Σ|p−q|`` (the L1 view).

Scale shape: the input collapses to (window, category) counts FIRST —
everything after runs on a frame whose size is #windows × #categories,
independent of row count. The window-pair alignment is an equi-join of
that tiny frame with itself shifted one window; divergence terms are
plain column arithmetic; per-window sums partial-aggregate. The emitted
one-row-per-window series is exactly what ``drift.score_drift`` consumes
(stat_name = e.g. ``lang_js_divergence``), so shape drift rides the same
SR + threshold machinery as every scalar stat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def divergence_from_window_counts(
    counts: DataFrame, part_cols: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """Divergence series from a pre-aggregated counts frame
    ``(*part_cols, w_start, w_end, cat, n)`` — the entry point for
    callers that already hold per-window category counts (the engine's
    counts cube), so shape drift costs ZERO extra input scans.

    Output: (*part_cols, window_start, js_divergence, tvd,
    n_categories). The first window of each partition has no predecessor
    and is omitted (a divergence against nothing is undefined, not
    zero); likewise a window whose predecessor slot is empty (data gap).
    """
    part = list(part_cols)
    tot = Window.partitionBy(*part, "w_start")
    probs = counts.withColumn("p", F.col("n") / F.sum("n").over(tot))

    cur = probs.select(*part, "w_start", "cat", F.col("p").alias("p_cur"))
    prev = probs.select(
        # a window's successor starts at its end (tumbling windows), so
        # aligning prev.w_end == cur.w_start is a pure equi-join
        *part, F.col("w_end").alias("w_start"), "cat", F.col("p").alias("p_prev")
    )
    pairs = cur.join(prev, [*part, "w_start", "cat"], "full_outer").select(
        *part,
        "w_start",
        "cat",
        F.coalesce("p_cur", F.lit(0.0)).alias("p"),
        F.coalesce("p_prev", F.lit(0.0)).alias("q"),
        F.col("p_cur").isNotNull().alias("in_cur"),
    )
    # windows present only as predecessors (the stream's first window
    # and any window after the last) surface as rows with p_cur all-null;
    # those synthetic "next" windows are dropped — only real current
    # windows with a real predecessor emit a score
    has_prev = Window.partitionBy(*part, "w_start")
    pairs = pairs.withColumn(
        "w_has_cur", F.max(F.col("in_cur").cast("int")).over(has_prev)
    ).withColumn(
        "w_has_prev", F.max((F.col("q") > 0).cast("int")).over(has_prev)
    ).filter((F.col("w_has_cur") == 1) & (F.col("w_has_prev") == 1))

    m = (F.col("p") + F.col("q")) / 2.0
    # 0·log(0/m) := 0 — category absent on one side contributes only
    # through the other side's term
    term = lambda x: F.when(x > 0, x * F.log2(x / m)).otherwise(F.lit(0.0))  # noqa: E731
    return (
        pairs.groupBy(*part, "w_start")
        .agg(
            (
                F.sum(term(F.col("p"))) / 2.0 + F.sum(term(F.col("q"))) / 2.0
            ).alias("js_divergence"),
            (F.sum(F.abs(F.col("p") - F.col("q"))) / 2.0).alias("tvd"),
            F.sum(F.col("in_cur").cast("long")).alias("n_categories"),
        )
        .withColumnRenamed("w_start", "window_start")
    )


def numeric_bin(
    value, lo: float, hi: float, n_bins: int
):
    """Fixed-width histogram bin id in [0, n_bins): out-of-range values
    clamp into the edge bins (TFDV's convention — drift in the tails is
    still drift, and an unbounded value must not crash the monitor)."""
    width = (hi - lo) / n_bins
    raw = F.floor((value - F.lit(lo)) / F.lit(width))
    return F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")


def numeric_drift_from_bin_counts(
    counts: DataFrame, part_cols: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """Histogram-distance drift series from pre-aggregated bin counts
    ``(w_start, w_end, bin, n)`` — the numeric twin of
    :func:`divergence_from_window_counts`, with the three standard
    monitor distances between consecutive windows (TFDV ships L∞ as its
    numeric-drift comparator; TVD is the L1 view; EMD — in BIN units —
    is the 1-Wasserstein distance on the binned supports):

    * ``linf = max_i |p_i − q_i|``
    * ``tvd  = ½ Σ_i |p_i − q_i|``
    * ``emd  = Σ_i |P_i − Q_i|``  (cumulative sums; last term is 0)

    EXACT arithmetic: every distance is computed as a cross-multiplied
    integer ratio — e.g. ``|c_i·T_q − d_i·T_p| / (T_p·T_q)`` — carried
    in decimal(38,0) (counts up to 10^12 rows per window square to
    10^24, far past BIGINT but well inside 38 digits), with ONE final
    cast-to-double division. No float summation order exists anywhere,
    so the series is partitioning-independent and a SQL oracle
    reproduces it bit-for-bit.

    Scale shape: identical to the categorical path — everything after
    the first aggregation is O(#windows × n_bins). ``part_cols`` keeps
    independent series per partition (the engine passes
    ``partition_key``)."""
    part = list(part_cols)
    dec = "decimal(38,0)"
    tot = Window.partitionBy(*part, "w_start")
    wc = counts.withColumn(
        "t", F.sum("n").over(tot).cast(dec)
    ).withColumn("n", F.col("n").cast(dec))

    cur = wc.select(
        *part, "w_start", "bin", F.col("n").alias("c"),
        F.col("t").alias("tc"),
    )
    prev = wc.select(
        *part,
        F.col("w_end").alias("w_start"),
        "bin",
        F.col("n").alias("d"),
        F.col("t").alias("td"),
    )
    pairs = cur.join(prev, [*part, "w_start", "bin"], "full_outer")
    per_w = Window.partitionBy(*part, "w_start")
    pairs = (
        pairs.withColumn("tc", F.max("tc").over(per_w))
        .withColumn("td", F.max("td").over(per_w))
        .filter(F.col("tc").isNotNull() & F.col("td").isNotNull())
        .select(
            *part,
            "w_start",
            "bin",
            F.coalesce("c", F.lit(0).cast(dec)).alias("c"),
            F.coalesce("d", F.lit(0).cast(dec)).alias("d"),
            "tc",
            "td",
        )
    )
    # cross-multiplied per-bin term: c_i·T_q − d_i·T_p (exact integer)
    diff = F.col("c") * F.col("td") - F.col("d") * F.col("tc")
    by_bin = Window.partitionBy(*part, "w_start").orderBy("bin")
    # bins absent on BOTH sides still carry the running |cum| into the
    # EMD — weight each present bin's |cum| by the run of empty slots up
    # to the next present bin (the last present bin's cum is exactly 0 —
    # both cumulative counts reach T — so its weight is irrelevant)
    gap_w = (
        F.coalesce(F.lead("bin").over(by_bin), F.col("bin") + 1)
        - F.col("bin")
    ).cast(dec)
    pairs = (
        pairs.withColumn("x", diff)
        .withColumn("cum", F.sum("x").over(by_bin))
        .withColumn("gw", gap_w)
    )
    den = (F.col("tc") * F.col("td")).cast("double")
    return (
        pairs.groupBy(*part, "w_start")
        .agg(
            (F.max(F.abs(F.col("x"))).cast("double") / F.first(den)).alias(
                "linf"
            ),
            (
                F.sum(F.abs(F.col("x"))).cast(dec).cast("double")
                / F.first(den)
                / F.lit(2.0)
            ).alias("tvd"),
            (
                F.sum(F.abs(F.col("cum")) * F.col("gw"))
                .cast(dec)
                .cast("double")
                / F.first(den)
            ).alias("emd"),
            F.count(F.lit(1)).alias("n_bins_hit"),
        )
        .withColumnRenamed("w_start", "window_start")
    )


def psi_chi2_from_bin_counts(
    counts: DataFrame,
    part_cols: list[str] | tuple[str, ...] = (),
    alpha: int = 1,
) -> DataFrame:
    """Population Stability Index + two-sample chi-square drift between
    consecutive windows from pre-aggregated bin counts ``(*part_cols,
    w_start, w_end, bin, n)`` — the two industry-standard monitor
    statistics the L∞/TVD/EMD battery doesn't cover (PSI is the credit-
    scoring / model-monitoring default; chi-square is TFDV's categorical
    comparator). ``bin`` may be any equatable type — integer histogram
    bins or raw category values — since neither statistic needs an
    ordering (unlike EMD/KS).

    * ``psi  = Σ_i (p_i − q_i) · ln(p_i / q_i)``  (≥ 0, symmetric)
    * ``chi2 = Σ_i (c'_i·T'_d − d'_i·T'_c)² / (T'_c·T'_d·(c'_i+d'_i))``
      with ``n = T'_c + T'_d`` — the two-sample TEST OF HOMOGENEITY
      statistic for the 2×B contingency table (pooled-margin expected
      counts; algebraically equal to ``ΣΣ (O−E)²/E`` over both rows),
      NOT the one-sided goodness-of-fit form, which is unbounded in n
    * ``cramers_v = sqrt(chi2 / n)``  (≤ 1 for the 2×B table since
      ``min(r−1, c−1) = 1`` — the scale-free view)

    Zero-bin policy — both statistics blow up on bins present in only
    one window, so counts are **add-α smoothed over the UNION support of
    each window pair**: ``c' = c + α``, ``T'_c = T_c + α·B`` where B is
    the number of distinct bins either window hit (and symmetrically for
    the previous window). α is an integer (default 1) so smoothed counts
    stay exact; at α=0 the chi-square/Cramér's V pair is still defined
    (union support guarantees ``c+d ≥ 1``) and classic-unsmoothed, but
    PSI requires shared support. The union-support convention makes the statistic a pure
    function of the counts frame — reproducible by a SQL oracle.

    Determinism contract (the repo's cross-engine float rule): the only
    transcendental per bin is quantized BEFORE aggregation —
    ``ln_micro = round(ln((c'·T'_d)/(d'·T'_c)) · 1e6)`` HALF_UP (the
    double products/divisions are correctly-rounded IEEE, identical in
    any engine), and the per-bin chi-square term
    ``(c'·T'_d − d'·T'_c)² / (T'_c·T'_d·d')`` is likewise computed in
    pinned-order doubles and quantized to micro-units. The PSI numerator
    ``(c'·T'_d − d'·T'_c)`` is EXACT decimal(38,0); both sums run over
    integers, so no float summation order exists anywhere and the series
    is partitioning-independent.

    Scale shape: identical to the siblings — everything after the
    caller's first aggregation is O(#windows × #bins), alignment is an
    equi-join of that bounded frame with itself shifted one window.

    Output: (*part_cols, window_start, psi, chi2, cramers_v,
    n_bins_union) — one row per window with a predecessor, ready for
    ``drift.score_drift``.
    """
    if alpha < 0:
        raise ValueError("alpha must be a non-negative integer")
    part = list(part_cols)
    dec = "decimal(38,0)"
    tot = Window.partitionBy(*part, "w_start")
    wc = counts.withColumn(
        "t", F.sum("n").over(tot).cast(dec)
    ).withColumn("n", F.col("n").cast(dec))

    cur = wc.select(
        *part, "w_start", "bin", F.col("n").alias("c"),
        F.col("t").alias("tc"),
    )
    prev = wc.select(
        *part,
        F.col("w_end").alias("w_start"),
        "bin",
        F.col("n").alias("d"),
        F.col("t").alias("td"),
    )
    pairs = cur.join(prev, [*part, "w_start", "bin"], "full_outer")
    per_w = Window.partitionBy(*part, "w_start")
    a = F.lit(alpha).cast(dec)
    pairs = (
        pairs.withColumn("tc", F.max("tc").over(per_w))
        .withColumn("td", F.max("td").over(per_w))
        .filter(F.col("tc").isNotNull() & F.col("td").isNotNull())
        .withColumn("b", F.count(F.lit(1)).over(per_w).cast(dec))
        .select(
            *part,
            "w_start",
            "bin",
            (F.coalesce("c", F.lit(0).cast(dec)) + a).alias("c"),
            (F.coalesce("d", F.lit(0).cast(dec)) + a).alias("d"),
            (F.col("tc") + a * F.col("b")).alias("tc"),
            (F.col("td") + a * F.col("b")).alias("td"),
            "b",
        )
    )
    # pinned-order doubles feeding the transcendental (each cast/product
    # correctly rounded IEEE — identical in any engine)
    cd, dd = F.col("c").cast("double"), F.col("d").cast("double")
    tcd, tdd = F.col("tc").cast("double"), F.col("td").cast("double")
    ln_micro = F.round(
        F.log((cd * tdd) / (dd * tcd)) * F.lit(1e6), 0
    ).cast(dec)
    num = F.col("c") * F.col("td") - F.col("d") * F.col("tc")  # exact
    n_both = (F.col("tc") + F.col("td")).cast("double")
    chi2_micro = F.round(
        num.cast("double")
        * num.cast("double")
        / (
            F.col("tc") * F.col("td") * (F.col("c") + F.col("d"))
        ).cast("double")
        * F.lit(1e6),
        0,
    ).cast(dec)
    den = (F.col("tc") * F.col("td")).cast("double")
    return (
        pairs.groupBy(*part, "w_start")
        .agg(
            (
                F.sum(num * ln_micro).cast(dec).cast("double")
                / F.first(den)
                / F.lit(1e6)
            ).alias("psi"),
            (
                F.sum(chi2_micro).cast(dec).cast("double") / F.lit(1e6)
            ).alias("chi2"),
            F.sqrt(
                F.sum(chi2_micro).cast(dec).cast("double")
                / F.lit(1e6)
                / F.first(n_both)
            ).alias("cramers_v"),
            F.first(F.col("b").cast("long")).alias("n_bins_union"),
        )
        .withColumnRenamed("w_start", "window_start")
    )


def numeric_window_psi(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 20,
    window: str = "1 day",
    alpha: int = 1,
) -> DataFrame:
    """Per-window PSI + chi-square + Cramér's V of ``value_col`` vs the
    PREVIOUS window, from raw rows (NULL/NaN excluded as in
    :func:`numeric_window_drift`, same fixed-width clamped binning)."""
    counts = (
        df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
        )
        .groupBy(
            F.window(ts_col, window).alias("w"),
            numeric_bin(F.col(value_col), lo, hi, n_bins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "bin",
            "n",
        )
    )
    return psi_chi2_from_bin_counts(counts, alpha=alpha)


def ks_drift_from_value_counts(
    counts: DataFrame, part_cols: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov drift between consecutive
    windows from value-granular counts ``(*part_cols, w_start, w_end,
    value, n)`` — the unbinned member of the numeric-drift family.

    ``KS = sup_v |F_cur(v) − F_prev(v)|``. Both empirical CDFs are step
    functions that only change at support points, so the sup is the max
    over the UNION support of the running cumulative difference —
    computed as the cross-multiplied integer ``|C(v)·T_q − D(v)·T_p|``
    carried in decimal(38,0) with one final double division, exactly
    like the binned EMD path: no float summation order anywhere, so the
    statistic is partitioning-independent and a SQL oracle reproduces it
    bit-for-bit.

    Scale shape: O(#windows × distinct values) after the caller's first
    aggregation. That is exact and cheap for DISCRETE monitors (lengths,
    token counts, status codes, quantized scores — the validation
    engine's stat columns); for unbounded-cardinality doubles use the
    binned :func:`numeric_drift_from_bin_counts` or quantize first —
    the counts cube itself would otherwise approach the row count.

    Output: (*part_cols, window_start, ks, n_support) — one row per
    window with a predecessor, ready for ``drift.score_drift``.
    """
    part = list(part_cols)
    dec = "decimal(38,0)"
    tot = Window.partitionBy(*part, "w_start")
    wc = counts.withColumn(
        "t", F.sum("n").over(tot).cast(dec)
    ).withColumn("n", F.col("n").cast(dec))

    cur = wc.select(
        *part, "w_start", "value", F.col("n").alias("c"),
        F.col("t").alias("tc"),
    )
    prev = wc.select(
        *part,
        F.col("w_end").alias("w_start"),
        "value",
        F.col("n").alias("d"),
        F.col("t").alias("td"),
    )
    pairs = cur.join(prev, [*part, "w_start", "value"], "full_outer")
    per_w = Window.partitionBy(*part, "w_start")
    pairs = (
        pairs.withColumn("tc", F.max("tc").over(per_w))
        .withColumn("td", F.max("td").over(per_w))
        .filter(F.col("tc").isNotNull() & F.col("td").isNotNull())
        .select(
            *part,
            "w_start",
            "value",
            F.coalesce("c", F.lit(0).cast(dec)).alias("c"),
            F.coalesce("d", F.lit(0).cast(dec)).alias("d"),
            "tc",
            "td",
        )
    )
    by_val = Window.partitionBy(*part, "w_start").orderBy("value")
    diff = F.col("c") * F.col("td") - F.col("d") * F.col("tc")
    pairs = pairs.withColumn("cum", F.sum(diff).over(by_val))
    den = (F.col("tc") * F.col("td")).cast("double")
    return (
        pairs.groupBy(*part, "w_start")
        .agg(
            (F.max(F.abs(F.col("cum"))).cast("double") / F.first(den)).alias(
                "ks"
            ),
            F.count(F.lit(1)).alias("n_support"),
        )
        .withColumnRenamed("w_start", "window_start")
    )


def numeric_window_ks(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 day",
) -> DataFrame:
    """Per-window exact KS statistic of ``value_col`` vs the PREVIOUS
    window, from raw rows (NULL and NaN excluded, as in
    :func:`numeric_window_drift`). Best for discrete/quantized columns —
    see :func:`ks_drift_from_value_counts` for the cardinality caveat."""
    counts = (
        df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double"))
        )
        .groupBy(
            F.window(ts_col, window).alias("w"),
            F.col(value_col).alias("value"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "value",
            "n",
        )
    )
    return ks_drift_from_value_counts(counts)


def numeric_window_drift(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 20,
    window: str = "1 day",
) -> DataFrame:
    """Per-window histogram-distance drift of ``value_col`` vs the
    PREVIOUS window, from raw rows (NULL **and NaN** values are excluded
    from the histogram, as TFDV does — profile null/NaN rates
    separately; ``floor(NaN)`` would otherwise silently count every NaN
    in the lowest bin and read as phantom drift toward bin 0). Output:
    (window_start, linf, tvd, emd, n_bins_hit) — one row per window
    with a predecessor, ready for ``drift.score_drift``."""
    counts = (
        df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
        )
        .groupBy(
            F.window(ts_col, window).alias("w"),
            numeric_bin(F.col(value_col), lo, hi, n_bins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "bin",
            "n",
        )
    )
    return numeric_drift_from_bin_counts(counts)


def categorical_window_divergence(
    df: DataFrame,
    ts_col: str = "ts",
    cat_col: str = "lang",
    window: str = "1 day",
) -> DataFrame:
    """Per-window JS divergence + TVD of ``cat_col``'s distribution vs
    the PREVIOUS window, from raw rows. Output: (window_start,
    js_divergence, tvd, n_categories)."""
    counts = (
        df.groupBy(
            F.window(ts_col, window).alias("w"), F.col(cat_col).alias("cat")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "cat",
            "n",
        )
    )
    return divergence_from_window_counts(counts)


def equi_depth_bounds(
    df: DataFrame,
    value_col: str = "value",
    n_bins: int = 10,
    exact: bool = False,
    accuracy: int = 10_000,
) -> list[float]:
    """Equi-depth histogram boundaries for ``value_col`` — the binning
    that makes the drift battery work on UNBOUNDED-cardinality doubles
    (fixed-width bins need known [lo, hi]; raw-value KS needs a bounded
    support; equi-depth bins adapt to the distribution and give every
    bin comparable mass, which maximizes the drift statistics' power).

    Returns ``n_bins − 1`` interior boundaries, the type-1 quantiles at
    ``q/n_bins``. Two paths:

    * default: ONE ``approx_percentile`` aggregation (Spark's built-in
      mergeable sketch — distributed, bounded error via ``accuracy``) —
      the 10^12-row path; boundaries are then FROZEN as literals, so
      downstream binning is pure codegen and retry-stable even though
      the sketch itself is approximate;
    * ``exact=True``: type-1 quantiles off the (value, count) cube —
      rank ``ceil(q·N/n_bins)`` in exact integer arithmetic, boundary =
      least value whose cumulative count reaches the rank. The cube
      window is a single global ordering of DISTINCT values: for
      tests/oracles and discrete columns, not the unbounded-cardinality
      path (same opt-in contract as ``profile_columns(exact=True)``).

    NULL/NaN excluded (as everywhere in the drift family). The returned
    list may contain REPEATED boundaries under heavy skew (one value
    owning > 1/n_bins of the mass) — ``bin_by_bounds`` handles that
    deterministically (the duplicated bins stay empty).
    """
    v = F.col(value_col)
    clean = df.filter(v.isNotNull() & ~F.isnan(v.cast("double")))
    qs = [i / n_bins for i in range(1, n_bins)]
    if not exact:
        row = clean.agg(
            F.percentile_approx(
                v.cast("double"), qs, F.lit(accuracy)
            ).alias("b")
        ).first()
        return [float(x) for x in (row.b or [])]
    cube = clean.groupBy(v.cast("double").alias("_v")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    w = Window.orderBy("_v")
    cum = cube.withColumn("_cum", F.sum("_n").over(w)).withColumn(
        "_prev", F.coalesce(F.col("_cum") - F.col("_n"), F.lit(0))
    )
    tot = cube.agg(F.sum("_n").alias("_total"))
    # a cube row is the q-th boundary iff prev < rank_q <= cum, with
    # rank_q = ceil(q*N/n_bins) in exact integers
    ranked = cum.crossJoin(F.broadcast(tot)).select(
        "_v",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_bins - 1)),
                    lambda q: F.struct(
                        q.alias("q"),
                        # ceil(q*N/B) in EXACT integer arithmetic: strip
                        # the remainder before dividing, so the double
                        # division is of an exact multiple (a bare
                        # a/b could round across an integer at 10^12 N)
                        (
                            (
                                (q * F.col("_total") + F.lit(n_bins - 1))
                                - (q * F.col("_total") + F.lit(n_bins - 1))
                                % F.lit(n_bins)
                            )
                            / F.lit(n_bins)
                        ).cast("long").alias("rank"),
                    ),
                ),
                lambda s: (F.col("_prev") < s["rank"])
                & (s["rank"] <= F.col("_cum")),
            )
        ).alias("_q"),
    )
    rows = ranked.select(F.col("_q.q").alias("q"), "_v").collect()
    return [float(v) for _, v in sorted((r.q, r._v) for r in rows)]


def bin_by_bounds(value, bounds: list[float]):
    """Histogram bin id under explicit interior ``bounds`` (codegen —
    the boundaries ride as literals): ``bin = Σ_b (value >= b)``, i.e.
    values equal to a boundary go UP, repeated boundaries leave their
    bins empty. Output in [0, len(bounds)]."""
    out = F.lit(0)
    for b in bounds:
        out = out + (value >= F.lit(float(b))).cast("int")
    return out


def numeric_window_drift_equidepth(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    n_bins: int = 10,
    window: str = "1 day",
    bounds: list[float] | None = None,
    exact_bounds: bool = False,
) -> DataFrame:
    """The drift battery for unbounded doubles: equi-depth boundaries
    (computed over the WHOLE input unless frozen ``bounds`` are passed —
    freeze them from a reference period in production so the binning
    itself cannot drift), then the exact L∞/TVD/EMD machinery on the
    resulting counts. EMD here is in BIN units — equi-depth bins make
    that a probability-mass distance (each bin step ≈ 1/n_bins of the
    reference distribution)."""
    if bounds is None:
        bounds = equi_depth_bounds(
            df, value_col, n_bins, exact=exact_bounds
        )
    v = F.col(value_col)
    counts = (
        df.filter(v.isNotNull() & ~F.isnan(v.cast("double")))
        .groupBy(
            F.window(ts_col, window).alias("w"),
            bin_by_bounds(v.cast("double"), bounds).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "bin",
            "n",
        )
    )
    return numeric_drift_from_bin_counts(counts)


def topk_churn(
    counts: DataFrame,
    k: int = 10,
    part_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Heavy-hitter SET stability between consecutive windows — the
    membership lens the probability-mass divergences miss (a new
    category can enter the top-k while JS/TVD barely move, and the
    top-k can be perfectly stable while mass shifts inside it).

    Input: the same pre-aggregated counts frame as
    :func:`divergence_from_window_counts` — ``(*part_cols, w_start,
    w_end, cat, n)``. Per window the top-k categories are chosen by
    ``(n desc, cat asc)`` row_number — a fully deterministic total
    order, so the SET is a pure function of the counts. Consecutive
    windows align on ``prev.w_end == cur.w_start`` (equi-join, the
    house pairing rule), and the output per current window is::

        (*part_cols, window_start, jaccard, n_kept, n_new, n_dropped,
         k_cur, k_prev)

    with ``jaccard = |cur ∩ prev| / |cur ∪ prev|`` — exact integers,
    ONE final double division. First windows (no predecessor) are
    omitted, like every drift operator here.

    Scale shape: everything after the caller's counts aggregation is
    O(windows × k): the top-k is a window row_number over the bounded
    counts frame, the set comparison a bounded equi-join.
    """
    part = list(part_cols)
    w = Window.partitionBy(*part, "w_start").orderBy(
        F.col("n").desc(), F.col("cat").asc()
    )
    tops = (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(*part, "w_start", "w_end", "cat")
    )
    cur = tops.select(*part, "w_start", "cat").withColumn(
        "_in_cur", F.lit(1)
    )
    prev = tops.select(
        *part, F.col("w_end").alias("w_start"), "cat"
    ).withColumn("_in_prev", F.lit(1))
    both = cur.join(prev, [*part, "w_start", "cat"], "full_outer")
    # restrict to windows that exist on BOTH sides (the full-outer join
    # also manufactures rows for the first window of each series and
    # for prev's successor slot past the last window)
    has = Window.partitionBy(*part, "w_start")
    both = (
        both.withColumn(
            "_w_cur", F.max(F.coalesce("_in_cur", F.lit(0))).over(has)
        )
        .withColumn(
            "_w_prev", F.max(F.coalesce("_in_prev", F.lit(0))).over(has)
        )
        .filter((F.col("_w_cur") == 1) & (F.col("_w_prev") == 1))
    )
    inter = F.sum(
        (
            F.col("_in_cur").isNotNull() & F.col("_in_prev").isNotNull()
        ).cast("long")
    )
    n_new = F.sum(
        (
            F.col("_in_cur").isNotNull() & F.col("_in_prev").isNull()
        ).cast("long")
    )
    n_dropped = F.sum(
        (
            F.col("_in_cur").isNull() & F.col("_in_prev").isNotNull()
        ).cast("long")
    )
    return (
        both.groupBy(*part, "w_start")
        .agg(
            inter.alias("n_kept"),
            n_new.alias("n_new"),
            n_dropped.alias("n_dropped"),
        )
        .select(
            *part,
            F.col("w_start").alias("window_start"),
            (
                F.col("n_kept").cast("double")
                / (
                    F.col("n_kept") + F.col("n_new") + F.col("n_dropped")
                ).cast("double")
            ).alias("jaccard"),
            "n_kept",
            "n_new",
            "n_dropped",
            (F.col("n_kept") + F.col("n_new")).alias("k_cur"),
            (F.col("n_kept") + F.col("n_dropped")).alias("k_prev"),
        )
    )


def divergence_attribution(
    counts: DataFrame,
    part_cols: list[str] | tuple[str, ...] = (),
    top_n: int = 5,
) -> DataFrame:
    """WHICH categories moved: per consecutive-window pair, each
    category's share of the total variation distance — the drill-down a
    drift alarm needs to be actionable (the engine can say "lang
    distribution drifted at window w"; this says "because zh doubled
    and en shrank").

    Input: the counts frame ``(*part_cols, w_start, w_end, cat, n)``.
    Per category the TVD contribution is ``|p_cur − p_prev| / 2``; its
    SHARE is that over the window's TVD. Both reduce to the exact
    cross-multiplied integer ``|c·T_p − d·T_c|`` (c, d the category
    counts; T the window totals), so share = that integer over the
    window's integer sum — ONE double division per row, hash-exact.
    Emits the ``top_n`` contributors per window by ``(share desc, cat
    asc)`` with their signed direction::

        (*part_cols, window_start, rank, cat, share, direction,
         p_cur, p_prev)

    Scale shape: O(windows × categories) after the caller's counts
    aggregation — the same bounded frame every divergence here walks.
    """
    part = list(part_cols)
    dec = "decimal(38,0)"
    tot = Window.partitionBy(*part, "w_start")
    wc = counts.withColumn(
        "t", F.sum("n").over(tot).cast(dec)
    ).withColumn("n", F.col("n").cast(dec))

    cur = wc.select(
        *part, "w_start", "cat",
        F.col("n").alias("c"), F.col("t").alias("tc"),
    )
    prev = wc.select(
        *part,
        F.col("w_end").alias("w_start"),
        "cat",
        F.col("n").alias("d"),
        F.col("t").alias("td"),
    )
    pairs = cur.join(prev, [*part, "w_start", "cat"], "full_outer")
    has = Window.partitionBy(*part, "w_start")
    pairs = (
        pairs.withColumn("_hc", F.max(F.col("tc").isNotNull().cast("int")).over(has))
        .withColumn("_hp", F.max(F.col("td").isNotNull().cast("int")).over(has))
        .filter((F.col("_hc") == 1) & (F.col("_hp") == 1))
        .withColumn("tc", F.max("tc").over(has))
        .withColumn("td", F.max("td").over(has))
        .withColumn("c", F.coalesce("c", F.lit(0).cast(dec)))
        .withColumn("d", F.coalesce("d", F.lit(0).cast(dec)))
    )
    dev = F.col("c") * F.col("td") - F.col("d") * F.col("tc")
    pairs = (
        pairs.withColumn("_dev", dev)
        .withColumn("_tvd_sum", F.sum(F.abs(dev)).over(has))
        # identical windows (TVD = 0) have nothing to attribute — and
        # must drop BEFORE any share division exists in the plan (ANSI)
        .filter(F.col("_tvd_sum") > 0)
    )
    # share ordering ≡ |dev| ordering within a window (the denominator
    # is constant per window) — rank on the exact integer, divide later
    w_rank = Window.partitionBy(*part, "w_start").orderBy(
        F.abs(F.col("_dev")).desc(), F.col("cat").asc()
    )
    ranked = pairs.withColumn("rank", F.row_number().over(w_rank)).filter(
        F.col("rank") <= top_n
    )
    return ranked.select(
        *part,
        F.col("w_start").alias("window_start"),
        "rank",
        "cat",
        (
            F.abs(F.col("_dev")).cast("double")
            / F.col("_tvd_sum").cast("double")
        ).alias("share"),
        F.when(F.col("_dev") > 0, F.lit("up"))
        .when(F.col("_dev") < 0, F.lit("down"))
        .otherwise(F.lit("flat"))
        .alias("direction"),
        (F.col("c").cast("double") / F.col("tc").cast("double")).alias(
            "p_cur"
        ),
        (F.col("d").cast("double") / F.col("td").cast("double")).alias(
            "p_prev"
        ),
    )


def numeric_window_corr(
    df: DataFrame,
    ts_col: str = "ts",
    col_a: str = "a",
    col_b: str = "b",
    window: str = "1 day",
    part_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Per-window EXACT Pearson correlation between two numeric columns
    — the relationship-stability series (a pipeline bug that breaks the
    coupling between, say, length and token count moves this long
    before either marginal distribution drifts). Feed it to the SR /
    CUSUM / EWMA scorers like any stat series.

    Rows where either side is NULL/NaN are excluded (pairwise
    deletion). Values micro-quantize once; per window the five sums run
    over exact decimal(38,0) and the coefficient is the one pinned
    double chain ``(n·Σab − ΣaΣb) / (√(n·Σa²−(Σa)²) · √(n·Σb²−(Σb)²))``
    (variance factors rooted separately — no 38-digit overflow), so the
    series is partitioning-independent and hash-oracled. A window where
    either column is constant yields NULL.

    Output: ``(*part_cols, window_start, window_end, corr, n)``.
    Scale shape: ONE map-side-combined aggregation; output bounded by
    windows × partitions.
    """
    part = list(part_cols)
    dec = "decimal(38,0)"

    def _micro(c):
        return F.round(F.col(c).cast("double") * F.lit(1e6), 0).cast(dec)

    rows = df.filter(
        F.col(col_a).isNotNull()
        & F.col(col_b).isNotNull()
        & ~F.isnan(F.col(col_a).cast("double"))
        & ~F.isnan(F.col(col_b).cast("double"))
    ).select(
        *part,
        F.window(ts_col, window).alias("w"),
        _micro(col_a).alias("_aq"),
        _micro(col_b).alias("_bq"),
    )
    agg = rows.groupBy(*part, "w").agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum("_aq").alias("_sa"),
        F.sum("_bq").alias("_sb"),
        F.sum(F.col("_aq") * F.col("_aq")).alias("_sa2"),
        F.sum(F.col("_bq") * F.col("_bq")).alias("_sb2"),
        F.sum(F.col("_aq") * F.col("_bq")).alias("_sab"),
    )
    da = agg["_n"] * agg["_sa2"] - agg["_sa"] * agg["_sa"]
    db = agg["_n"] * agg["_sb2"] - agg["_sb"] * agg["_sb"]
    num = agg["_n"] * agg["_sab"] - agg["_sa"] * agg["_sb"]
    return agg.select(
        *part,
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.when(
            (da > 0) & (db > 0),
            num.cast("double")
            / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double"))),
        ).alias("corr"),
        F.col("_n").cast("long").alias("n"),
    )
