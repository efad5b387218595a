"""Distribution-drift check: SR-score every (partition, stat) series.

The stat-series table is tiny by construction (one row per window ×
partition × stat), so the expensive FFT work rides a single
``groupBy(...).applyInPandas`` over already-aggregated data — one shuffle
whose key count is bounded, never a per-document operation. Placement of
this stage AFTER aggregation is the engine's key planning rule
(SURVEY.md §4 item 4).

Each group runs the whole-series numpy SR kernel (anomalydetector_spark/
kernel/sr.py, semantics of reference msanomalydetector/spectral_residual.py)
and returns the series extended with mag/score/isAnomaly (+ margin columns
when requested), matching the reference's output frame
(spectral_residual.py:78-105).

The engine does not build the stat-series table in Catalyst first:
:func:`fused_drift` groups the union of the persisted counts cube's
slice and the url profile's per-window distinct-key counts and, in ONE
pandas call per partition, derives every series (window-pair math
shared with the streaming twins in ``kernel/window_drift``) and scores
it with the same per-series scorer as :func:`score_drift`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.kernel.sr import MIN_POINTS, SrParams, sr_detect
from anomalydetector_spark.kernel.window_drift import (
    histogram_distances,
    inverse_cdf_quantile,
    js_tvd,
    predecessor_index,
    psi_chi2,
)
from anomalydetector_spark.plans.fused import (
    DEFAULT_LANGS,
    LEN_BINS,
    drift_inputs,
    duration_seconds,
)

DRIFT_SCHEMA = (
    "partition_key string, stat_name string, window_start timestamp, "
    "value double, mag double, score double, is_anomaly boolean"
)

DRIFT_MARGIN_SCHEMA = DRIFT_SCHEMA + (
    ", expected_value double, unit double, lower_boundary double, "
    "upper_boundary double"
)


_MARGIN_COLS = {
    "expected_value": "expectedValue",
    "unit": "unit",
    "lower_boundary": "lowerBoundary",
    "upper_boundary": "upperBoundary",
}


def _score_series(
    partition_key: str,
    stat_name: str,
    window_start: np.ndarray,
    value: np.ndarray,
    params: SrParams,
) -> dict[str, np.ndarray]:
    """SR-score ONE ordered series: its DRIFT(_MARGIN)_SCHEMA columns."""
    n = len(value)
    out = {
        "partition_key": np.full(n, partition_key, dtype=object),
        "stat_name": np.full(n, stat_name, dtype=object),
        "window_start": window_start,
        "value": np.asarray(value, dtype=float),
    }
    if n < MIN_POINTS:
        # Too short to score: emit the series unscored (score null) so
        # the min-points verdict is taken by the check layer, mirroring
        # the reference's NotEnoughPoints contract (invoker.py:43-44).
        nan = np.full(n, np.nan)
        out.update(mag=nan, score=nan, is_anomaly=np.full(n, None, dtype=object))
        if params.with_margin:
            out.update({c: nan for c in _MARGIN_COLS})
        return out

    res = sr_detect(window_start, value, params)
    out.update(mag=res["mag"], score=res["score"], is_anomaly=res["isAnomaly"])
    if params.with_margin:
        out.update({c: res[k] for c, k in _MARGIN_COLS.items()})
    return out


def _scored_frame(series: list[dict[str, np.ndarray]]) -> pd.DataFrame:
    """One output frame from :func:`_score_series` results. Result floats
    travel as nullable Float64, so a NaN (unscored point, all-zero
    series) reaches Spark as NULL — NaN sorts above every double in
    Spark and would poison max(score) aggregations."""
    out = pd.DataFrame(
        {c: np.concatenate([s[c] for s in series]) for c in series[0]}
    )
    for c in ("mag", "score", *(c for c in _MARGIN_COLS if c in out)):
        out[c] = pd.array(out[c].to_numpy(dtype=float), dtype="Float64")
    return out


def _make_group_fn(params: SrParams):
    def detect_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("window_start")
        return _scored_frame(
            [
                _score_series(
                    pdf["partition_key"].iloc[0],
                    pdf["stat_name"].iloc[0],
                    pdf["window_start"].to_numpy(),
                    pdf["value"].to_numpy(),
                    params,
                )
            ]
        )

    return detect_group


def score_drift(
    stat_series: DataFrame, params: SrParams | None = None
) -> DataFrame:
    """SR-score each (partition_key, stat_name) series.

    Ordering inside each group is done in pandas (groups are window-count
    sized); the shuffle key is (partition_key, stat_name), whose
    cardinality = partitions × stats — small and uniform, so no skew
    handling is needed at this stage even at 10^12 input docs.
    """
    p = params or SrParams()
    schema = DRIFT_MARGIN_SCHEMA if p.with_margin else DRIFT_SCHEMA
    return stat_series.groupBy("partition_key", "stat_name").applyInPandas(
        _make_group_fn(p), schema=schema
    )


def drift_verdicts(scored: DataFrame) -> DataFrame:
    """Collapse scored series into per-(partition, stat) verdict rows:
    pass/fail + anomalous-window count + worst score, the engine's analog
    of the reference's whole-job raise (SURVEY.md §3 EP2)."""
    anomalous = "sum(CAST(is_anomaly AS INT))"
    return scored.groupBy("partition_key", "stat_name").agg(
        F.expr("count(1) AS n_windows"),
        F.expr(f"{anomalous} AS n_anomalous"),
        F.expr("max(score) AS max_score"),
        F.expr(
            "max(CASE WHEN is_anomaly THEN window_start END) "
            "AS last_anomalous_window"
        ),
        F.expr(
            f"CASE WHEN count(1) < {MIN_POINTS} THEN 'error:not_enough_points' "
            f"WHEN {anomalous} > 0 THEN 'fail' ELSE 'pass' END AS verdict"
        ),
    )


def lens_consensus(
    sr_scored: DataFrame,
    cusum_scored: DataFrame | None = None,
    ewma_scored: DataFrame | None = None,
) -> DataFrame:
    """Cross-lens agreement per (partition, stat, window): SR is the
    SALIENCY lens, CUSUM the sustained-shift lens, EWMA the small-shift
    lens — a window flagged by two independent lenses is a far stronger
    signal than any single detector's threshold crossing, and a
    disagreement (CUSUM alarms, SR silent) itself says what KIND of
    anomaly it is (slow drift vs spike).

    Joins the scored frames on (partition_key, stat_name, window_start)
    — all bounded stat-series frames, broadcast-sized. Lenses not
    provided (or windows a lens could not score: too-short series, σ=0)
    contribute NULL, counted as not-fired. Output::

        (partition_key, stat_name, window_start, value, sr_anomaly,
         cusum_alarm, ewma_alarm, n_fired, consensus)

    ``consensus`` = at least two lenses fired. SR rows drive the output
    (left joins): every SR-scored window appears exactly once.
    """
    keys = ["partition_key", "stat_name", "window_start"]
    out = sr_scored.select(
        *keys, "value", F.col("is_anomaly").alias("sr_anomaly")
    )
    if cusum_scored is not None:
        out = out.join(
            cusum_scored.select(*keys, F.col("alarm").alias("cusum_alarm")),
            keys,
            "left",
        )
    else:
        out = out.withColumn("cusum_alarm", F.lit(None).cast("boolean"))
    if ewma_scored is not None:
        out = out.join(
            ewma_scored.select(*keys, F.col("alarm").alias("ewma_alarm")),
            keys,
            "left",
        )
    else:
        out = out.withColumn("ewma_alarm", F.lit(None).cast("boolean"))
    fired = (
        F.coalesce(F.col("sr_anomaly"), F.lit(False)).cast("int")
        + F.coalesce(F.col("cusum_alarm"), F.lit(False)).cast("int")
        + F.coalesce(F.col("ewma_alarm"), F.lit(False)).cast("int")
    )
    return out.select(
        *keys,
        "value",
        "sr_anomaly",
        "cusum_alarm",
        "ewma_alarm",
        fired.alias("n_fired"),
        (fired >= 2).alias("consensus"),
    )


def _window_sums(inv: np.ndarray, n: np.ndarray, n_windows: int) -> np.ndarray:
    """Exact int64 per-window sums of ``n`` (``inv`` = window index)."""
    out = np.zeros(n_windows, dtype=np.int64)
    np.add.at(out, inv, n)
    return out


def _derive_series(
    cube: pd.DataFrame,
    keys: pd.DataFrame,
    langs: tuple[str, ...],
    duration_us: int,
    shape_drift: bool,
) -> list[tuple[str, np.ndarray, np.ndarray]]:
    """Every stat series of ONE partition as ``(stat_name, window_starts,
    values)``, windows ascending — the values the Spark operators give on
    the same counts (see :func:`fused_drift`)."""
    out = []
    if len(cube):
        wins_us, first, inv = np.unique(
            cube["_w_us"].to_numpy(dtype=np.int64),
            return_index=True,
            return_inverse=True,
        )
        wins = cube["window_start"].to_numpy()[first]
        nw = len(wins)
        n = cube["_n"].to_numpy(dtype=np.int64)
        lens = cube["_len"].to_numpy(dtype=float, na_value=np.nan)
        lang = cube["lang"].to_numpy(dtype=object)
        tot = _window_sums(inv, n, nw)

        def frac(mask: np.ndarray) -> np.ndarray:
            return _window_sums(inv[mask], n[mask], nw) / tot

        has_len = ~np.isnan(lens)
        out.append(("doc_count", wins, tot.astype(float)))
        out.append(("null_rate", wins, frac(~has_len)))
        out += [(f"lang_frac_{c}", wins, frac(lang == c)) for c in langs]

        # exact inverse-CDF length quantiles over each window's rows
        # sorted by length; a window without any text reads 0.0
        order = np.lexsort((lens[has_len], inv[has_len]))
        w_sorted = inv[has_len][order]
        l_sorted = lens[has_len][order]
        n_sorted = n[has_len][order]
        bounds = np.searchsorted(w_sorted, np.arange(nw + 1))
        for name, q in (("len_p50", 0.5), ("len_p95", 0.95)):
            vals = np.zeros(nw)
            for i in range(nw):
                lo, hi = bounds[i], bounds[i + 1]
                if hi > lo:
                    vals[i] = inverse_cdf_quantile(
                        l_sorted[lo:hi], n_sorted[lo:hi], q
                    )
            out.append((name, wins, vals))

        if shape_drift:
            prev = predecessor_index(wins_us, duration_us)
            cur = np.flatnonzero(prev >= 0)
            pairs = [(i, prev[i]) for i in cur]
            cats, cinv = np.unique(
                np.where(pd.isna(lang), "<null>", lang).astype(str),
                return_inverse=True,
            )
            by_cat = np.zeros((nw, len(cats)), dtype=np.int64)
            np.add.at(by_cat, (inv, cinv), n)
            probs = by_cat / tot[:, None]
            by_bin = np.zeros((nw, LEN_BINS), dtype=np.int64)
            np.add.at(by_bin, (inv, cube["_bin"].to_numpy(dtype=np.int64)), n)
            js = [js_tvd(probs[i], probs[j])[0] for i, j in pairs]
            emd = [histogram_distances(by_bin[i], by_bin[j])[2] for i, j in pairs]
            psi = [psi_chi2(by_bin[i], by_bin[j])[0] for i, j in pairs]
            out.append(("lang_js_divergence", wins[cur], np.array(js)))
            out.append(("len_hist_emd", wins[cur], np.array(emd)))
            out.append(("len_hist_psi", wins[cur], np.array(psi)))
    if len(keys):
        k = keys.sort_values("window_start")
        out.append(
            (
                "distinct_url",
                k["window_start"].to_numpy(),
                k["_keys"].to_numpy(dtype=float),
            )
        )
    return out


def fused_drift(
    cube: DataFrame,
    profile: DataFrame,
    window_duration: str = "1 day",
    langs: tuple[str, ...] = DEFAULT_LANGS,
    params: SrParams | None = None,
    shape_drift: bool = True,
) -> DataFrame:
    """Derive every drift stat series from the fused scans and SR-score
    each one, in ONE grouped pandas pass per ``partition_key``.

    The persisted counts cube's slice (plans/fused.py) and the per-window
    distinct-key counts of the url profile arrive as one union
    (``fused.drift_inputs``) grouped by ``partition_key``, so each side
    is shuffled once; one worker call per partition derives

    * ``doc_count``, ``null_rate``, ``lang_frac_<l>`` for each l in
      ``langs``, and the exact inverse-CDF ``len_p50`` / ``len_p95``,
    * ``distinct_url`` (exact per-window distinct keys),
    * with ``shape_drift``: ``lang_js_divergence`` (JS of the per-window
      lang distribution, null lang as its own ``<null>`` category),
      ``len_hist_emd`` and ``len_hist_psi`` (EMD / PSI of the log2
      length histogram, exact integer arithmetic) — each against the
      window exactly one ``window_duration`` earlier; the first window
      and any window after a gap emit no value,

    and scores each series like :func:`score_drift` (series shorter than
    ``MIN_POINTS`` come back unscored). Values equal the Spark operators
    on the same counts (``operators/divergence``; JS within ~1e-15), via
    the shared math in ``kernel/window_drift``.

    Size: one group holds one partition's cube slice — windows ×
    distinct text lengths × langs rows (31.5k for 50k pages over 48
    daily windows in one partition) — plus one distinct-key row per
    window. The slice grows with the number of distinct text lengths per
    window, so a large partition gives a large group: a partition is
    never split across groups.
    """
    p = params or SrParams()
    langs = tuple(langs)
    duration_us = duration_seconds(window_duration) * 1_000_000

    def derive_and_score(key, pdf):
        # a partition reaches the group only through at least one row, so
        # there is always at least one series
        is_keys = pdf["_keys"].notna()
        return _scored_frame(
            [
                _score_series(key[0], name, w, v, p)
                for name, w, v in _derive_series(
                    pdf[~is_keys], pdf[is_keys], langs, duration_us,
                    shape_drift,
                )
                if len(w)
            ]
        )

    return (
        drift_inputs(cube, profile, len_bins=shape_drift)
        .groupBy("partition_key")
        .applyInPandas(
            derive_and_score,
            schema=DRIFT_MARGIN_SCHEMA if p.with_margin else DRIFT_SCHEMA,
        )
    )
