"""Per-window and window-pair drift math — pure numpy/Python, no Spark.

One implementation shared by every drift surface that compares a
window with its predecessor:

* the batch engine's grouped drift pass (``drift.fused_drift``), which
  derives every stat series of one partition inside one pandas call,
* the streaming shape-drift twin (``streaming/shape_stream``), which
  pairs finalized windows as they arrive,
* the streaming seasonal check (``streaming/seasonal_stream``), which
  quantizes values with :func:`half_up_micro`.

The histogram distances mirror the batch Spark operators in
``operators/divergence.py`` term for term: per-bin cross-multiplied
terms ``c_i·T_q − d_i·T_p`` in unbounded Python ints with ONE final
cast-to-double division (EMD / L∞ / TVD), and add-α smoothing over the
pair's union support with HALF_UP micro-quantized transcendentals
(PSI / χ² / Cramér's V) — so values are bit-equal to the decimal(38,0)
Spark pipelines on the same counts. JS divergence is a float sum; its
summation order differs from Spark's, so parity there is ~1e-15.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def js_tvd(p: np.ndarray, q: np.ndarray) -> tuple[float, float]:
    """Jensen-Shannon divergence (log2, in [0, 1]) and total variation
    distance between two aligned probability vectors; ``0·log 0 := 0``,
    so a category present on one side only contributes through the
    other side's term."""
    m = (p + q) / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        js = 0.5 * np.where(
            p > 0, p * np.log2(np.divide(p, m, where=m > 0)), 0.0
        ).sum() + 0.5 * np.where(
            q > 0, q * np.log2(np.divide(q, m, where=m > 0)), 0.0
        ).sum()
    return float(js), float(np.abs(p - q).sum() / 2.0)


def histogram_distances(cur, prev) -> tuple[float, float, float, int]:
    """``(linf, tvd, emd, n_bins_hit)`` between two aligned bin-count
    vectors, exact: the batch ``numeric_drift_from_bin_counts``
    decimal(38,0) pipeline, term for term. EMD is in bin units; bins
    empty on both sides still carry the running cumulative difference."""
    c = [int(x) for x in cur]
    d = [int(x) for x in prev]
    tc, td = sum(c), sum(d)
    x = [ci * td - di * tc for ci, di in zip(c, d)]
    den = float(tc * td)
    acc, emd_sum = 0, 0
    for v in x:
        acc += v
        emd_sum += abs(acc)
    return (
        float(max(abs(v) for v in x)) / den,
        float(sum(abs(v) for v in x)) / den / 2.0,
        float(emd_sum) / den,
        sum(1 for ci, di in zip(c, d) if ci > 0 or di > 0),
    )


def half_up_micro(x: float) -> int:
    """Spark ``round(double, 0)`` semantics: shortest decimal repr →
    BigDecimal HALF_UP — required for bit-parity with the batch
    ``psi_chi2_from_bin_counts`` (Python's ``round`` is banker's and
    disagrees on exact .5 reprs)."""
    return int(Decimal(repr(x)).quantize(0, rounding=ROUND_HALF_UP))


def psi_chi2(cur, prev, alpha: int = 1) -> tuple[float, float, float, int]:
    """``(psi, chi2, cramers_v, n_bins_union)`` between two aligned
    bin-count vectors: add-α smoothing over the pair's UNION support,
    micro-quantized per-bin transcendentals, exact integer sums — the
    batch ``psi_chi2_from_bin_counts`` arithmetic, term for term."""
    c0 = [int(x) for x in cur]
    d0 = [int(x) for x in prev]
    union = [i for i in range(len(c0)) if c0[i] > 0 or d0[i] > 0]
    b = len(union)
    tc = sum(c0) + alpha * b
    td = sum(d0) + alpha * b
    psi_num, chi_sum = 0, 0
    for i in union:
        c, d = c0[i] + alpha, d0[i] + alpha
        num = c * td - d * tc
        lnm = half_up_micro(
            math.log((float(c) * float(td)) / (float(d) * float(tc))) * 1e6
        )
        chim = half_up_micro(
            float(num) * float(num) / float(tc * td * (c + d)) * 1e6
        )
        psi_num += num * lnm
        chi_sum += chim
    return (
        float(psi_num) / float(tc * td) / 1e6,
        float(chi_sum) / 1e6,
        math.sqrt(float(chi_sum) / 1e6 / float(tc + td)),
        b,
    )


def inverse_cdf_quantile(values: np.ndarray, counts: np.ndarray, q: float):
    """Exact quantile of a histogram: the smallest value whose cumulative
    count reaches ``ceil(total · q)`` (``values`` ascending). ``None``
    for an empty histogram."""
    if len(values) == 0:
        return None
    cum = np.cumsum(counts)
    return values[np.searchsorted(cum, math.ceil(int(cum[-1]) * q), "left")]


def predecessor_index(windows: np.ndarray, duration) -> np.ndarray:
    """For ascending unique window starts (epoch units, so a step is the
    same length at a DST switch), the index of the window exactly one
    ``duration`` earlier, or -1 (the first window and any window after a
    gap have no predecessor and emit no pair value)."""
    prev = windows - duration
    idx = np.searchsorted(windows, prev)
    hit = (idx < len(windows)) & (
        windows[np.minimum(idx, len(windows) - 1)] == prev
    )
    return np.where(hit, idx, -1)
