"""Spark-free window-pair drift math (kernel/window_drift.py), shared by
the batch engine's grouped drift pass and the streaming twins."""

import numpy as np

from anomalydetector_spark.kernel.window_drift import (
    histogram_distances,
    inverse_cdf_quantile,
    js_tvd,
    predecessor_index,
    psi_chi2,
)


def test_inverse_cdf_quantile_matches_expanded_sample():
    rng = np.random.default_rng(5)
    for _ in range(50):
        values = np.unique(rng.integers(0, 200, size=rng.integers(1, 30)))
        counts = rng.integers(1, 9, size=len(values))
        sample = np.repeat(values, counts)
        for q in (0.5, 0.95):
            k = int(np.ceil(len(sample) * q))  # 1-based rank
            assert inverse_cdf_quantile(values, counts, q) == sample[k - 1]
    assert inverse_cdf_quantile(np.array([]), np.array([]), 0.5) is None


def test_predecessor_index_skips_first_window_and_gaps():
    day_us = 86_400_000_000
    wins = 1_735_689_600_000_000 + np.array([0, 1, 2, 4, 5, 9]) * day_us
    assert predecessor_index(wins, day_us).tolist() == [-1, 0, 1, -1, 3, -1]


def test_identical_windows_have_zero_distance():
    c = np.array([3, 0, 5, 1])
    js, tvd = js_tvd(c / c.sum(), c / c.sum())
    assert js == 0.0 and tvd == 0.0
    assert histogram_distances(c, c * 2)[:3] == (0.0, 0.0, 0.0)
    assert psi_chi2(c, c)[:2] == (0.0, 0.0)


def test_histogram_distances_hand_computed():
    # all mass moves two bins right: EMD = 2 bins, TVD = L∞ = 1
    linf, tvd, emd, hit = histogram_distances([0, 0, 4], [4, 0, 0])
    assert (linf, tvd, emd, hit) == (1.0, 1.0, 2.0, 2)
    # partial overlap, equal totals: x_i = 4·(c_i − d_i) = [-12, 4, 8, 0]
    # over den 16; cumulative -12, -8, 0, 0 → Σ|cum| = 20
    linf, tvd, emd, hit = histogram_distances([0, 2, 2, 0], [3, 1, 0, 0])
    assert (linf, tvd, emd, hit) == (12 / 16, (12 + 4 + 8) / 16 / 2, 20 / 16, 3)
    # disjoint supports: JS divergence is exactly 1 bit
    assert js_tvd(np.array([1.0, 0.0]), np.array([0.0, 1.0])) == (1.0, 1.0)
