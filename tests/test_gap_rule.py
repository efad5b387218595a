"""W15 gap-as-anomaly rule: kernel parity with the reference's scan
(srcnn/utils.py:302-311) and the distributed operator."""

import numpy as np
import pandas as pd
import pytest

from anomalydetector_spark.kernel.sr import apply_gap_rule


def _ref_gap_loop(timestamp, detres, scores, max_back=1000):
    """Literal translation of reference srcnn/utils.py:302-311 (the
    ``ms_optioin == 'anomaly'`` block), parameterized on the 1000."""
    detres = list(detres)
    scores = list(scores)
    last = -1
    interval = min(
        timestamp[i] - timestamp[i - 1] for i in range(1, len(timestamp))
    )
    for i in range(1, len(timestamp)):
        if timestamp[i] - timestamp[i - 1] > interval:
            if last >= 0 and i - last < max_back:
                detres[i] = 1
                scores[i] = 1
        if detres[i] == 1:
            last = i
    return detres, scores


@pytest.mark.parametrize("seed", [0, 1, 7, 23])
@pytest.mark.parametrize("max_back", [3, 10, 1000])
def test_gap_rule_matches_reference_loop(seed, max_back):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(20, 400))
    # irregular arrivals: ~60% minimal step, rest larger gaps
    steps = np.where(
        rng.random(n - 1) < 0.6, 1, rng.integers(2, 9, size=n - 1)
    )
    ts = np.concatenate([[0], np.cumsum(steps)])
    det = (rng.random(n) < 0.08).astype(int)
    sc = rng.random(n)

    want_det, want_sc = _ref_gap_loop(ts, det, sc.copy(), max_back)
    got_det, got_sc, forced = apply_gap_rule(ts, det, sc, max_back=max_back)

    assert got_det.tolist() == want_det
    np.testing.assert_allclose(got_sc, np.asarray(want_sc, dtype=float))
    # forced marks exactly the rule-flipped zeros
    assert forced.tolist() == [
        bool(w and not o) for w, o in zip(want_det, det)
    ]


def test_gap_rule_chain_propagation():
    # one real detection, then a chain of gap points each within max_back
    # of the previous (forced) one — all get forced, like the reference's
    # running ``last`` pointer
    ts = np.array([0, 1, 2, 3, 10, 20, 30, 40])
    det = np.array([0, 1, 0, 0, 0, 0, 0, 0])
    got, _, forced = apply_gap_rule(ts, det, None, max_back=2)
    # gaps at idx 4..7; idx 4 is 3 back from det@1 (>=2: not forced);
    # nothing ever forces, so the chain never starts
    assert got.tolist() == det.tolist()
    got, _, forced = apply_gap_rule(ts, det, None, max_back=4)
    # idx4: last=1, 4-1=3 <4 -> forced; idx5: last=4 -> forced; etc.
    assert got.tolist() == [0, 1, 0, 0, 1, 1, 1, 1]
    assert forced.tolist() == [False] * 4 + [True] * 4


def test_gap_rule_regular_series_noop():
    ts = np.arange(50) * 60
    det = np.zeros(50, dtype=int)
    det[[10, 30]] = 1
    sc = np.linspace(0, 1, 50)
    got, gsc, forced = apply_gap_rule(ts, det, sc)
    assert got.tolist() == det.tolist()
    np.testing.assert_array_equal(gsc, sc)
    assert not forced.any()


def test_gap_adjusted_detections_operator(spark):
    from anomalydetector_spark.operators.evaluate import gap_adjusted_detections

    rng = np.random.default_rng(5)
    frames = []
    for s in range(6):
        n = int(rng.integers(15, 120))
        steps = np.where(
            rng.random(n - 1) < 0.5, 1, rng.integers(2, 6, size=n - 1)
        )
        ts = np.concatenate([[0], np.cumsum(steps)]).astype(np.int64)
        det = (rng.random(n) < 0.1).astype(np.int64)
        sc = rng.random(n)
        frames.append(
            pd.DataFrame(
                {"series_id": f"s{s}", "ts": ts, "pred": det, "score": sc}
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)

    out = (
        gap_adjusted_detections(df, max_back=5)
        .toPandas()
        .sort_values(["series_id", "ts"])
    )
    for s, grp in pdf.groupby("series_id"):
        grp = grp.sort_values("ts")
        want_det, want_sc = _ref_gap_loop(
            grp["ts"].to_list(), grp["pred"].to_list(), grp["score"].to_list(), 5
        )
        got = out[out["series_id"] == s]
        assert got["pred"].to_list() == want_det, s
        np.testing.assert_allclose(got["score"].to_numpy(), want_sc)
