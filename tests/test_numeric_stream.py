"""Streaming numeric-histogram drift must equal the batch operator
bit-for-bit on the same rows (both sides compute the distances in exact
integer arithmetic with one final double division), and the shared
pairing machine must emit each window-pair exactly once across replays.
"""

import datetime as dt
import glob
import math
import os
import random
import shutil

import pandas as pd
import pytest

from anomalydetector_spark.operators.divergence import numeric_window_drift
from anomalydetector_spark.streaming import (
    numeric_drift_stream,
    streaming_window_histogram,
)

T0 = dt.datetime(2024, 1, 1)
N_DAYS = 12
N_CHUNKS = 4
LO, HI, N_BINS = 0.0, 100.0, 20


def _mkrows():
    """Deterministic events with a drift at day 6, NaN/null noise, and a
    silent day 9 (gap window — its neighbors must be skipped)."""
    rng = random.Random(7)
    rows = []
    for day in range(N_DAYS):
        if day == 9:
            continue
        center = 30.0 if day < 6 else 70.0
        for i in range(120):
            ts = T0 + dt.timedelta(days=day, seconds=i * 600)
            v = center + rng.uniform(-25.0, 25.0)
            rows.append((ts, v))
        # noise the histogram must ignore
        rows.append((T0 + dt.timedelta(days=day, seconds=100), None))
        rows.append(
            (T0 + dt.timedelta(days=day, seconds=200), float("nan"))
        )
        # out-of-range values clamp into edge bins
        rows.append((T0 + dt.timedelta(days=day, seconds=300), -5.0))
        rows.append((T0 + dt.timedelta(days=day, seconds=400), 140.0))
    return rows


@pytest.fixture(scope="module")
def numeric_stream_dirs(spark, tmp_path_factory):
    """The events written as N_CHUNKS time-ordered parquet files so the
    file source replays them in event-time order and the watermark
    advances batch by batch."""
    root = tmp_path_factory.mktemp("numstream")
    in_dir = str(root / "events_in")
    os.makedirs(in_dir)
    df = spark.createDataFrame(
        _mkrows(), "ts timestamp, value double"
    ).cache()
    df.count()
    per = N_DAYS / N_CHUNKS
    import pyspark.sql.functions as F

    day = F.floor(
        (F.col("ts").cast("long") - F.lit(int(T0.timestamp())))
        / F.lit(86400)
    )
    for i in range(N_CHUNKS):
        chunk = df.filter(
            (day >= i * per) & (day < (i + 1) * per)
        )
        tmp = str(root / f"chunk{i}")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(src, f"{in_dir}/{i:04d}.parquet")
    yield {"in": in_dir, "root": str(root), "events": df}
    df.unpersist()


def test_streaming_numeric_drift_matches_batch_bit_for_bit(
    spark, numeric_stream_dirs
):
    in_dir, root = numeric_stream_dirs["in"], numeric_stream_dirs["root"]
    events = numeric_stream_dirs["events"]

    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    hist = streaming_window_histogram(
        stream, value_col="value", lo=LO, hi=HI, n_bins=N_BINS,
        window_duration="1 day", watermark_delay="1 day", ts_col="ts",
    )
    hist_dir, out_dir = f"{root}/hist_out", f"{root}/drift_out"
    q1 = (
        hist.writeStream.format("parquet")
        .option("path", hist_dir)
        .option("checkpointLocation", f"{root}/hist_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(300)

    hstream = (
        spark.readStream.schema(
            "partition_key string, window_start timestamp, "
            "bin_counts array<bigint>"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(hist_dir)
    )
    q2 = (
        numeric_drift_stream(
            hstream, window_duration="1 day", n_bins=N_BINS
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/drift_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)

    got = {
        r["window_start"]: (
            r["linf"], r["tvd"], r["emd"], r["n_bins_hit"]
        )
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        r["window_start"]: (
            r["linf"], r["tvd"], r["emd"], r["n_bins_hit"]
        )
        for r in numeric_window_drift(
            events, ts_col="ts", value_col="value",
            lo=LO, hi=HI, n_bins=N_BINS, window="1 day",
        ).collect()
    }
    # watermark finalizes every window but possibly the trailing one(s);
    # state must have crossed micro-batch boundaries
    assert len(got) >= 7
    # day 9 silent: days 9 and 10 have no contiguous predecessor pair
    days = sorted((w - T0).days for w in exp)
    assert 9 not in days and 10 not in days
    for w, vals in got.items():
        assert w in exp, w
        assert vals == exp[w], (w, vals, exp[w])  # bit-for-bit
    assert all(not math.isnan(v) for vals in got.values() for v in vals)


class StubState:
    def __init__(self):
        self._v, self.exists = None, False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True


def _hist_batch(day_counts):
    return pd.DataFrame(
        {
            "partition_key": ["global"] * len(day_counts),
            "window_start": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)
                for d, _ in day_counts
            ],
            "bin_counts": [c for _, c in day_counts],
        }
    )


def test_redelivery_emits_once():
    from anomalydetector_spark.streaming.numeric_stream import (
        _make_drift_fn,
    )
    from anomalydetector_spark.streaming.pairs import duration_us

    fn = _make_drift_fn(3, duration_us("1 day"), buffer_windows=16)
    state = StubState()
    b1 = list(
        fn(("global",), [_hist_batch([(0, [5, 5, 0]), (1, [0, 5, 5])])],
           state)
    )[0]
    assert len(b1) == 1
    # stage-1 restart replays the same windows plus one new one
    b2 = list(
        fn(
            ("global",),
            [_hist_batch(
                [(0, [5, 5, 0]), (1, [0, 5, 5]), (2, [0, 5, 5])]
            )],
            state,
        )
    )[0]
    assert len(b2) == 1
    assert b2["window_start"].iloc[0] == pd.Timestamp("2024-01-03")
    assert b2["linf"].iloc[0] == 0.0  # identical histograms


def test_ledger_blocks_replay_beyond_buffer_horizon():
    from anomalydetector_spark.streaming.numeric_stream import (
        _make_drift_fn,
    )
    from anomalydetector_spark.streaming.pairs import duration_us

    fn = _make_drift_fn(2, duration_us("1 day"), buffer_windows=2)
    state = StubState()
    b1 = list(
        fn(("global",),
           [_hist_batch([(d, [3, 1]) for d in range(5)])], state)
    )[0]
    assert len(b1) == 4  # days 1-4; buffer now holds only days 3,4
    b2 = list(
        fn(("global",),
           [_hist_batch([(d, [3, 1]) for d in range(3)])], state)
    )[0]
    assert len(b2) == 0  # ledger blocks re-emission beyond the buffer


def test_drift_values_match_hand_computation():
    from anomalydetector_spark.streaming.numeric_stream import (
        _make_drift_fn,
    )
    from anomalydetector_spark.streaming.pairs import duration_us

    fn = _make_drift_fn(4, duration_us("1 day"), buffer_windows=8)
    state = StubState()
    # prev: [3,1,0,0] T=4; cur: [0,2,2,0] T=4
    (row,) = list(
        fn(("global",),
           [_hist_batch([(0, [3, 1, 0, 0]), (1, [0, 2, 2, 0])])],
           state)
    )[0].itertuples(index=False)
    # x_i = c_i*Td - d_i*Tc = 4*(c_i - d_i): [-12, 4, 8, 0]; den = 16
    assert row.linf == 12 / 16
    assert row.tvd == (12 + 4 + 8) / 16 / 2
    # cums: -12, -8, 0, 0 → Σ|cum| = 20
    assert row.emd == 20 / 16
    assert row.n_bins_hit == 3


def test_streaming_window_corr_matches_batch_bit_for_bit(
    spark, tmp_path
):
    """The windowed-correlation stream equals the batch operator bit
    for bit: the five sums are exact integers (order-independent under
    any micro-batch composition), the coefficient the same pinned
    chain."""
    import pyspark.sql.functions as F

    from anomalydetector_spark.operators.divergence import (
        numeric_window_corr,
    )
    from anomalydetector_spark.streaming import streaming_window_corr

    root = str(tmp_path)
    in_dir = f"{root}/in"
    os.makedirs(in_dir)
    rng = random.Random(23)
    rows = []
    for day in range(8):
        for i in range(60):
            a = rng.uniform(0, 100)
            b = 1.5 * a + rng.uniform(-20, 20)
            rows.append(
                (T0 + dt.timedelta(days=day, seconds=i * 600), a, b)
            )
        rows.append((T0 + dt.timedelta(days=day, seconds=50), None, 1.0))
        rows.append(
            (T0 + dt.timedelta(days=day, seconds=70), float("nan"), 2.0)
        )
    df = spark.createDataFrame(rows, "ts timestamp, a double, b double").cache()
    df.count()
    day_col = F.floor(
        (F.col("ts").cast("long") - F.lit(int(T0.timestamp()))) / F.lit(86400)
    )
    for i in range(4):
        chunk = df.filter((day_col >= i * 2) & (day_col < (i + 1) * 2))
        tmp = f"{root}/c{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(
            glob.glob(f"{tmp}/part-*.parquet")[0],
            f"{in_dir}/{i:04d}.parquet",
        )
    stream = (
        spark.readStream.schema("ts timestamp, a double, b double")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_window_corr(
            stream, "a", "b", window_duration="1 day",
            watermark_delay="1 day",
        )
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r.window_start: (r.corr, r.n)
        for r in spark.read.parquet(f"{root}/out").collect()
    }
    exp = {
        r.window_start: (r.corr, r.n)
        for r in numeric_window_corr(df, "ts", "a", "b", "1 day").collect()
    }
    assert len(got) >= 6  # all but possibly the trailing window finalize
    for w, vals in got.items():
        assert vals == exp[w], (w, vals, exp[w])
    assert all(c > 0.8 for c, _ in got.values())
    df.unpersist()
