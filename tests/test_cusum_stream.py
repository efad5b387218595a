"""Order-sensitive streams (seasonal expectation, top-k churn) must equal
their batch operators bit for bit on emitted windows, consume windows in
timestamp order through the reorder buffer (``pairs.ordered_drain``), and
never walk a replayed window twice (the consume pointer is the ledger)."""

import datetime as dt
import glob
import os
import random
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.streaming.seasonal_stream import _make_seasonal_fn

T0 = dt.datetime(2024, 1, 1)
N_DAYS = 24


def _series_rows():
    """One series with a level shift at day 15 + one flat series."""
    rnd = random.Random(21)
    rows = []
    for d in range(N_DAYS):
        base = 50.0 + (6.0 if d >= 15 else 0.0) + rnd.uniform(-0.5, 0.5)
        rows.append(("global", "m1", T0 + dt.timedelta(days=d), base))
        rows.append(("global", "flat", T0 + dt.timedelta(days=d), 7.0))
    return rows


@pytest.fixture(scope="module")
def series_stream_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("orderedstream")
    in_dir = str(root / "stats_in")
    os.makedirs(in_dir)
    df = spark.createDataFrame(
        _series_rows(),
        "partition_key string, stat_name string, "
        "window_start timestamp, value double",
    ).cache()
    df.count()
    # 4 time-ordered chunks so windows cross micro-batch boundaries
    for i in range(4):
        chunk = df.filter(
            (F.dayofyear("window_start") - 1 >= i * 6)
            & (F.dayofyear("window_start") - 1 < (i + 1) * 6)
        )
        tmp = str(root / f"chunk{i}")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(src, f"{in_dir}/{i:04d}.parquet")
    yield {"in": in_dir, "root": str(root), "series": df}
    df.unpersist()


class StubState:
    def __init__(self):
        self._v, self.exists = None, False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True


def _pdf(day_vals):
    return pd.DataFrame(
        {
            "partition_key": ["global"] * len(day_vals),
            "stat_name": ["m"] * len(day_vals),
            "window_start": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)
                for d, _ in day_vals
            ],
            "value": [v for _, v in day_vals],
        }
    )


DUR = 86_400_000_000


def _fn():
    """The seasonal stream's per-series state function: one emitted row
    per consumed window."""
    return _make_seasonal_fn(1, 1, 0.5, DUR, buffer_windows=3)


def test_replay_is_dropped_by_the_pointer():
    fn = _fn()
    st = StubState()
    # 5 windows exceed the buffer horizon (3): day 0 consumes, then
    # 1..4 drain contiguously — all 5 walk in one call
    out1 = list(
        fn(
            ("global", "m"),
            [_pdf([(d, 10.0 + d) for d in range(5)])],
            st,
        )
    )
    assert sum(len(o) for o in out1) == 5
    # replay the same windows: the consume pointer drops them all
    out2 = list(
        fn(("global", "m"), [_pdf([(d, 10.0 + d) for d in range(5)])], st)
    )
    assert sum(len(o) for o in out2) == 0


def test_out_of_order_consumed_in_timestamp_order():
    fn = _fn()
    st = StubState()
    # day 1 before day 0: both sit in the reorder buffer (inside the
    # horizon, no pointer yet) — nothing emits
    out = list(fn(("global", "m"), [_pdf([(1, 12.0), (0, 10.0)])], st))
    assert sum(len(o) for o in out) == 0
    # days 2,3 arrive: horizon passes for day 0, the rest drain
    # contiguously — emitted strictly in timestamp order
    out2 = list(fn(("global", "m"), [_pdf([(2, 9.0), (3, 11.0)])], st))
    ts = pd.concat(out2)["window_start"].dt.day.tolist()
    assert ts == [1, 2, 3, 4]  # Jan 1..4 = days 0..3, sorted
    # late window older than the pointer is dropped, not walked
    out3 = list(fn(("global", "m"), [_pdf([(1, 99.0)])], st))
    assert sum(len(o) for o in out3) == 0


def test_gap_consumes_after_horizon():
    fn = _fn()
    st = StubState()
    # days 0..2 buffer (horizon not passed), then 4,5 (gap at 3):
    # horizon passes for 0 -> 0,1,2 walk; 4 waits (only 1 newer behind)
    list(fn(("global", "m"), [_pdf([(0, 10.0), (1, 10.0), (2, 10.0)])], st))
    out = list(fn(("global", "m"), [_pdf([(4, 10.0), (5, 10.0)])], st))
    ts1 = (
        pd.concat(out)["window_start"].dt.day.tolist() if out else []
    )
    assert ts1 == [1, 2, 3]  # days 0..2; the post-gap day 4 still waits
    # days 6,7 arrive: horizon passes for day 4, everything drains in
    # order across the gap — exactly the batch's walk-over-gaps rule
    out2 = list(fn(("global", "m"), [_pdf([(6, 10.0), (7, 10.0)])], st))
    ts2 = pd.concat(out2)["window_start"].dt.day.tolist()
    assert ts2 == [5, 6, 7, 8]  # days 4..7


def test_seasonal_stream_matches_batch_bit_for_bit(
    spark, series_stream_env
):
    """The streaming seasonal-expectation check equals the batch
    operator bit for bit on every emitted window (exact integer
    numerators, same pinned double chains, same zero-history rules)."""
    from anomalydetector_spark.operators.trend import seasonal_expectation
    from anomalydetector_spark.streaming import seasonal_expectation_stream

    env = series_stream_env
    stream = (
        spark.readStream.schema(
            "partition_key string, stat_name string, "
            "window_start timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(env["in"])
    )
    out_dir = f"{env['root']}/seasonal_out"
    q = (
        seasonal_expectation_stream(
            stream, season_lag=7, n_seasons=2, tolerance=0.1,
            window_duration="1 day", buffer_windows=4,
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{env['root']}/seasonal_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.stat_name, r.window_start): r
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        (r.stat_name, r.window_start): r
        for r in seasonal_expectation(
            env["series"],
            ["partition_key", "stat_name"],
            "window_start",
            "value",
            season_lag=7,
            n_seasons=2,
            tolerance=0.1,
        ).collect()
    }
    m1 = [k for k in got if k[0] == "m1"]
    assert len(m1) >= N_DAYS - 4
    # the 6-unit shift at day 15 deviates >10% from its same-phase
    # history — flagged in both engines
    assert any(got[k].flagged for k in m1)
    for key, g in got.items():
        e = exp[key]
        assert (g.value, g.expected, g.rel_dev, g.flagged, g.n_history) == (
            e.value, e.expected, e.rel_dev, e.flagged, e.n_history,
        ), key


def test_topk_churn_stream_matches_batch(spark, tmp_path):
    """Streaming top-k churn equals the batch operator value-for-value
    on every emitted window (same deterministic tie-break, exact
    integers, one division)."""
    import pyspark.sql.functions as F  # noqa: F811

    from anomalydetector_spark.operators.divergence import topk_churn
    from anomalydetector_spark.streaming import (
        streaming_window_topk,
        topk_churn_stream,
    )

    root = str(tmp_path)
    in_dir = f"{root}/in"
    os.makedirs(in_dir)
    cats = ["a", "b", "c", "d", "e"]
    rnd = random.Random(29)
    rows = []
    for day in range(10):
        weights = [10, 8, 6, 1, 1] if day < 5 else [1, 1, 6, 8, 10]
        pool = [c for c, w in zip(cats, weights) for _ in range(w)]
        for i in range(120):
            rows.append(
                (T0 + dt.timedelta(days=day, seconds=i * 600),
                 rnd.choice(pool))
            )
    df = spark.createDataFrame(rows, "ts timestamp, cat string").cache()
    df.count()
    day_col = F.floor(
        (F.col("ts").cast("long") - F.lit(int(T0.timestamp())))
        / F.lit(86400)
    )
    for i in range(4):
        chunk = df.filter(
            (day_col >= i * 2.5) & (day_col < (i + 1) * 2.5)
        )
        tmp = f"{root}/c{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(
            glob.glob(f"{tmp}/part-*.parquet")[0],
            f"{in_dir}/{i:04d}.parquet",
        )

    stream = (
        spark.readStream.schema("ts timestamp, cat string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    topk = streaming_window_topk(
        stream, "cat", cats, k=3, window_duration="1 day",
        watermark_delay="1 day",
    )
    tk_dir = f"{root}/topk"
    q1 = (
        topk.writeStream.format("parquet")
        .option("path", tk_dir)
        .option("checkpointLocation", f"{root}/tk_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(300)
    tstream = (
        spark.readStream.schema(
            "partition_key string, window_start timestamp, "
            "topk array<string>"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(tk_dir)
    )
    q2 = (
        topk_churn_stream(tstream, window_duration="1 day")
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/churn_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)

    got = {
        r.window_start: (
            r.jaccard, r.n_kept, r.n_new, r.n_dropped, r.k_cur, r.k_prev
        )
        for r in spark.read.parquet(f"{root}/out").collect()
    }
    counts = (
        df.groupBy(
            F.window("ts", "1 day").alias("w"),
            F.col("cat"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "cat",
            "n",
        )
    )
    exp = {
        r.window_start: (
            r.jaccard, r.n_kept, r.n_new, r.n_dropped, r.k_cur, r.k_prev
        )
        for r in topk_churn(counts, k=3).collect()
    }
    assert len(got) >= 7  # all but possibly the trailing window
    for w, vals in got.items():
        assert vals == exp[w], (w, vals, exp[w])
    # the regime flip shows: some window has churn (jaccard < 1)
    assert any(v[0] < 1.0 for v in got.values())
    df.unpersist()


def test_ordered_drain_cold_start_and_trust_first():
    """Round-4 ADVICE: document + opt out of the cold-start horizon.
    With no anchor, nothing drains until more than `horizon` windows
    buffer; trust_first=True anchors on the oldest buffered window
    immediately and the contiguous fast path takes over."""
    from anomalydetector_spark.streaming.pairs import (
        ORDERED_NONE,
        ordered_drain,
    )

    dur = 10
    # cold start, horizon 8: 8 windows buffered -> nothing drains
    buf = {t * dur: float(t) for t in range(8)}
    out, last = ordered_drain(dict(buf), ORDERED_NONE, dur, 8)
    assert out == [] and last == ORDERED_NONE
    # 9th window crosses the horizon: everything drains in order
    buf9 = dict(buf); buf9[8 * dur] = 8.0
    out, last = ordered_drain(buf9, ORDERED_NONE, dur, 8)
    assert [t for t, _ in out] == [t * dur for t in range(9)]
    assert last == 8 * dur
    # trust_first: the same 3-window cold buffer drains immediately
    buf3 = {t * dur: float(t) for t in range(3)}
    out, last = ordered_drain(dict(buf3), ORDERED_NONE, dur, 8,
                              trust_first=True)
    assert [t for t, _ in out] == [0, dur, 2 * dur]
    # ...but a non-contiguous later window still waits for the horizon
    gap = {0: 0.0, 5 * dur: 5.0}
    out, last = ordered_drain(dict(gap), ORDERED_NONE, dur, 8,
                              trust_first=True)
    assert [t for t, _ in out] == [0] and last == 0
