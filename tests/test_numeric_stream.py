"""The windowed-correlation stream must equal the batch operator
bit-for-bit on the same rows (both sides sum exact integers and compute
the coefficient with one pinned double chain)."""

import datetime as dt
import glob
import os
import random
import shutil

T0 = dt.datetime(2024, 1, 1)


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
