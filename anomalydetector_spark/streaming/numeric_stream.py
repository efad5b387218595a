"""Streaming windowed correlation: the exact per-window Pearson
coefficient between two numeric columns, the streaming twin of
:func:`anomalydetector_spark.operators.divergence.numeric_window_corr`
(the coupling monitor: a bug that breaks a relation between two columns
moves it before either marginal drifts).

One watermarked built-in windowed aggregation, append mode: each
finalized window is emitted exactly once, and its five integer sums are
order-independent under any micro-batch composition, so the stream
needs no state machine of its own to stay bit-equal to the batch
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CORR_SCHEMA = (
    "partition_key string, window_start timestamp, "
    "window_end timestamp, corr double, n bigint"
)


def streaming_window_corr(
    stream: DataFrame,
    col_a: str,
    col_b: str,
    window_duration: str = "1 day",
    watermark_delay: str | None = "2 days",
    partition_by: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked per-window EXACT Pearson correlation — the streaming
    twin of :func:`~anomalydetector_spark.operators.divergence.
    numeric_window_corr`, bit-equal by construction: the five sums are
    exact decimal(38,0) integers over micro-quantized values (an
    order-independent SET sum per window — no float accumulation at any
    micro-batch composition), and the coefficient is the same pinned
    final double chain. One built-in windowed aggregation; append mode
    emits each finalized window exactly once.

    ``watermark_delay=None`` skips ``withWatermark`` (for chaining
    after a stage that already set it)."""
    dec = "decimal(38,0)"
    part = (
        F.lit("global")
        if partition_by is None
        else F.col(partition_by).cast("string")
    )
    src = (
        stream.withWatermark(ts_col, watermark_delay)
        if watermark_delay is not None
        else stream
    )

    def _micro(c):
        return F.round(F.col(c).cast("double") * F.lit(1e6), 0).cast(dec)

    rows = src.filter(
        F.col(col_a).isNotNull()
        & F.col(col_b).isNotNull()
        & ~F.isnan(F.col(col_a).cast("double"))
        & ~F.isnan(F.col(col_b).cast("double"))
    ).select(
        F.col(ts_col),
        part.alias("partition_key"),
        _micro(col_a).alias("_aq"),
        _micro(col_b).alias("_bq"),
    )
    agg = rows.groupBy(
        F.window(F.col(ts_col), window_duration).alias("w"),
        "partition_key",
    ).agg(
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
        "partition_key",
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.when(
            (da > 0) & (db > 0),
            num.cast("double")
            / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double"))),
        ).alias("corr"),
        F.col("_n").cast("long").alias("n"),
    )
