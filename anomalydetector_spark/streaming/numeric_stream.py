"""Streaming numeric-histogram drift: L∞ / TVD / EMD of a numeric
column's per-window histogram vs the previous window, the streaming twin
of :func:`anomalydetector_spark.operators.divergence.numeric_window_drift`
(TFDV ships L∞ as its numeric-drift comparator; reference scope:
distribution-drift checks over per-window column stats, the same family
as msanomalydetector's SR input series).

Two storage-chained stages, mirroring the stats→SR and stats→shape
pipelines (Spark restricts arbitrary stateful-op chaining inside one
query):

1. :func:`streaming_window_histogram` — a watermarked tumbling-window
   aggregation emitting ONE row per finalized window carrying the full
   fixed-width bin-count vector (``n_bins`` conditional sums packed into
   an array; n_bins is a config in the tens, so the agg is a plain
   codegen windowed aggregate, and a window can never arrive split
   across micro-batches the way long-format rows could).
2. :func:`numeric_drift_stream` — per contiguous (previous, current)
   window pair, emitted exactly once via the shared reorder-buffer +
   ledger machine (:mod:`~anomalydetector_spark.streaming.pairs`), the
   three batch distances computed with the SAME exact integer arithmetic
   as the batch operator: per-bin cross-multiplied terms
   ``c_i·T_q − d_i·T_p`` in unbounded Python ints with ONE final
   cast-to-double division, so streaming values equal the batch
   operator's decimal(38,0) pipeline BIT-FOR-BIT (pinned by test, ==).
   The per-pair math lives in :mod:`~anomalydetector_spark.kernel.
   window_drift`, shared with the batch engine's grouped drift pass.

NULL and NaN values are excluded from the histogram exactly like the
batch operator (``floor(NaN)`` would count every NaN in bin 0 and read
as phantom drift); out-of-range values clamp into the edge bins.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from anomalydetector_spark.kernel.window_drift import histogram_distances
from anomalydetector_spark.operators.divergence import numeric_bin
from anomalydetector_spark.streaming.pairs import (
    PAIR_STATE_SCHEMA,
    duration_us as _duration_us,
    window_pairs,
)

HIST_SCHEMA = (
    "partition_key string, window_start timestamp, "
    "bin_counts array<bigint>"
)

NUMERIC_DRIFT_SCHEMA = (
    "partition_key string, window_start timestamp, "
    "linf double, tvd double, emd double, n_bins_hit bigint"
)


def streaming_window_histogram(
    stream: DataFrame,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 20,
    window_duration: str = "1 day",
    watermark_delay: str | None = "2 days",
    partition_by: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window fixed-width histogram of
    ``value_col``: one row per FINALIZED (window, partition) with the
    full ``n_bins``-long count vector (append mode — emitted exactly
    once when the watermark passes the window's end).

    ``watermark_delay=None`` skips the ``withWatermark`` call — required
    when chaining after another stateful stage that already set it
    (Spark disallows redefining the watermark inside one query).
    """
    part = (
        F.lit("global")
        if partition_by is None
        else F.col(partition_by).cast("string")
    )
    v = F.col(value_col)
    src = (
        stream.withWatermark(ts_col, watermark_delay)
        if watermark_delay is not None
        else stream
    )
    binned = (
        src.filter(v.isNotNull() & ~F.isnan(v))
        .withColumn("partition_key", part)
        .withColumn("_bin", numeric_bin(v, lo, hi, n_bins))
    )
    aggs = [
        F.sum((F.col("_bin") == i).cast("long")).alias(f"_b{i}")
        for i in range(n_bins)
    ]
    return (
        binned.groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            "partition_key",
        )
        .agg(*aggs)
        .select(
            "partition_key",
            F.col("w.start").alias("window_start"),
            F.array(*[f"_b{i}" for i in range(n_bins)]).alias(
                "bin_counts"
            ),
        )
    )


def _make_drift_fn(n_bins: int, dur_us: int, buffer_windows: int):
    import numpy as np

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        out = []
        if not pdf.empty:
            pdf = pdf.sort_values("window_start")
            # counts ride the shared float64 state buffer — exact up to
            # 2^53 per (window, bin), far past any real micro-batch
            vecs = np.stack(
                [
                    np.asarray(b, dtype="float64")
                    for b in pdf["bin_counts"]
                ]
            )
            if vecs.shape[1] != n_bins:
                raise ValueError(
                    f"bin_counts width {vecs.shape[1]} != n_bins {n_bins}"
                )
            ts_us = (
                pdf["window_start"]
                .astype("datetime64[us]")
                .astype("int64")
                .to_numpy()
            )
            for t, prev, cur in window_pairs(
                state, ts_us, vecs, n_bins, dur_us, buffer_windows
            ):
                # exact integer arithmetic, mirroring the batch
                # decimal(38,0) pipeline term for term
                out.append(
                    (
                        key[0],
                        pd.Timestamp(t, unit="us"),
                        *histogram_distances(cur, prev),
                    )
                )
        yield pd.DataFrame(
            out,
            columns=[
                "partition_key",
                "window_start",
                "linf",
                "tvd",
                "emd",
                "n_bins_hit",
            ],
        )

    return fn


def numeric_drift_stream(
    hist_stream: DataFrame,
    window_duration: str = "1 day",
    n_bins: int = 20,
    buffer_windows: int = 64,
) -> DataFrame:
    """Numeric-drift scores from a stream of finalized window histograms
    (the output of :func:`streaming_window_histogram`): one row per
    contiguous (previous, current) window pair per partition, emitted
    exactly once when both windows have arrived, values bit-equal to the
    batch ``numeric_window_drift`` on the same rows."""
    return hist_stream.groupBy("partition_key").applyInPandasWithState(
        _make_drift_fn(
            n_bins, _duration_us(window_duration), buffer_windows
        ),
        outputStructType=NUMERIC_DRIFT_SCHEMA,
        stateStructType=PAIR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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
