"""Streaming drift pipeline: watermarked window stats → stateful SR.

Design notes (scale-first):

* Stage 1 is a standard streaming windowed aggregation — state is one row
  per open (window, partition), bounded by the watermark, and partial
  aggregation happens map-side exactly as in batch. ``percentile`` /
  sketch stats are deliberately absent here: count-shaped stats keep the
  state store rows tiny; quantile drift stays a batch concern (the batch
  engine's counts cube).

* Stage 2 keys state by (partition_key, stat_name) — cardinality is
  partitions × stats, NOT documents — and stores the whole finalized
  window series (one float per window: years of daily windows fit in a
  few KB) — or, with a positive ``batch_size``, only the last two SR
  batches (bounded state + bounded per-micro-batch kernel work; see
  ``sr_score_stream``). Each micro-batch merges the newly finalized
  windows and emits scores for the new windows only (append semantics,
  safe for file sinks).

The two stages chain through storage (parquet dir or any table), which
is also the natural resume/lineage boundary: stage 2 can be torn down
and re-driven from the stat-series table at any time.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from anomalydetector_spark.kernel.sr import MIN_POINTS, SrParams, sr_detect
from anomalydetector_spark.plans.fused import DEFAULT_LANGS

# state: the retained series, as epoch-micros + values, plus the global
# index of the first retained point (0 in whole-series mode; a tumbling
# batch boundary in incremental mode, where only the last two SR batches
# are kept).
# STATE SCHEMA v2 (base_idx added with the bounded-state scorer):
# applyInPandasWithState validates the stored schema on restart, so a
# checkpoint written by the v1 two-field schema cannot be resumed — a
# stream upgraded across that change must start from a fresh checkpoint
# (the upstream parquet is the source of truth; re-reading it rebuilds
# identical scores since batches are grid-aligned).
STAT_STATE_SCHEMA = StructType(
    [
        StructField("ts_us", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
        StructField("base_idx", LongType()),
    ]
)

SCORED_SCHEMA = (
    "partition_key string, stat_name string, window_start timestamp, "
    "value double, mag double, score double, is_anomaly boolean"
)


def streaming_window_stats(
    pages_stream: DataFrame,
    window_duration: str = "1 day",
    watermark_delay: str | None = "2 days",
    partition_by: str | None = None,
    langs: tuple[str, ...] = DEFAULT_LANGS,
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Watermarked tumbling-window stats in LONG format (same shape as the
    batch stat series, so the SR stage and all batch tooling are shared).

    In ``append`` output mode a window's row is emitted exactly once,
    when the watermark passes its end — i.e. each emitted row is a
    FINALIZED window, the streaming analog of the batch cube rollup.

    ``watermark_delay=None`` skips the ``withWatermark`` call — required
    when chaining after another stateful stage that already set it
    (e.g. :func:`~anomalydetector_spark.streaming.dedup_ingest_stream`;
    Spark disallows redefining the watermark inside one query).
    """
    part = (
        F.lit("global")
        if partition_by is None
        else F.col(partition_by).cast("string")
    )
    aggs = [
        F.count(F.lit(1)).cast("double").alias("doc_count"),
        F.avg(F.col("text").isNull().cast("double")).alias("null_rate"),
        F.avg(F.length("text")).alias("avg_len"),
        F.approx_count_distinct("url").cast("double").alias("approx_distinct_url"),
    ]
    for lang in langs:
        aggs.append(
            F.avg((F.col("lang") == lang).cast("double")).alias(f"lang_frac_{lang}")
        )
    wide = (
        (
            pages_stream.withWatermark(ts_col, watermark_delay)
            if watermark_delay is not None
            else pages_stream
        )
        .withColumn("partition_key", part)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), "partition_key")
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .drop("w")
    )
    stat_cols = [
        c for c in wide.columns if c not in ("partition_key", "window_start")
    ]
    return wide.unpivot(
        ids=["partition_key", "window_start"],
        values=stat_cols,
        variableColumnName="stat_name",
        valueColumnName="value",
    ).select("partition_key", "stat_name", "window_start", "value")


def _make_scorer(params: SrParams):
    import numpy as np

    incremental = params.batch_size > 0
    B = max(MIN_POINTS, params.batch_size) if incremental else 0

    def score(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        new = pd.concat(list(pdfs), ignore_index=True)
        new = new.sort_values("window_start")
        new_us = (
            new["window_start"].astype("datetime64[us]").astype("int64").tolist()
        )
        new_vals = new["value"].astype(float).tolist()

        if state.exists:
            ts_us, vals, base_idx = state.get
            ts_us, vals = list(ts_us), list(vals)
        else:
            ts_us, vals, base_idx = [], [], 0
        # windows may be re-emitted on replay; last-write-wins by ts.
        # In incremental mode a point older than the retained history
        # cannot be placed on the batch grid anymore and is dropped —
        # stage 1's watermark already bounds such lateness.
        if base_idx > 0 and ts_us:
            floor_ts = ts_us[0]
            pairs = [
                (t, v) for t, v in zip(new_us, new_vals) if t >= floor_ts
            ]
            new_us = [t for t, _ in pairs]
            new_vals = [v for _, v in pairs]
        merged = dict(zip(ts_us, vals))
        n_before_keys = set(merged)
        merged.update(zip(new_us, new_vals))
        items = sorted(merged.items())
        ts_all = [t for t, _ in items]
        vals_all = [v for _, v in items]

        fresh = [t for t in new_us if t not in n_before_keys]
        n_global = base_idx + len(ts_all)

        if not incremental:
            state.update((ts_all, vals_all, 0))
            if not fresh or len(ts_all) < MIN_POINTS:
                # not enough history yet — emit nothing; the series stays
                # in state and scoring starts once MIN_POINTS windows
                # finalize (reference: spectral_residual.py:49)
                return iter(())
            score_ts, score_vals = ts_all, vals_all
        else:
            # score only from the batch grid point that covers the fresh
            # windows (minus one full batch so a short trailing fragment
            # can extend backward exactly as sr_detect does), then trim
            # state to the last two batches. Emitted scores are identical
            # to whole-series scoring because a point's SR batch is
            # aligned to the global grid and self-contained.
            if not fresh or n_global < MIN_POINTS:
                _trim_and_store(state, ts_all, vals_all, base_idx, n_global)
                return iter(())
            first_fresh_global = base_idx + ts_all.index(fresh[0])
            s0 = max(0, B * (first_fresh_global // B) - B)
            # never reach before the retained history
            s0 = max(s0, base_idx)
            lo = s0 - base_idx
            score_ts, score_vals = ts_all[lo:], vals_all[lo:]
            _trim_and_store(state, ts_all, vals_all, base_idx, n_global)
            if len(score_ts) < MIN_POINTS:
                return iter(())

        ts_arr = np.array(score_ts, dtype="datetime64[us]")
        res = sr_detect(ts_arr, np.asarray(score_vals, dtype=float), params)
        out = pd.DataFrame(
            {
                "partition_key": key[0],
                "stat_name": key[1],
                "window_start": res["timestamp"],
                "value": res["value"],
                "mag": res["mag"],
                "score": res["score"],
                "is_anomaly": res["isAnomaly"],
            }
        )
        fresh_set = set(fresh)
        out = out[
            out["window_start"]
            .astype("datetime64[us]")
            .astype("int64")
            .isin(fresh_set)
        ]
        return iter((out,))

    def _trim_and_store(state, ts_all, vals_all, base_idx, n_global):
        cur_batch = max(0, (n_global - 1) // B)
        new_base = max(0, (cur_batch - 1) * B)
        lo = max(0, new_base - base_idx)
        state.update((ts_all[lo:], vals_all[lo:], base_idx + lo))

    return score


def sr_score_stream(
    stat_series_stream: DataFrame, params: SrParams | None = None
) -> DataFrame:
    """SR-score a STREAM of finalized stat windows.

    With ``params.batch_size == 0`` (whole-series mode) state per
    (partition_key, stat_name) is the full series so far and every
    micro-batch re-scores it — O(n) kernel work per batch, O(n²) over a
    series' lifetime; acceptable for bounded stat series, not for
    unbounded ones.

    With ``params.batch_size > 0`` scoring is INCREMENTAL: a point's SR
    batch is a tumbling window aligned to the global series grid and
    self-contained (sr_detect scores each batch independently, extending
    a short trailing fragment backward into the previous batch), so each
    micro-batch only re-runs the kernel from the batch boundary covering
    its fresh windows minus one batch, and state is trimmed to the last
    two batches (≤ 2×batch_size points per key, forever). Emitted scores
    are identical to whole-series mode at the emission instant. The one
    trade: a window older than the retained two batches (far beyond the
    stage-1 watermark) is dropped instead of scored.

    No timeout: a stat series lives as long as the table does.
    """
    p = params or SrParams()
    return stat_series_stream.groupBy("partition_key", "stat_name").applyInPandasWithState(
        _make_scorer(p),
        outputStructType=SCORED_SCHEMA,
        stateStructType=STAT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
