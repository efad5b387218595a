"""Mergeable HLL sketches — resumable / incremental distinct counts.

The north rule's checkpoint manifest carries per-partition stats digests;
for distinct-url stats a plain count is NOT mergeable (you cannot add
distinct counts across partitions or runs). This module stores the
Datasketches HLL sketch itself (Spark's ``hll_sketch_agg`` — binary,
mergeable, a few KB per partition) so that:

* a resumed run unions sketches of completed partitions from the
  manifest with freshly-computed sketches of pending partitions — no
  rescan of finished work;
* distinct counts compose across snapshots (continuously-crawled
  tables): union of per-snapshot sketches = distinct over the history;
* the global estimate is one ``hll_union_agg`` over rows bounded by
  (partitions × snapshots), never a second pass over the data.

This is the scale path (SURVEY.md §2.7: ``hll_sketch_agg``/
``hll_union_agg`` on Spark 3.5+); the engine's small-partition exact
path (plans/fused.py url profile) remains the correctness oracle at
test scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SKETCH_SCHEMA = (
    "snapshot_id string, partition_spec string, stat_name string, "
    "sketch binary, rows_scanned long, completed_at timestamp"
)

_DEFAULT_LGK = 12  # 2^12 registers ≈ 1.6% relative error, ~2.5 KB


def partition_sketches(
    df: DataFrame,
    key_col: str = "url",
    partition_by: str | None = None,
    lg_k: int = _DEFAULT_LGK,
) -> DataFrame:
    """One HLL sketch of ``key_col`` per partition:
    ``(partition_key, sketch, rows_scanned)``. Map-side partial sketches
    merge in the shuffle (hll_sketch_agg is an AggregateFunction), so the
    exchange carries registers, not keys."""
    part = (
        F.col(partition_by).cast("string")
        if partition_by
        else F.lit("global")
    )
    return (
        df.withColumn("partition_key", part)
        .groupBy("partition_key")
        .agg(
            F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch"),
            F.count(F.lit(1)).alias("rows_scanned"),
        )
    )


def sketches_to_manifest_rows(
    sketches: DataFrame, snapshot_id: str, stat_name: str = "distinct_url"
) -> DataFrame:
    return sketches.select(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.col("partition_key").alias("partition_spec"),
        F.lit(stat_name).alias("stat_name"),
        "sketch",
        "rows_scanned",
        F.current_timestamp().alias("completed_at"),
    )


def read_sketches(spark: SparkSession, path: str) -> DataFrame:
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return spark.read.parquet(path)
    return spark.createDataFrame([], SKETCH_SCHEMA)


def resume_sketches(
    spark: SparkSession,
    df: DataFrame,
    snapshot_id: str,
    path: str,
    key_col: str = "url",
    partition_by: str | None = None,
    stat_name: str = "distinct_url",
    lg_k: int = _DEFAULT_LGK,
) -> DataFrame:
    """Sketch only partitions not yet in the store for this snapshot,
    append them, return the complete per-partition sketch set (latest row
    per partition). The pending filter is an anti-join pushed below the
    aggregation: skipped partitions are pruned before the scan when
    ``partition_by`` is the physical partition column."""
    existing = read_sketches(spark, path).filter(
        (F.col("snapshot_id") == snapshot_id) & (F.col("stat_name") == stat_name)
    )
    done = existing.select(
        F.col("partition_spec").alias("partition_key")
    ).distinct()

    part = (
        F.col(partition_by).cast("string")
        if partition_by
        else F.lit("global")
    )
    pending_rows = df.withColumn("partition_key", part).join(
        F.broadcast(done), "partition_key", "left_anti"
    )
    # skip the append entirely when nothing is pending — a fully-resumed
    # run must not rescan (with a physical partition column the pruned
    # scan makes this emptiness probe read zero files)
    if not pending_rows.isEmpty():
        fresh = partition_sketches(
            pending_rows, key_col=key_col, partition_by="partition_key", lg_k=lg_k
        )
        new_rows = sketches_to_manifest_rows(fresh, snapshot_id, stat_name)
        new_rows.write.mode("append").parquet(path)
    stored = read_sketches(spark, path).filter(
        (F.col("snapshot_id") == snapshot_id) & (F.col("stat_name") == stat_name)
    )
    # latest row per partition: a run that failed between write and read
    # (or raced another writer) can leave duplicate sketch rows, which
    # would double-count rows_scanned in the global rollups
    latest = Window.partitionBy("partition_spec").orderBy(
        F.col("completed_at").desc()
    )
    return (
        stored.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def distinct_by_partition(sketches: DataFrame) -> DataFrame:
    """Per-partition distinct estimates from stored sketches."""
    return sketches.select(
        F.col("partition_spec").alias("partition_key"),
        F.hll_sketch_estimate("sketch").alias("distinct_estimate"),
        "rows_scanned",
    )


def global_distinct_estimate(sketches: DataFrame) -> DataFrame:
    """Union all stored sketches → one global distinct estimate. Pass a
    single-snapshot filter for per-run counts, or the whole store for the
    incremental distinct over every snapshot of a growing table."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "distinct_estimate"
        ),
        F.sum("rows_scanned").alias("rows_scanned"),
    )


# ---------------------------------------------------------------------------
# KLL quantile sketches — mergeable length-quantile stats
# ---------------------------------------------------------------------------


def partition_quantile_sketches(
    df: DataFrame,
    value_col,
    partition_by: str | None = None,
    k: int = 200,
) -> DataFrame:
    """One KLL sketch of a bigint-valued expression per partition —
    the mergeable counterpart of the engine's exact counts-cube
    quantiles: quantiles compose across partitions / snapshots by
    merging sketches (k=200 ≈ 1.3% rank error, ~2 KB each), so a
    resumed or incremental run never rescans finished partitions to
    re-estimate a global distribution."""
    part = (
        F.col(partition_by).cast("string") if partition_by else F.lit("global")
    )
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    return (
        df.withColumn("partition_key", part)
        .groupBy("partition_key")
        .agg(
            F.kll_sketch_agg_bigint(v.cast("bigint"), F.lit(k)).alias("sketch"),
            F.count(F.lit(1)).alias("rows_scanned"),
        )
    )


def global_quantiles(
    sketches: DataFrame, probs: tuple[float, ...] = (0.5, 0.95)
) -> DataFrame:
    """Merge stored KLL sketches → one row of global quantile estimates
    (columns ``q50``-style names from the requested probabilities)."""
    merged = sketches.agg(
        F.kll_merge_agg_bigint("sketch").alias("_m"),
        F.sum("rows_scanned").alias("rows_scanned"),
    )
    cols = [
        F.kll_sketch_get_quantile_bigint(F.col("_m"), F.lit(float(p))).alias(
            f"q{int(round(p * 100))}"
        )
        for p in probs
    ]
    return merged.select(*cols, "rows_scanned")


# ---------------------------------------------------------------------------
# Theta sketches — cross-snapshot set algebra (url churn)
# ---------------------------------------------------------------------------


def partition_theta_sketches(
    df: DataFrame, key_col: str = "url", partition_by: str | None = None
) -> DataFrame:
    """Theta sketches support set INTERSECTION and DIFFERENCE, which HLL
    cannot: between two crawl snapshots they estimate returning urls
    (intersection), new urls (B−A), and dropped urls (A−B) from the
    stored per-partition sketches alone — no rescan of either snapshot."""
    part = (
        F.col(partition_by).cast("string") if partition_by else F.lit("global")
    )
    return (
        df.withColumn("partition_key", part)
        .groupBy("partition_key")
        .agg(
            F.theta_sketch_agg(key_col).alias("sketch"),
            F.count(F.lit(1)).alias("rows_scanned"),
        )
    )


def snapshot_churn(
    store: DataFrame, snapshot_a: str, snapshot_b: str
) -> DataFrame:
    """Url churn between two snapshots from stored theta sketches
    (stat_name='url_theta' rows): one row
    ``(distinct_a, distinct_b, returning, new, dropped)``."""

    def _union_for(snap):
        return (
            store.filter(
                (F.col("snapshot_id") == snap)
                & (F.col("stat_name") == "url_theta")
            )
            .agg(F.theta_union_agg("sketch").alias("u"))
            .first()
            .u
        )

    spark = store.sparkSession
    a, b = _union_for(snapshot_a), _union_for(snapshot_b)
    pair = spark.createDataFrame([(a, b)], "a binary, b binary")
    return pair.select(
        F.theta_sketch_estimate("a").alias("distinct_a"),
        F.theta_sketch_estimate("b").alias("distinct_b"),
        F.theta_sketch_estimate(F.theta_intersection("a", "b")).alias(
            "returning"
        ),
        F.theta_sketch_estimate(F.theta_difference("b", "a")).alias("new"),
        F.theta_sketch_estimate(F.theta_difference("a", "b")).alias("dropped"),
    )


def window_theta_sketches(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    window_duration: str = "1 day",
    partition_by: str | None = None,
) -> DataFrame:
    """One theta sketch of ``key_col`` per (partition, window) —
    ``(partition_key, window_start, sketch, rows_scanned)``; the keys new
    in a window are the ``theta_difference`` of its sketch and the
    previous window's. At 10^12 docs the shuffle carries one ~4 KB sketch
    per window per partition."""
    from anomalydetector_spark.plans.fused import window_start_col

    part = (
        F.col(partition_by).cast("string") if partition_by else F.lit("global")
    )
    return (
        df.withColumn("partition_key", part)
        .withColumn("window_start", window_start_col(df, ts_col, window_duration))
        .filter(F.col("window_start").isNotNull())
        .groupBy("partition_key", "window_start")
        .agg(
            F.theta_sketch_agg(key_col).alias("sketch"),
            F.count(F.lit(1)).alias("rows_scanned"),
        )
    )
