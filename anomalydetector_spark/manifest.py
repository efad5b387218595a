"""Checkpoint manifest — per-partition resume with lineage + metrics.

Spark has no built-in batch resume (SURVEY.md §4 item 3), so the engine
records one manifest row per (snapshot_id, partition_key, check_name) on
completion (FIXTURES.md F5 schema) and, on restart, anti-joins the work
list against the manifest to skip finished partitions. Writes are
idempotent: a rerun of a completed partition produces an identical row and
the reader keeps the latest by ``completed_at``.

Storage is an append-only parquet directory (an Iceberg table when a
catalog is configured — same dataframe program either way).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_COLUMNS = (
    ("snapshot_id", "string"),
    ("partition_spec", "string"),
    ("stats_digest", "string"),
    ("check_name", "string"),
    ("verdict", "string"),
    ("metrics", "map<string,double>"),
    ("completed_at", "timestamp"),
)
MANIFEST_SCHEMA = ", ".join(f"{n} {t}" for n, t in _MANIFEST_COLUMNS)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Load the manifest, or an empty frame if ``path`` does not exist.

    Any Hadoop path works (local, ``file://``, ``s3a://``, ``hdfs://``).
    The read gives :data:`MANIFEST_SCHEMA`, so building the frame starts
    no schema-inference job; files are listed when the frame is built."""
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
    # typed empty projection of a JVM range (not a Python RDD)
    return spark.range(0, 0, 1, 1).select(
        *[F.lit(None).cast(t).alias(n) for n, t in _MANIFEST_COLUMNS]
    )


def completed_keys(
    manifest: DataFrame, snapshot_id: str
) -> DataFrame:
    """Distinct (partition_spec, check_name) finished for this snapshot."""
    return (
        manifest.filter(F.col("snapshot_id") == snapshot_id)
        .select("partition_spec", "check_name")
        .distinct()
    )


def pending_partitions(
    work: DataFrame, manifest: DataFrame, snapshot_id: str
) -> DataFrame:
    """Anti-join the work list (one row per partition_spec × check_name)
    against completed manifest rows → only unfinished work survives.
    The manifest side is bounded (partitions × checks), so broadcast."""
    done = completed_keys(manifest, snapshot_id)
    return work.join(
        F.broadcast(done), ["partition_spec", "check_name"], "left_anti"
    )


def verdicts_to_manifest_rows(
    verdicts: DataFrame, snapshot_id: str, stats_digest_col=None
) -> DataFrame:
    """Convert engine verdict rows into manifest rows with lineage +
    metrics. ``stats_digest`` defaults to a hash of the verdict payload so
    identical reruns produce identical rows (idempotence)."""
    digest = (
        stats_digest_col
        if stats_digest_col is not None
        else F.sha2(
            F.concat_ws(
                "|",
                F.col("check_name"),
                F.col("partition_key"),
                F.col("violation_count").cast("string"),
                F.col("rows_scanned").cast("string"),
            ),
            256,
        )
    )
    return verdicts.select(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.col("partition_key").alias("partition_spec"),
        digest.alias("stats_digest"),
        "check_name",
        F.when(F.col("passed"), F.lit("pass")).otherwise(F.lit("fail")).alias(
            "verdict"
        ),
        F.create_map(
            F.lit("violations"),
            F.col("violation_count").cast("double"),
            F.lit("rows_scanned"),
            F.col("rows_scanned").cast("double"),
        ).alias("metrics"),
        F.current_timestamp().alias("completed_at"),
    )


def append_manifest(rows: DataFrame, path: str) -> None:
    rows.write.mode("append").parquet(path)


def snapshot_id_for_path(input_path: str) -> str:
    """Lineage id for a parquet input: stable digest of the file listing
    (name, size, mtime). With an Iceberg catalog this is replaced by the
    table's snapshot id — same manifest contract either way."""
    import hashlib

    h = hashlib.sha256()
    if os.path.isdir(input_path):
        for name in sorted(os.listdir(input_path)):
            st = os.stat(os.path.join(input_path, name))
            h.update(f"{name}:{st.st_size}:{int(st.st_mtime)}".encode())
    else:
        st = os.stat(input_path)
        h.update(f"{input_path}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()[:16]


def latest_verdicts(manifest: DataFrame, snapshot_id: str) -> DataFrame:
    """Current verdict per (partition, check): latest completed_at wins."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("partition_spec", "check_name")
        .orderBy(F.col("completed_at").desc())
    )
    return (
        manifest.filter(F.col("snapshot_id") == snapshot_id)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_with_resume(
    spark: SparkSession,
    verdicts: DataFrame,
    snapshot_id: str,
    manifest_path: str,
) -> DataFrame:
    """Materialize only verdicts whose (partition, check) is not yet in the
    manifest, append them, and return the merged verdict view.
    ``incremental_validate`` persists its verdicts, so this reads their
    cache (filled by the caller's collect, or by this append) instead of
    re-running the verdict DAG; a lazy ``verdicts`` frame is pruned by the
    anti-join before execution when its program is partition-local."""
    manifest = read_manifest(spark, manifest_path)
    done = completed_keys(manifest, snapshot_id).withColumnRenamed(
        "partition_spec", "partition_key"
    )
    todo = verdicts.join(
        F.broadcast(done), ["partition_key", "check_name"], "left_anti"
    )
    new_rows = verdicts_to_manifest_rows(todo, snapshot_id)
    append_manifest(new_rows, manifest_path)
    return latest_verdicts(read_manifest(spark, manifest_path), snapshot_id)
