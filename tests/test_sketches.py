"""Mergeable HLL sketch store: accuracy, resume-without-rescan,
cross-snapshot incremental distinct."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.plans import sketches as S


def _table(spark, n, key_mod, parts, seed=0):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "url": [f"https://x.org/{v}" for v in rng.integers(0, key_mod, n)],
            "domain": [f"p{v}" for v in rng.integers(0, parts, n)],
        }
    )
    return spark.createDataFrame(pdf)


def test_partition_sketch_accuracy(spark):
    df = _table(spark, 20_000, 5_000, 4)
    est = S.distinct_by_partition(
        S.sketches_to_manifest_rows(
            S.partition_sketches(df, partition_by="domain"), "snapA"
        )
    ).toPandas().set_index("partition_key")
    exact = (
        df.groupBy("domain").agg(F.count_distinct("url").alias("d")).toPandas()
        .set_index("domain")
    )
    for p in exact.index:
        rel = abs(est.loc[p, "distinct_estimate"] - exact.loc[p, "d"]) / exact.loc[p, "d"]
        assert rel < 0.05, (p, rel)


def test_resume_skips_completed_partitions(spark, tmp_path):
    path = str(tmp_path / "sketches")
    df = _table(spark, 10_000, 2_000, 6)

    # first run: only partitions p0-p2 (simulate a killed run)
    first = df.filter(F.col("domain").isin("p0", "p1", "p2"))
    S.sketches_to_manifest_rows(
        S.partition_sketches(first, partition_by="domain"), "snap1"
    ).write.mode("append").parquet(path)
    assert S.read_sketches(spark, path).count() == 3

    # resume over the FULL table: only p3-p5 get computed
    merged = S.resume_sketches(spark, df, "snap1", path, partition_by="domain")
    assert merged.count() == 6
    # store has exactly one row per partition — completed ones not redone
    per = (
        S.read_sketches(spark, path)
        .groupBy("partition_spec")
        .count()
        .toPandas()
        .set_index("partition_spec")["count"]
    )
    assert sorted(per.index) == [f"p{i}" for i in range(6)]
    assert (per == 1).all()

    # union estimate ≈ exact global distinct
    est = S.global_distinct_estimate(merged).first().distinct_estimate
    exact = df.select("url").distinct().count()
    assert abs(est - exact) / exact < 0.05


def test_incremental_across_snapshots(spark, tmp_path):
    """Two crawl snapshots with overlapping urls: union of stored
    sketches estimates the distinct of the union, not the sum."""
    path = str(tmp_path / "sketches")
    a = _table(spark, 8_000, 1_500, 3, seed=1)   # urls 0..1499
    b = _table(spark, 8_000, 3_000, 3, seed=2)   # urls 0..2999 (overlap)

    S.resume_sketches(spark, a, "snapA", path, partition_by="domain")
    S.resume_sketches(spark, b, "snapB", path, partition_by="domain")

    store = S.read_sketches(spark, path)
    est = S.global_distinct_estimate(store).first().distinct_estimate
    exact = a.select("url").unionByName(b.select("url")).distinct().count()
    assert abs(est - exact) / exact < 0.05
    # sanity: naive sum of per-snapshot counts would be far off
    assert est < 1.5 * exact


def test_sketch_store_schema(spark, tmp_path):
    path = str(tmp_path / "s2")
    df = _table(spark, 1_000, 100, 2)
    out = S.resume_sketches(spark, df, "snapZ", path, partition_by="domain")
    assert set(out.columns) == {
        "snapshot_id", "partition_spec", "stat_name", "sketch",
        "rows_scanned", "completed_at",
    }
    assert out.filter(F.col("stat_name") != "distinct_url").count() == 0


def test_kll_quantile_sketches(spark):
    """Merged KLL quantiles track exact quantiles within rank error."""
    rng = np.random.default_rng(7)
    lens = rng.lognormal(6, 1, 30_000).astype(int)
    pdf = pd.DataFrame(
        {"length": lens, "domain": [f"p{v}" for v in rng.integers(0, 5, len(lens))]}
    )
    df = spark.createDataFrame(pdf)
    sk = S.partition_quantile_sketches(df, "length", partition_by="domain")
    assert sk.count() == 5
    q = S.global_quantiles(sk, probs=(0.5, 0.95)).first()
    exact50, exact95 = np.percentile(lens, [50, 95])
    # KLL k=200 → ~1.3% rank error; translate via empirical quantiles at
    # shifted ranks to bound the value error
    lo50, hi50 = np.percentile(lens, [46, 54])
    lo95, hi95 = np.percentile(lens, [92, 98])
    assert lo50 <= q.q50 <= hi50, (q.q50, exact50)
    assert lo95 <= q.q95 <= hi95, (q.q95, exact95)
    assert q.rows_scanned == len(lens)


def test_theta_snapshot_churn(spark, tmp_path):
    """Returning/new/dropped url estimates between two snapshots from
    stored sketches only (exact at this cardinality)."""
    path = str(tmp_path / "theta")

    def snap(lo, hi, name):
        pdf = pd.DataFrame(
            {
                "url": [f"https://x.org/{v}" for v in range(lo, hi)],
                "domain": [f"p{v % 3}" for v in range(lo, hi)],
            }
        )
        df = spark.createDataFrame(pdf)
        S.sketches_to_manifest_rows(
            S.partition_theta_sketches(df, partition_by="domain"),
            name,
            stat_name="url_theta",
        ).write.mode("append").parquet(path)

    snap(0, 1000, "snapA")
    snap(500, 2000, "snapB")

    churn = S.snapshot_churn(S.read_sketches(spark, path), "snapA", "snapB").first()
    assert abs(churn.distinct_a - 1000) < 20
    assert abs(churn.distinct_b - 1500) < 30
    assert abs(churn.returning - 500) < 20
    assert abs(churn.new - 1000) < 30
    assert abs(churn.dropped - 500) < 20


def test_resume_dedupes_duplicate_rows_and_skips_when_done(spark, tmp_path):
    """ADVICE round-1: a run that failed between write and read leaves a
    second sketch row per partition — resume must return the latest row
    per partition_spec (no double-counted rows_scanned) and must not
    append anything when no partition is pending."""
    import time

    path = str(tmp_path / "sketches")
    df = _table(spark, 6_000, 1_200, 4)

    S.resume_sketches(spark, df, "snap1", path, partition_by="domain")
    # simulate the race/failure: append a duplicate batch for the same
    # snapshot (later completed_at)
    time.sleep(0.05)
    S.sketches_to_manifest_rows(
        S.partition_sketches(df, partition_by="domain"), "snap1"
    ).write.mode("append").parquet(path)
    assert S.read_sketches(spark, path).count() == 8  # 2 rows per partition

    n_files_before = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    merged = S.resume_sketches(spark, df, "snap1", path, partition_by="domain")
    n_files_after = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    # fully-resumed: nothing was appended
    assert n_files_after == n_files_before
    # deduped to one row per partition, rows_scanned not double-counted
    assert merged.count() == 4
    g = S.global_distinct_estimate(merged).first()
    assert g.rows_scanned == 6_000
