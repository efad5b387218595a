"""Cross-table aggregate reconciliation (operators/reconcile.py):
every status exercised by hand, exact tolerance edges, partition
invariance."""

from pathlib import Path

import pytest

from anomalydetector_spark.operators.reconcile import (
    reconcile_aggregate,
    reconcile_verdict,
)

REPO = Path(__file__).resolve().parents[1]


def _frames(spark):
    fact = spark.createDataFrame(
        [
            (1, 10.0), (1, 20.0),          # sums to 30 == summary
            (2, 5.0), (2, 5.0),            # sums to 10 != 11
            (3, 7.0),                      # summary missing
            (4, None), (4, 2.0),           # null fact value excluded
            (None, 99.0),                  # null key excluded
            (6, 1.0),                      # duplicate summary key
        ],
        "k int, v double",
    )
    summary = spark.createDataFrame(
        [(1, 30.0), (2, 11.0), (4, 2.0), (5, 8.0), (6, 1.0), (6, 1.0),
         (None, 1.0)],
        "k int, total double",
    )
    return fact, summary


def test_all_statuses(spark):
    fact, summary = _frames(spark)
    rec = {
        r.k: r
        for r in reconcile_aggregate(
            fact, summary, "k", "v", "total"
        ).collect()
    }
    assert None not in rec
    assert rec[1].status == "matched" and rec[1].diff == 0.0
    assert rec[2].status == "mismatched" and rec[2].diff == -1.0
    assert rec[3].status == "missing_in_summary"
    assert rec[4].status == "matched" and rec[4].n_fact_rows == 1
    assert rec[5].status == "missing_in_fact" and rec[5].n_fact_rows == 0
    assert rec[6].status == "duplicate_summary_key"
    v = reconcile_verdict(
        reconcile_aggregate(fact, summary, "k", "v", "total")
    ).collect()[0]
    assert v.n_keys == 6 and v.n_matched == 2
    assert v.n_mismatched == 1 and v.n_missing_in_fact == 1
    assert v.n_missing_in_summary == 1
    assert v.n_duplicate_summary_keys == 1
    assert v.passed is False


def test_tolerance_edges_exact(spark):
    fact = spark.createDataFrame(
        [(1, 100.0), (2, 100.0), (3, 100.0)], "k int, v double"
    )
    summary = spark.createDataFrame(
        [(1, 100.5), (2, 100.500001), (3, 101.0)], "k int, total double"
    )
    # abs tolerance 0.5: key 1 sits EXACTLY on the edge (inclusive),
    # key 2 one micro beyond, key 3 far out
    rec = {
        r.k: r.status
        for r in reconcile_aggregate(
            fact, summary, "k", "v", "total", abs_tolerance=0.5
        ).collect()
    }
    assert rec == {1: "matched", 2: "mismatched", 3: "mismatched"}
    # rel tolerance 1%: 101 vs 100 is exactly |diff|*1e6 <= 1e4*|s|
    rec2 = {
        r.k: r.status
        for r in reconcile_aggregate(
            fact, summary, "k", "v", "total", rel_tolerance=0.01
        ).collect()
    }
    assert rec2[3] == "matched"
    assert rec2[2] == "matched" and rec2[1] == "matched"


def test_partition_invariance(spark):
    import random

    rnd = random.Random(7)
    fact = spark.createDataFrame(
        [(rnd.randint(0, 200), rnd.uniform(0, 50)) for _ in range(5000)],
        "k int, v double",
    )
    summary = spark.createDataFrame(
        [(k, rnd.uniform(0, 5000)) for k in range(150)],
        "k int, total double",
    )
    a = sorted(
        reconcile_aggregate(
            fact.coalesce(1), summary.coalesce(1), "k", "v", "total",
            rel_tolerance=0.5,
        ).collect(),
        key=lambda r: r.k,
    )
    b = sorted(
        reconcile_aggregate(
            fact.repartition(13), summary.repartition(5), "k", "v",
            "total", rel_tolerance=0.5,
        ).collect(),
        key=lambda r: r.k,
    )
    assert [(r.k, r.fact_sum, r.diff, r.status) for r in a] == [
        (r.k, r.fact_sum, r.diff, r.status) for r in b
    ]


def test_reconcile_cli_end_to_end(spark, tmp_path):
    import subprocess
    import sys

    root = str(tmp_path)
    fact, summary = _frames(spark)
    fact.write.parquet(f"{root}/fact")
    summary.write.parquet(f"{root}/summary")
    proc = subprocess.run(
        [
            sys.executable, "-m", "anomalydetector_spark.cli",
            "reconcile",
            "--fact", f"{root}/fact",
            "--summary", f"{root}/summary",
            "--key", "k", "--fact-value", "v",
            "--summary-value", "total",
            "--output-path", f"{root}/out",
        ],
        capture_output=True, text=True, cwd=REPO,
    )
    assert proc.returncode == 3, proc.stdout + proc.stderr
    assert "2 matched" in proc.stdout and "1 mismatched" in proc.stdout
    rec = {
        r.k: r.status
        for r in spark.read.parquet(f"{root}/out/reconcile").collect()
    }
    assert rec[6] == "duplicate_summary_key"
    v = spark.read.parquet(f"{root}/out/verdict").collect()[0]
    assert v.passed is False and v.n_keys == 6
