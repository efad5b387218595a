"""Quarantine split (operators/quarantine.py): row tagging, the
one-scan partitioned sink, and the engine's row_status view."""

import os

import pyspark.sql.functions as F
import pytest

from anomalydetector_spark.operators.asserts import RowAssert
from anomalydetector_spark.operators import quarantine as Q


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "short", 5),
            (2, "long enough text here", 21),
            (3, None, None),  # null predicate input: SQL CHECK passes
            (4, "x" * 500, 500),
        ],
        "doc_id long, text string, n_chars long",
    )


ASSERTS = [
    RowAssert("min_len", "n_chars >= 10"),
    RowAssert("max_len", "n_chars <= 100"),
]


def test_tag_rows_statuses_and_sorted_tags(spark, docs):
    tagged = Q.tag_rows(docs, ASSERTS)
    rows = {r.doc_id: (r.validation_status, list(r.violated_checks))
            for r in tagged.collect()}
    assert rows[1] == (Q.QUARANTINED, ["assert_min_len"])
    assert rows[2] == (Q.CLEAN, [])
    assert rows[3] == (Q.CLEAN, [])  # NULL n_chars: CHECK semantics pass
    assert rows[4] == (Q.QUARANTINED, ["assert_max_len"])

    # a row violating both gets both names, sorted
    both = Q.tag_rows(
        spark.createDataFrame([(9, "t", 5)], "doc_id long, text string, n_chars long"),
        [RowAssert("z_check", "n_chars >= 10"), RowAssert("a_check", "n_chars >= 20")],
    ).collect()[0]
    assert list(both.violated_checks) == ["assert_a_check", "assert_z_check"]

    counts = {r.validation_status: r.n_rows
              for r in Q.split_counts(Q.tag_rows(docs, ASSERTS)).collect()}
    assert counts == {Q.CLEAN: 2, Q.QUARANTINED: 2}

    with pytest.raises(ValueError):
        Q.tag_rows(docs, [])


def test_write_split_one_scan_two_dirs(spark, docs, tmp_path):
    out = str(tmp_path / "split")
    Q.write_split(Q.tag_rows(docs, ASSERTS), out)
    sub = sorted(
        d for d in os.listdir(out) if d.startswith(Q.STATUS_COL + "=")
    )
    assert sub == [
        f"{Q.STATUS_COL}={Q.CLEAN}",
        f"{Q.STATUS_COL}={Q.QUARANTINED}",
    ]
    back = spark.read.parquet(out)
    assert back.count() == 4
    # partition pruning: reading just the clean side touches one dir
    clean = spark.read.parquet(out).filter(
        F.col(Q.STATUS_COL) == Q.CLEAN
    )
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3]


def test_engine_row_status(spark):
    """run_validation's quarantine view: statuses partition the input,
    and the tag sets agree with the violations frame per url."""
    from anomalydetector_spark import datagen
    from anomalydetector_spark.engine import ValidationConfig, run_validation

    pages = datagen.generate_pages(spark, n_rows=2_000, seed=7)
    domains = datagen.domains_dim(spark)
    r = run_validation(pages, domains, ValidationConfig())

    rs = r.row_status
    assert rs is not None
    n_in = pages.count()
    assert rs.count() == n_in  # every input row exactly once

    agg = {x.validation_status: x.n_rows for x in Q.split_counts(rs).collect()}
    assert agg.get(Q.QUARANTINED, 0) > 0 and agg[Q.CLEAN] > 0
    assert agg.get(Q.QUARANTINED, 0) + agg[Q.CLEAN] == n_in

    # per-check totals in row_status == violations frame totals
    from_status = {
        x.check_name: x.n
        for x in rs.select(F.explode("violated_checks").alias("check_name"))
        .groupBy("check_name").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    from_violations = {
        x.check_name: x.n
        for x in r.violations.groupBy("check_name")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert from_status == from_violations and from_status
    r.unpersist()


def test_engine_row_status_covers_text_extraction(spark, tmp_path):
    """With verify_text_extraction on, the text-extraction check compiles
    onto the shared scans: the quarantine split sets aside exactly the
    rows it lists as violations (tampered text and html that is not
    valid UTF-8), and neither the verdicts nor the violations read the
    input for it separately (3 file scans each: cube or tagged scan,
    key profile, per-url text consistency; html read by one)."""
    from anomalydetector_spark import datagen
    from anomalydetector_spark.engine import ValidationConfig, run_validation
    from anomalydetector_spark.functions import extract_text
    from anomalydetector_spark.plans.audit import (
        plan_node_names,
        scan_columns,
    )

    h = F.xxhash64("url") % 40
    path = str(tmp_path / "pages")
    datagen.generate_pages(spark, 400, seed=3).withColumn(
        "text", F.when(h == 0, F.lit("TAMPERED")).otherwise(F.col("text"))
    ).withColumn(
        "html",
        F.when(h == 1, F.unhex(F.lit("3C703EFFFE3C2F703E"))).otherwise(
            F.col("html")
        ),
    ).write.parquet(path)
    pages = spark.read.parquet(path)
    ex = F.expr(extract_text("html"))
    expected = sorted(
        r.url
        for r in pages.filter(
            F.col("text").isNotNull()
            & (ex.isNull() | (F.encode(ex, "UTF-8") != F.encode("text", "UTF-8")))
        ).collect()
    )
    assert len(expected) >= 8 and any(
        r.html[3:5] == b"\xff\xfe" for r in pages.filter(h == 1).collect()
    )

    r = run_validation(
        pages, config=ValidationConfig(verify_text_extraction=True)
    )
    (v,) = r.verdicts.filter("check_name = 'text_extraction'").collect()
    assert not v.passed and v.violation_count == len(expected)
    listed = sorted(
        x.url
        for x in r.violations.filter("check_name = 'text_extraction'").collect()
    )
    assert listed == expected
    tagged = r.row_status.filter(
        F.array_contains(Q.VIOLATED_COL, "text_extraction")
    ).collect()
    assert sorted(x.url for x in tagged) == expected
    assert all(x[Q.STATUS_COL] == Q.QUARANTINED for x in tagged)

    assert plan_node_names(r.verdicts).count("FileSourceScanExec") == 3
    assert plan_node_names(r.violations).count("FileSourceScanExec") == 3
    assert sum("html" in cols for cols in scan_columns(r.verdicts)) == 1
    r.unpersist()


def test_tag_rows_rejects_checks_that_need_an_aggregate(spark, docs):
    """Only row-local checks tag a row by itself: uniqueness, referential
    integrity, functional dependencies, freshness and min-row-count need
    an aggregate or a join, and a repeated check would tag twice."""
    from anomalydetector_spark.plans import suite as S

    for spec in (
        S.unique("doc_id"),
        S.referential("doc_id", docs.select("doc_id")),
        ("doc_id", "text"),
        S.freshness("doc_id", 60, "2024-01-01 00:00:00"),
        S.min_rows(1),
    ):
        with pytest.raises(ValueError, match="aggregate or a join"):
            Q.tag_rows(docs, [spec])
    with pytest.raises(ValueError, match="duplicate"):
        Q.tag_rows(docs, [ASSERTS[0], ASSERTS[0]])
    # the suite's row-local kinds tag like row asserts
    tagged = Q.tag_rows(docs, [S.not_null("text"), S.bounds("n_chars", 0, 100)])
    rows = {r.doc_id: list(r.violated_checks) for r in tagged.collect()}
    assert rows == {
        1: [],
        2: [],
        3: ["not_null_text"],
        4: ["value_bounds_n_chars"],
    }
