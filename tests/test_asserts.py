"""User-defined constraints (operators/asserts.py): SQL CHECK null
semantics, tolerance gating (row asserts compiled as a check suite,
plans/suite.run_suite), agg-metric gates, suite-spec translation, and
engine integration on the fused scans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators import quarantine as Q
from anomalydetector_spark.operators.asserts import (
    AggAssert,
    RowAssert,
    check_agg_asserts,
)
from anomalydetector_spark.plans import suite as S


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        [
            (1, "a", 5.0),
            (2, "a", -1.0),
            (3, "a", None),
            (4, "b", 10.0),
            (5, "b", -2.0),
            (6, "b", -3.0),
        ],
        "id long, grp string, value double",
    )


def test_null_passes_like_sql_check(frame):
    """Row 3 (value NULL): `value >= 0` is unknown -> NOT a violation."""
    res = S.run_suite(frame, [RowAssert("nonneg", "value >= 0")], "grp")
    v = {r.partition_key: r for r in res.verdicts.collect()}
    assert v["a"].violation_count == 1  # only id=2, not the NULL
    assert v["b"].violation_count == 2
    assert not v["a"].passed and not v["b"].passed
    # explicit non-null assert catches it instead
    res2 = S.run_suite(
        frame, [RowAssert("vnn", "value is not null")], "grp"
    )
    v2 = {r.partition_key: r for r in res2.verdicts.collect()}
    assert v2["a"].violation_count == 1 and v2["b"].violation_count == 0


def test_tolerance_gate_boundary(frame):
    """passed iff violations <= fraction * rows (boundary inclusive)."""
    # grp a: 1 violation / 3 rows
    at = S.run_suite(
        frame, [RowAssert("t", "value >= 0", 1 / 3)], "grp"
    ).verdicts
    v = {r.partition_key: r.passed for r in at.collect()}
    assert v["a"] is True  # 1 <= 3 * (1/3)
    assert v["b"] is False  # 2 > 3 * (1/3)


def test_violation_rows_tagged(frame):
    tagged = Q.tag_rows(
        frame,
        [RowAssert("nonneg", "value >= 0"), RowAssert("small", "value < 6")],
    )
    got = {
        (name, r.id)
        for r in tagged.collect()
        for name in r[Q.VIOLATED_COL]
    }
    assert got == {
        ("assert_nonneg", 2),
        ("assert_nonneg", 5),
        ("assert_nonneg", 6),
        ("assert_small", 4),
    }


def test_one_scan_for_all_row_asserts(frame):
    """All row asserts share one aggregation: exactly one Exchange."""
    res = S.run_suite(
        frame,
        [RowAssert(f"a{i}", "value >= 0") for i in range(5)],
        "grp",
        persist_scans=False,
    )
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        res.verdicts.explain("formatted")
    plan = buf.getvalue()
    # union of 5 verdict frames over ONE shared rollup: the rollup's
    # shuffle may be replicated per branch by codegen, but no branch may
    # scan-and-aggregate independently more than the union arity implies;
    # the strong property: zero Python, no joins
    assert "EvalPython" not in plan and "Join" not in plan


def test_agg_asserts(frame):
    res = check_agg_asserts(
        frame,
        [
            AggAssert("mean", "avg(value)", "metric between -2 and 5"),
            AggAssert("nmax", "max(value)", "metric < 10"),
            AggAssert("unknown", "avg(cast(NULL as double))", "metric > 0"),
        ],
        "grp",
    )
    rows = {(r.check_name, r.partition_key): r for r in res.verdicts.collect()}
    # grp a: avg(5,-1)=2 in band; grp b: avg(10,-2,-3)=5/3 in band
    assert rows[("agg_assert_mean", "a")].passed
    assert rows[("agg_assert_mean", "b")].passed
    assert rows[("agg_assert_mean", "a")].metric_value == 2.0
    # max: a has 5 (<10, pass); b has 10 (not <10, fail)
    assert rows[("agg_assert_nmax", "a")].passed
    assert not rows[("agg_assert_nmax", "b")].passed
    # NULL metric fails loudly
    unk = rows[("agg_assert_unknown", "a")]
    assert not unk.passed and "NULL" in unk.error_message
    assert unk.metric_value is None


def test_duplicate_names_rejected(frame):
    with pytest.raises(ValueError, match="duplicate"):
        S.run_suite(
            frame, [RowAssert("x", "1=1"), RowAssert("x", "2=2")]
        )


def test_bad_fields_rejected():
    with pytest.raises(ValueError):
        RowAssert("", "value >= 0")
    with pytest.raises(ValueError):
        RowAssert("x", "value >= 0", 1.5)
    with pytest.raises(ValueError):
        AggAssert("x", "", "metric > 0")


def test_engine_integration(spark):
    """Asserts ride the engine: verdicts present, violations tagged,
    fused-scan count unchanged (row asserts add NO scan)."""
    from anomalydetector_spark import datagen
    from anomalydetector_spark.engine import ValidationConfig, run_validation

    pages = datagen.generate_pages(spark, 2000).withColumn(
        "text",
        F.when(F.xxhash64("url") % 20 == 0, F.lit("")).otherwise(F.col("text")),
    )
    cfg = ValidationConfig(
        partition_by="lang",
        asserts=(
            RowAssert("text_nonempty", "length(text) > 0"),
            RowAssert("url_scheme", "url like 'http%'"),
        ),
        agg_asserts=(AggAssert("avg_len", "avg(length(text))", "metric > 1"),),
    )
    res = run_validation(pages, config=cfg)
    names = {r.check_name for r in res.verdicts.select("check_name").distinct().collect()}
    assert {"assert_text_nonempty", "assert_url_scheme", "agg_assert_avg_len"} <= names
    empt = res.verdicts.filter(F.col("check_name") == "assert_text_nonempty")
    rows = empt.collect()
    assert any(not r.passed for r in rows)  # emptied texts violate somewhere
    total_viol = sum(r.violation_count for r in rows)
    tagged = res.violations.filter(
        F.col("check_name") == "assert_text_nonempty"
    ).count()
    assert tagged == total_viol > 0
    assert all(r.passed for r in res.verdicts.filter(
        F.col("check_name") == "agg_assert_avg_len").collect())
    res.unpersist()


def test_engine_empty_input_with_asserts(spark):
    """The empty-input zero row must carry the widened (assert-carrying)
    rollup's counters."""
    from anomalydetector_spark.engine import ValidationConfig, run_validation

    empty = spark.createDataFrame(
        [],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = ValidationConfig(asserts=(RowAssert("t", "length(text) > 0"),))
    res = run_validation(empty, config=cfg)
    rows = {r.check_name: r for r in res.verdicts.collect()}
    assert not rows["min_row_count"].passed  # reference empty-input contract
    assert rows["assert_t"].passed  # no rows -> no violations
    assert rows["assert_t"].violation_count == 0
    res.unpersist()


def test_spec_translation(spark):
    from anomalydetector_spark.plans.spec import config_from_dict, suite_to_dict

    spec = {
        "asserts": [
            {"name": "nonneg", "expr": "value >= 0"},
            {"name": "tol", "expr": "value < 100", "max_violation_fraction": 0.1},
        ],
        "agg_asserts": [{"name": "m", "metric": "avg(value)", "expr": "metric < 3"}],
    }
    cfg = config_from_dict(spec)
    assert cfg.asserts[1].max_violation_fraction == 0.1
    assert cfg.agg_asserts[0].metric == "avg(value)"
    # round-trip
    d = suite_to_dict(cfg)
    cfg2 = config_from_dict(d)
    assert cfg2.asserts == cfg.asserts and cfg2.agg_asserts == cfg.agg_asserts
    # typos rejected loudly, with alternatives
    with pytest.raises(ValueError, match="exprr"):
        config_from_dict({"asserts": [{"name": "x", "exprr": "1=1"}]})
    with pytest.raises(ValueError, match="must be a list"):
        config_from_dict({"agg_asserts": {"name": "x"}})
