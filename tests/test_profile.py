"""Column profiler (operators/profile.py): one-scan metrics vs direct
computation, correlations, and constraint suggestion."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators.profile import (
    numeric_correlations,
    profile_columns,
    suggest_row_asserts,
)


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        [
            ("a", 1, "hello", 2.0, None),
            ("a", 2, "", -4.0, bytearray(b"xyz")),
            ("a", None, None, 7.5, bytearray(b"")),
            ("b", 4, "zz", 1.0, bytearray(b"q")),
            ("b", 4, "zz", 3.0, None),
        ],
        "grp string, k long, s string, v double, blob binary",
    )


def _metrics(profile, col):
    return {
        (r.metric): r.value
        for r in profile
        if r.column == col
    }


def test_profile_values(frame):
    prof = profile_columns(
        frame, columns=["k", "s", "v", "blob"], partition_by="grp", exact=True
    ).collect()
    a = [r for r in prof if r.partition_key == "a"]
    b = [r for r in prof if r.partition_key == "b"]
    assert _metrics(a, "*")["row_count"] == 3.0
    ka = _metrics(a, "k")
    assert ka["null_count"] == 1 and ka["distinct_count"] == 2
    assert ka["min"] == 1 and ka["max"] == 2 and ka["mean"] == 1.5
    assert ka["completeness"] == pytest.approx(2 / 3)
    kb = _metrics(b, "k")
    assert kb["distinct_count"] == 1 and kb["stddev"] == 0.0
    sa = _metrics(a, "s")
    assert sa["min_length"] == 0 and sa["max_length"] == 5
    assert sa["empty_count"] == 1 and sa["avg_length"] == 2.5
    va = _metrics(a, "v")
    assert va["stddev"] == pytest.approx(
        math.sqrt(sum((x - 5.5 / 3) ** 2 for x in (2.0, -4.0, 7.5)) / 2)
    )
    bb = _metrics(a, "blob")
    assert bb["min_length"] == 0 and bb["max_length"] == 3
    assert bb["null_count"] == 1


def test_profile_one_scan(frame):
    """All columns' metrics are one aggregation: no joins, no Python;
    count_distinct in exact mode uses Expand, approx mode does not."""
    import io
    from contextlib import redirect_stdout

    for exact in (False, True):
        buf = io.StringIO()
        with redirect_stdout(buf):
            profile_columns(frame, exact=exact).explain("formatted")
        plan = buf.getvalue()
        assert "EvalPython" not in plan and "Join" not in plan
        assert ("Expand" in plan) == exact


def test_profile_timestamp_and_missing(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), (None,)], "ts string"
    ).select(F.col("ts").cast("timestamp"))
    prof = profile_columns(df).collect()
    m = _metrics(prof, "ts")
    assert m["min_epoch"] == m["max_epoch"] == 1704067200.0
    with pytest.raises(ValueError, match="no such column"):
        profile_columns(df, columns=["nope"])


def test_correlations(frame):
    rows = numeric_correlations(frame, ["k", "v"], partition_by=None).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.col_a, r.col_b) == ("k", "v")
    # pandas cross-check
    import pandas as pd

    pdf = frame.select("k", "v").toPandas()
    assert r.corr == pytest.approx(pdf["k"].corr(pdf["v"]))
    with pytest.raises(ValueError, match="not numeric"):
        numeric_correlations(frame, ["k", "s"])
    with pytest.raises(ValueError, match="at least two"):
        numeric_correlations(frame, ["k"])


def test_profile_diff_statuses(spark):
    from anomalydetector_spark.operators.profile import profile_diff

    schema = "partition_key string, column string, metric string, value double"
    old = spark.createDataFrame(
        [
            ("g", "a", "mean", 10.0),
            ("g", "a", "max", 100.0),
            ("g", "b", "null_count", 0.0),
            ("g", "gone", "mean", 1.0),
            ("g", "c", "stddev", None),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            ("g", "a", "mean", 10.5),   # +5% -> unchanged at 10%
            ("g", "a", "max", 250.0),   # +150% -> changed
            ("g", "b", "null_count", 3.0),  # 0 -> nonzero -> changed
            ("g", "fresh", "mean", 2.0),    # added
            ("g", "c", "stddev", None),     # null both sides -> unchanged
        ],
        schema,
    )
    rows = {
        (r.column, r.metric): r
        for r in profile_diff(old, new, rel_tolerance=0.10).collect()
    }
    assert rows[("a", "mean")].status == "unchanged"
    assert rows[("a", "mean")].rel_delta == pytest.approx(0.05)
    assert rows[("a", "max")].status == "changed"
    assert rows[("b", "null_count")].status == "changed"
    assert rows[("b", "null_count")].rel_delta is None  # old == 0
    assert rows[("gone", "mean")].status == "removed"
    assert rows[("fresh", "mean")].status == "added"
    assert rows[("c", "stddev")].status == "unchanged"
    assert len(rows) == 6


def test_cli_profile_workflow(spark, tmp_path):
    """profile -> baseline diff -> suggested suite -> validate --suite,
    the full user loop through the CLI entry point."""
    import json

    from anomalydetector_spark import datagen
    from anomalydetector_spark.cli import main

    src = str(tmp_path / "pages")
    datagen.generate_pages(spark, 800).write.parquet(src)
    out1 = str(tmp_path / "run1")
    suite = str(tmp_path / "suite.json")
    main(
        [
            "profile", "--input-path", src, "--output-path", out1,
            "--columns", "url,lang,text", "--exact",
            "--suggest-suite", suite, "--suggest-tolerance", "0.01",
        ]
    )
    prof = spark.read.parquet(f"{out1}/profile")
    assert prof.filter("column = 'lang' and metric = 'distinct_count'").count() == 1
    spec = json.load(open(suite))
    assert spec["asserts"] and all(
        a["max_violation_fraction"] == 0.01 for a in spec["asserts"]
    )

    # drift against itself: everything unchanged
    out2 = str(tmp_path / "run2")
    main(
        [
            "profile", "--input-path", src, "--output-path", out2,
            "--columns", "url,lang,text", "--exact",
            "--baseline", f"{out1}/profile",
        ]
    )
    drift = spark.read.parquet(f"{out2}/profile_drift")
    assert drift.filter("status != 'unchanged'").count() == 0

    # the suggested suite runs through validate --suite and passes
    vout = str(tmp_path / "validated")
    main(
        [
            "validate", "--input-path", src, "--output-path", vout,
            "--suite", suite,
        ]
    )
    verdicts = spark.read.parquet(f"{vout}/verdicts")
    av = verdicts.filter("check_name like 'assert_%'")
    assert av.count() > 0
    assert av.filter("passed = false").count() == 0


def test_suggestions_hold_on_source_data(frame):
    """Every suggested assert must pass on the data it was derived from
    (the enforce-what-you-observe invariant)."""
    from anomalydetector_spark.plans.suite import run_suite

    prof = profile_columns(frame, columns=["k", "s", "v"], exact=True)
    suggested = suggest_row_asserts(prof)
    names = {a.name for a in suggested}
    assert "v_not_null" in names and "k_floor" in names
    assert "k_not_null" not in names  # k has a null -> not suggested
    res = run_suite(frame, suggested)
    assert all(r.passed for r in res.verdicts.collect())


# ---- JSON key profiling + schema suggestion (profile_json_keys) ----


def test_profile_json_keys_discovery_and_types(spark):
    import pandas as pd

    from anomalydetector_spark.operators.profile import profile_json_keys
    from anomalydetector_spark.plans import suite as S

    rows = (
        [{"p": '{"a": %d, "b": "s%d", "c": 1.5}' % (i, i)} for i in range(90)]
        + [{"p": '{"a": 7, "b": "x"}'}] * 8  # c absent in 8 rows
        + [{"p": '{"a": null, "b": "y"}'}]   # json null == absent for a
        + [{"p": "not json"}]                # malformed: not an object row
        + [{"p": "[1,2]"}]                   # valid json, not an object
        + [{"p": None}]
    )
    df = spark.createDataFrame(pd.DataFrame(rows))
    prof = {r.key: r for r in profile_json_keys(df, "p").collect()}
    assert set(prof) == {"a", "b", "c"}
    assert all(r.n_objects == 99 for r in prof.values())
    assert (prof["a"].n_present, prof["a"].inferred_type) == (98, "bigint")
    assert (prof["b"].n_present, prof["b"].inferred_type) == (99, "string")
    assert (prof["c"].n_present, prof["c"].inferred_type) == (90, "double")
    assert prof["a"].required and prof["b"].required
    assert not prof["c"].required  # 90/99 < 0.95
    # the profile's required keys, as a schema, pass on the clean rows
    schema = {k: r.inferred_type for k, r in sorted(prof.items()) if r.required}
    assert schema == {"a": "bigint", "b": "string"}
    clean = df.filter(df.p.isNotNull() & df.p.startswith("{"))
    res = S.run_suite(clean, [S.json_schema("p", schema)])
    v, = res.verdicts.collect()
    # the json-null 'a' row is the single violation the profiler predicted
    assert v.violation_count == 1


def test_profile_json_keys_type_ladder(spark):
    import pandas as pd

    from anomalydetector_spark.operators.profile import profile_json_keys

    rows = [
        {"p": '{"i": "007", "f": "1e3", "t": "true", "s": "1x"}'},
        {"p": '{"i": 3, "f": 2.5, "t": "false", "s": "zz"}'},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {r.key: r.inferred_type for r in
           profile_json_keys(df, "p").collect()}
    assert got == {"i": "bigint", "f": "double", "t": "boolean",
                   "s": "string"}


def test_profile_json_keys_empty_input(spark):
    import pandas as pd

    from anomalydetector_spark.operators.profile import profile_json_keys

    df = spark.createDataFrame(
        pd.DataFrame({"p": ["nope", None]}), "p string"
    )
    assert profile_json_keys(df, "p").collect() == []
