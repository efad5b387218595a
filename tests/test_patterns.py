"""Value-pattern profiling + compliance (operators/patterns.py):
signature construction, the discover → suggest → enforce loop, suite
integration, partition invariance."""

import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators.patterns import (
    signature_sql,
    suggest_value_patterns,
    value_pattern_profile,
)
from anomalydetector_spark.plans import suite as S


def test_char_signature_cases(spark):
    cases = [
        ("AB-123456", "A+-9+", "AA-999999"),
        ("2024-01-31", "9+-9+-9+", "9999-99-99"),
        ("user_42", "a+_9+", "aaaa_99"),
        ("", "", ""),
        ("héllo", "auaaa" , "hullo"),  # é -> u, placeholder fixed below
        ("日本語", "u+", "uuu"),
        ("a1B2", "a9A9", "a9A9"),
        ("  ", "  ", "  "),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "v string")
    got_c = {
        r.v: r.s
        for r in df.select(
            "v", F.expr(signature_sql("v", True)).alias("s")
        ).collect()
    }
    got_e = {
        r.v: r.s
        for r in df.select(
            "v", F.expr(signature_sql("v", False)).alias("s")
        ).collect()
    }
    # mirror via the published steps
    import re

    def mirror(v, collapsed):
        v = re.sub(r"[0-9]", "9", v)
        v = re.sub(r"[A-Z]", "A", v)
        v = re.sub(r"[a-z]", "a", v)
        v = re.sub(r"[^\x00-\x7F]", "u", v)
        if collapsed:
            for cls in "u9Aa":
                v = re.sub(cls + "{2,}", cls + "+", v)
        return v

    for v, _, _ in cases:
        assert got_c[v] == mirror(v, True), (v, got_c[v])
        assert got_e[v] == mirror(v, False), (v, got_e[v])
    assert got_c["AB-123456"] == "A+-9+"
    assert got_e["2024-01-31"] == "9999-99-99"
    assert got_c["日本語"] == "u+"


def test_profile_suggest_enforce_loop(spark):
    rows = (
        [(f"AB-{100000 + i}",) for i in range(800)]
        + [(f"CD-{200000 + i}",) for i in range(150)]
        + [("2024-01-01",)] * 45
        + [("corrupt!!",)] * 5
    )
    df = spark.createDataFrame(rows, "code string")
    prof = value_pattern_profile(df, "code")
    p = {r.signature: r for r in prof.collect()}
    assert p["A+-9+"].rank == 1
    assert p["A+-9+"].n_values == 950
    assert p["A+-9+"].share == 950 / 1000
    # suggest at 99% keeps the id + date shapes, drops the corruption
    allowed = suggest_value_patterns(prof, min_coverage=0.99)
    assert allowed == ["A+-9+", "9+-9+-9+"]
    res = S.run_suite(df, [S.pattern("code", allowed)])
    v = res.verdicts.collect()[0]
    assert v.passed is False and v.violation_count == 5
    bad = res.violations.collect()
    assert len(bad) == 5 and all(r.code == "corrupt!!" for r in bad)
    # the profiler predicted exactly the rows the check rejects
    assert all(r.signature == "a+!!" for r in bad)


def test_pattern_suite_and_partitions(spark):
    rows = [("good", f"X{i:04d}") for i in range(50)] + [
        ("bad", "X0001"),
        ("bad", "oops"),
    ]
    df = spark.createDataFrame(rows, "grp string, id string")
    res = S.run_suite(
        df,
        [S.pattern("id", ["A9+"])],
        partition_by="grp",
    )
    v = {r.partition_key: r for r in res.verdicts.collect()}
    assert v["good"].passed is True and v["good"].rows_scanned == 50
    assert v["bad"].passed is False and v["bad"].violation_count == 1
    viol = res.violations.collect()
    assert [(r.partition_key, r.id) for r in viol] == [("bad", "oops")]

    with pytest.raises(ValueError, match="empty"):
        S.run_suite(df, [S.pattern("id", [])])


def test_profile_partition_invariance(spark):
    import random

    rnd = random.Random(3)
    rows = [(rnd.choice(["AB12", "x-9", "??", "日本"]),) for _ in range(2000)]
    df = spark.createDataFrame(rows, "v string")
    a = sorted(
        value_pattern_profile(df.coalesce(1), "v").collect(),
        key=lambda r: r.rank,
    )
    b = sorted(
        value_pattern_profile(df.repartition(7), "v").collect(),
        key=lambda r: r.rank,
    )
    assert [(r.signature, r.n_values, r.share) for r in a] == [
        (r.signature, r.n_values, r.share) for r in b
    ]
