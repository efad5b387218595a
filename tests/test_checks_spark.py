"""Spark-side tests for the constraint-check operators (SURVEY.md §2.2),
mirroring the reference's error-contract strategy
(aml_component/tests/test_error_input.py): each invalid input produces the
exact matching verdict message — but per-partition, not a raise."""

import pyspark.sql.functions as F
import pytest

from anomalydetector_spark.kernel.sr import (
    VALUE_LOWER_BOUND,
    VALUE_UPPER_BOUND,
)
from anomalydetector_spark.operators import checks as C
from anomalydetector_spark.operators import errors
from anomalydetector_spark.operators.referential import REF_STRATEGIES
from anomalydetector_spark.plans import suite as S


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_column_presence_pass_and_fail(spark):
    df = spark.createDataFrame([(1, "a")], "x int, y string")
    ok = _one(C.check_column_presence(df, ["x", "y"]).verdicts)
    assert ok.passed and ok.error_message is None
    bad = _one(C.check_column_presence(df, ["x", "z"]).verdicts)
    assert not bad.passed
    assert bad.error_message == errors.COLUMN_NOT_FOUND.format("z")


def test_min_rows_per_partition(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(20)] + [("b", i) for i in range(5)],
        "k string, v int",
    )
    res = {
        r.partition_key: r
        for r in S.run_suite(
            df, [S.min_rows()], partition_by="k", persist_scans=False
        ).verdicts.collect()
    }
    assert res["a"].passed
    assert not res["b"].passed
    assert res["b"].error_message == errors.NOT_ENOUGH_POINTS.format(12)
    assert res["b"].rows_scanned == 5


def test_not_null_check_counts_and_rows(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01"), ("a", None), ("b", "2024-01-02")],
        "k string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    res = S.run_suite(df, [S.not_null("ts")], partition_by="k")
    v = {r.partition_key: r for r in res.verdicts.collect()}
    assert not v["a"].passed and v["a"].violation_count == 1
    assert v["a"].error_message == errors.INVALID_TIMESTAMPS
    assert v["b"].passed
    assert res.violations.count() == 1


def test_float_castable(spark):
    df = spark.createDataFrame(
        [("a", "1.5"), ("a", "oops"), ("a", None)], "k string, v string"
    )
    res = S.run_suite(df, [S.float_castable("v")], partition_by="k")
    r = _one(res.verdicts)
    assert not r.passed and r.violation_count == 1
    assert r.error_message == errors.INVALID_VALUE_FORMAT.format("v")


def test_finite_and_bounds(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", float("nan")), ("a", float("inf")), ("a", 1e200)],
        "k string, v double",
    )
    fin = _one(S.run_suite(df, [S.finite("v")], partition_by="k").verdicts)
    assert not fin.passed and fin.violation_count == 2
    assert fin.error_message == errors.INVALID_SERIES_VALUE.format("v")
    bnd = _one(
        S.run_suite(
            df,
            [S.bounds("v", VALUE_LOWER_BOUND, VALUE_UPPER_BOUND)],
            partition_by="k",
        ).verdicts
    )
    assert not bnd.passed and bnd.violation_count == 1  # inf excluded, 1e200 caught
    assert bnd.error_message == errors.VALUE_OVERFLOW.format("v")


def test_duplicate_timestamps(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 00:00:00"),
         ("a", "2024-01-02 00:00:00"), ("b", "2024-01-01 00:00:00")],
        "k string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    res = C.check_strictly_ascending(df, "ts", "k")
    v = {r.partition_key: r for r in res.verdicts.collect()}
    assert not v["a"].passed and v["a"].violation_count == 1
    assert v["a"].error_message == errors.DUPLICATE_SERIES_TIMESTAMP
    assert v["b"].passed


def test_ascending_by_order_column(spark):
    df = spark.createDataFrame(
        [("a", 1, "2024-01-02 00:00:00"), ("a", 2, "2024-01-01 00:00:00"),
         ("a", 3, "2024-01-03 00:00:00")],
        "k string, pos int, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    res = C.check_ascending_by(df, "ts", "pos", "k")
    r = _one(res.verdicts)
    assert not r.passed and r.violation_count == 1
    assert r.error_message == errors.INVALID_SERIES_ORDER


def test_batch_size_validation():
    with pytest.raises(ValueError, match="batchSize"):
        C.validate_batch_size(5)
    C.validate_batch_size(0)
    C.validate_batch_size(100)


def test_unique_key_check(spark):
    df = spark.createDataFrame(
        [("a", "u1"), ("a", "u1"), ("a", "u2"), ("b", "u3")],
        "k string, url string",
    )
    res = S.run_suite(df, [S.unique("url")], partition_by="k")
    v = {r.partition_key: r for r in res.verdicts.collect()}
    assert not v["a"].passed and v["a"].violation_count == 2  # both dup rows
    assert v["a"].error_message == errors.DUPLICATE_KEY.format("url")
    assert v["b"].passed
    assert res.violations.count() == 2


def test_referential_check(spark):
    child = spark.createDataFrame(
        [("a", "d1"), ("a", "d2"), ("a", "dX"), ("a", None)],
        "k string, domain string",
    )
    parent = spark.createDataFrame([("d1",), ("d2",)], "domain string")
    res = S.run_suite(
        child, [S.referential("domain", parent)], partition_by="k"
    )
    r = _one(res.verdicts)
    assert not r.passed and r.violation_count == 1  # null is not a violation
    viol = res.violations.collect()
    assert len(viol) == 1 and viol[0].domain == "dX"


def test_functional_dependency_check(spark):
    """fd: non-null determinants must map to one dependent value; a
    NULL dependent counts as a value (so {x, NULL} violates); NULL
    determinants are out of scope (referential-style)."""
    df = spark.createDataFrame(
        [
            ("p", "a", "s1"), ("p", "a", "s1"),          # consistent
            ("p", "b", "s1"), ("p", "b", "s2"),          # violates
            ("p", "c", "s1"), ("p", "c", None),          # {x, NULL} violates
            ("p", "d", None), ("p", "d", None),          # consistent (all NULL)
            ("p", None, "s9"),                            # null determinant: skipped
        ],
        "part string, det string, dep string",
    )
    res = C.check_functional_dependency(df, "det", "dep", "part")
    v = _one(res.verdicts)
    assert not v.passed
    assert v.violation_count == 2 and v.rows_scanned == 8
    assert errors.FD_VIOLATION.format("det", "dep") == v.error_message
    assert sorted(r.det for r in res.violations.collect()) == ["b", "c"]

    ok = C.check_functional_dependency(
        df.filter(F.col("det").isin("a", "d")), "det", "dep", "part"
    )
    assert _one(ok.verdicts).passed


def test_functional_dependency_composite(spark):
    """Composite sides: determinant lists group on the tuple (no key
    concatenation — ('a','b|c') vs ('a|b','c') stay distinct), dependent
    lists hash the struct of all columns; any-null determinant skipped."""
    df = spark.createDataFrame(
        [
            ("p", "a", "b|c", "s1", "t1"),
            ("p", "a|b", "c", "s1", "t1"),     # distinct tuple, same texts
            ("p", "a", "b|c", "s1", "t2"),     # t differs → (d1,d2)→(s,t) violates
            ("p", "x", "y", "s1", "t1"),
            ("p", "x", "y", "s1", "t1"),       # consistent pair
            ("p", None, "y", "s9", "t9"),      # null in determinant: skipped
        ],
        "part string, d1 string, d2 string, s string, t string",
    )
    res = C.check_functional_dependency(df, ["d1", "d2"], ["s", "t"], "part")
    v = _one(res.verdicts)
    assert not v.passed and v.violation_count == 1 and v.rows_scanned == 5
    assert errors.FD_VIOLATION.format("d1+d2", "s+t") == v.error_message
    bad = res.violations.collect()
    assert [(r.d1, r.d2) for r in bad] == [("a", "b|c")]
    assert bad[0].check_name == "fd_d1+d2_s+t"
    # composite dependent alone: (d1)→(s,t): 'a' maps to one (s,t)? no —
    # ('s1','t1') and ('s1','t2') → violates; 'a|b' and 'x' consistent
    res2 = C.check_functional_dependency(df, "d1", ["s", "t"], "part")
    assert _one(res2.verdicts).violation_count == 1


def test_referential_strategy_ladder(spark):
    """All five dim-join rungs (broadcast / auto / shuffle /
    shuffle_salted / shuffle_bloom) return identical suite verdicts and
    violation row sets — the salted rung replicates the dim once per
    salt, so match/no-match per fact row is provably unchanged — and each
    rung's physical plan is the one asked for."""
    import pyspark.sql.functions as F2

    n, hot = 20_000, 10_000  # one domain owns 50% of rows (north-rule skew)
    child = spark.range(n).select(
        F2.concat(F2.lit("u"), F2.col("id").cast("string")).alias("k"),
        F2.when(F2.col("id") < hot, F2.lit("hot.example.com"))
        .when(F2.col("id") % 7 == 0, F2.lit("dangling.example.com"))
        .when(F2.col("id") % 11 == 0, F2.lit(None).cast("string"))
        .otherwise(F2.concat(F2.lit("d"), (F2.col("id") % 50).cast("string")))
        .alias("domain"),
    )
    parent = spark.createDataFrame(
        [("hot.example.com",)] + [(f"d{i}",) for i in range(50)],
        "domain string",
    )

    results = {}
    for strategy in (
        "broadcast", "auto", "shuffle", "shuffle_salted", "shuffle_bloom"
    ):
        res = S.run_suite(
            child,
            [S.referential("domain", parent, strategy=strategy, salts=8)],
            persist_scans=False,
        )
        v = _one(res.verdicts)
        viol = sorted(r.domain for r in res.violations.collect())
        results[strategy] = (v.passed, v.violation_count, v.rows_scanned, viol)

        plan = res.violations._jdf.queryExecution().executedPlan().toString()
        if strategy == "broadcast":
            assert "BroadcastHashJoin" in plan
        elif strategy in ("shuffle", "shuffle_salted"):
            assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan
        elif strategy == "shuffle_bloom":
            # candidates shuffle-join; the bitmap rides a broadcast row
            assert "ShuffledHashJoin" in plan and "BroadcastNestedLoopJoin" in plan

    base = results["broadcast"]
    assert all(r == base for r in results.values())
    assert base[1] > 0 and all(d == "dangling.example.com" for d in base[3])

    with pytest.raises(ValueError, match="strategy"):
        S.run_suite(child, [S.referential("domain", parent, strategy="bogus")])


@pytest.mark.parametrize("strategy", REF_STRATEGIES)
def test_dim_join_rungs_match_membership(spark, strategy):
    """Every rung of the ladder gives the rows plain key membership
    defines, for a dimension that repeats keys and holds a NULL key and
    for NULL fact keys: each fact row once, with ``_known`` True for the
    members and NULL for the rest (NULL fact keys included)."""
    from anomalydetector_spark.operators.referential import dim_join

    fact = spark.range(3000).select(
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id") % 400)
        .alias("k"),
        F.col("id").alias("rid"),
    )
    # keys 0..299, each twice, plus a NULL key
    dim = spark.range(600).select((F.col("id") % 300).alias("k")).unionByName(
        spark.range(1).select(F.lit(None).cast("long").alias("k"))
    )
    members = set(range(300))
    rows = [(r, None if r % 11 == 0 else r % 400) for r in range(3000)]

    left = dim_join(fact, dim, "k", strategy=strategy, salts=4)
    assert sorted(
        (r.rid, r.k, r._known) for r in left.select("rid", "k", "_known").collect()
    ) == sorted((r, k, True if k in members else None) for r, k in rows)


def test_engine_ref_strategy_parity(spark):
    """run_validation under ref_strategy='shuffle_salted' emits the same
    verdicts and violations as the default broadcast path (the cube _ok
    flag AND the violation-extraction tag both route through dim_join)."""
    from anomalydetector_spark import datagen
    from anomalydetector_spark.engine import ValidationConfig, run_validation

    pages = datagen.generate_pages(spark, n_rows=3_000, seed=11)
    domains = datagen.domains_dim(spark)

    def snap(cfg):
        r = run_validation(pages, domains, cfg)
        verd = sorted(
            (x.check_name, x.partition_key, x.passed, x.violation_count)
            for x in r.verdicts.collect()
        )
        viol = sorted(
            (x.check_name, x.partition_key, x.url) for x in r.violations.collect()
        )
        r.unpersist()
        return verd, viol

    assert snap(ValidationConfig()) == snap(
        ValidationConfig(ref_strategy="shuffle_salted", ref_salts=8)
    )


def test_uniqueness_under_extreme_hot_key(spark):
    """North rule: domain-skewed url partitions. One url carrying 30% of
    all rows must neither stall nor miscount: the positional salt spreads
    its rows over n_salts phase-1 groups, and the re-aggregated count is
    exact."""
    import pyspark.sql.functions as F
    from anomalydetector_spark.operators.uniqueness import duplicate_key_counts

    n, hot = 50_000, 15_000
    df = spark.range(n).select(
        F.when(F.col("id") < hot, F.lit("https://hot.example.com/only"))
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
        .alias("url")
    )
    dups = {r.key: r.cnt for r in duplicate_key_counts(df, "url").collect()}
    assert dups == {"https://hot.example.com/only": hot}

    res = S.run_suite(df, [S.unique("url")], persist_scans=False)
    v = res.verdicts.collect()[0]
    assert not v.passed and v.violation_count == hot and v.rows_scanned == n

    # the salt must actually split the hot key: phase-1 group sizes are
    # bounded by ~hot/n_salts, not by the full hot count
    from pyspark.sql import functions as F2
    phase1 = (
        df.withColumn(
            "_salt", F2.pmod(F2.monotonically_increasing_id(), F2.lit(64))
        )
        .groupBy("url", "_salt")
        .count()
    )
    max_group = phase1.agg(F2.max("count")).collect()[0][0]
    assert max_group < hot / 8  # far below the unsalted hot-group size


def test_text_extraction_check(spark):
    """Byte-identity checks: a corrupted text row and a url whose rows
    disagree on text must both be flagged, clean rows must not."""
    import pandas as pd
    from pyspark.sql import functions as F
    from anomalydetector_spark.operators import checks as C
    from anomalydetector_spark.operators import errors as E

    rows = [
        # clean: text == tag-strip of html
        ("https://a.example.org/1", "<p>hello world</p>", "hello world", "p0"),
        # corrupted: stored text differs from extraction
        ("https://a.example.org/2", "<p>original body</p>", "TAMPERED", "p0"),
        # same url, two different text payloads
        ("https://b.example.org/x", "<p>v1</p>", "v1", "p1"),
        ("https://b.example.org/x", "<p>v2</p>", "v2", "p1"),
        # null text is out of scope for both checks
        ("https://a.example.org/3", "<p>ignored</p>", None, "p0"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "html_s", "text", "part"])
    ).select(
        "url", F.encode("html_s", "UTF-8").alias("html"), "text", "part"
    )

    from anomalydetector_spark.operators import quarantine as Q

    tx = S.run_suite(
        df, [S.text_extraction()], partition_by="part", persist_scans=False
    )
    verdicts = {r.partition_key: r for r in tx.verdicts.collect()}
    assert verdicts["p0"].passed is False
    assert verdicts["p0"].violation_count == 1
    assert verdicts["p1"].passed is True
    assert verdicts["p0"].error_message == E.TEXT_EXTRACTION_MISMATCH.format(
        "text", "html"
    )
    assert [r.text for r in tx.violations.collect()] == ["TAMPERED"]
    bad = [
        r.url
        for r in Q.tag_rows(df, [S.text_extraction()])
        .filter(F.col(Q.STATUS_COL) == Q.QUARANTINED)
        .collect()
    ]
    assert bad == ["https://a.example.org/2"]

    cons = C.check_key_text_consistency(df, key_col="url", partition_by="part")
    cv = {r.partition_key: r for r in cons.verdicts.collect()}
    assert cv["p1"].passed is False and cv["p1"].violation_count == 1
    assert cv["p0"].passed is True
    assert [r.url for r in cons.violations.collect()] == ["https://b.example.org/x"]


def test_engine_text_parity_opt_in(spark):
    """verify_text_extraction=True adds both byte-identity checks to the
    engine suite; the clean synthetic table passes them."""
    from anomalydetector_spark.datagen import generate_pages
    from anomalydetector_spark.engine import ValidationConfig, run_validation

    pages = generate_pages(spark, 3_000)
    res = run_validation(
        pages, config=ValidationConfig(verify_text_extraction=True)
    )
    names = {
        r.check_name: r.passed
        for r in res.verdicts.filter(
            "check_name in ('text_extraction', 'consistent_text_url')"
        ).collect()
    }
    assert names == {"text_extraction": True, "consistent_text_url": True}
    res.unpersist()


def test_text_extraction_malformed_utf8(spark):
    """A page whose html is not valid UTF-8 must become a per-row
    violation, never a job failure (Spark 4 ANSI decode would throw)."""
    rows = [
        ("https://ok.example.org/1", bytearray(b"<p>fine</p>"), "fine"),
        ("https://bad.example.org/2", bytearray(b"<p>\xff\xfe</p>"), "anything"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, text string")
    tx = S.run_suite(df, [S.text_extraction()], persist_scans=False)
    v = tx.verdicts.first()
    assert v.passed is False and v.violation_count == 1
    assert [r.text for r in tx.violations.collect()] == ["anything"]


# ---- freshness / staleness (the suite's freshness spec) ----


def test_freshness_pass_and_stale_partitions(spark):
    df = spark.createDataFrame(
        [
            ("a", "2024-01-10 23:00:00"),
            ("a", "2024-01-09 03:00:00"),
            ("b", "2024-01-05 00:00:00"),
        ],
        "src string, ts string",
    ).select("src", F.col("ts").cast("timestamp").alias("ts"))
    res = S.run_suite(
        df,
        [S.freshness("ts", 2 * 86400, "2024-01-11 00:00:00")],
        partition_by="src",
    )
    got = {r.partition_key: r for r in res.verdicts.collect()}
    assert got["a"].passed and got["a"].error_message is None
    assert got["a"].violation_count == 0 and got["a"].rows_scanned == 2
    assert not got["b"].passed and got["b"].violation_count == 1
    # lag = 6 days exactly = 518400s, max 172800s
    assert got["b"].error_message == errors.STALE_PARTITION.format(
        "ts", 518400, 172800
    )
    assert res.violations is None


def test_freshness_no_timestamps_fails(spark):
    df = spark.createDataFrame(
        [("a", None), ("a", None)], "src string, ts timestamp"
    )
    r = _one(
        S.run_suite(
            df,
            [S.freshness("ts", 3600, "2024-01-01 00:00:00")],
            partition_by="src",
        ).verdicts
    )
    assert not r.passed
    assert r.error_message == errors.NO_TIMESTAMPS.format("ts")
    assert r.rows_scanned == 2


def test_freshness_future_timestamp_passes(spark):
    # clock skew: max(ts) after the reference -> negative lag, fresh
    df = spark.createDataFrame(
        [("2024-01-02 00:00:30",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    r = _one(
        S.run_suite(
            df, [S.freshness("ts", 0, "2024-01-02 00:00:00")]
        ).verdicts
    )
    assert r.passed


def test_freshness_boundary_exact_lag(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    ok = _one(
        S.run_suite(
            df, [S.freshness("ts", 3600, "2024-01-01 01:00:00")]
        ).verdicts
    )
    assert ok.passed  # lag == max_lag is fresh (<=)
    bad = _one(
        S.run_suite(
            df, [S.freshness("ts", 3599, "2024-01-01 01:00:00")]
        ).verdicts
    )
    assert not bad.passed


def test_freshness_via_suite(spark):
    from anomalydetector_spark.plans import suite as S

    df = spark.createDataFrame(
        [("a", "2024-01-10 00:00:00"), ("b", "2024-01-01 00:00:00")],
        "src string, ts string",
    ).select("src", F.col("ts").cast("timestamp").alias("ts"))
    res = S.run_suite(
        df,
        [S.freshness("ts", 86400, "2024-01-10 12:00:00")],
        partition_by="src",
        persist_scans=False,
    )
    got = {r.partition_key: r.passed for r in res.verdicts.collect()}
    assert got == {"a": True, "b": False}


# ---- JSON payload schema (the suite's json_schema spec) ----


def test_json_schema_reasons_and_verdicts(spark):
    rows = [
        ("a", '{"k": 87, "u": "x"}'),    # ok
        ("a", '{"k": "oops", "u": "x"}'),  # type:k
        ("a", '{"u": "x"}'),              # missing:k
        ("a", '{"k": null, "u": "x"}'),   # json null == missing (pinned)
        ("b", '{"k": 1'),                 # malformed
        ("b", None),                      # NULL column: NOT a violation
        ("b", '{"k": 3, "u": 7}'),        # u numeric still casts to string
    ]
    df = spark.createDataFrame(rows, "src string, props string")
    res = S.run_suite(
        df,
        [S.json_schema("props", {"k": "bigint", "u": "string"})],
        partition_by="src",
    )
    got = {r.partition_key: r for r in res.verdicts.collect()}
    assert not got["a"].passed and got["a"].violation_count == 3
    assert got["a"].error_message == errors.JSON_SCHEMA_VIOLATION.format(
        "props"
    )
    assert not got["b"].passed and got["b"].violation_count == 1
    assert got["b"].rows_scanned == 3
    reasons = sorted(
        r.json_reason for r in res.violations.collect()
    )
    assert reasons == ["malformed", "missing:k", "missing:k", "type:k"]


def test_json_schema_all_valid_passes(spark):
    df = spark.createDataFrame(
        [('{"k": %d}' % i,) for i in range(20)], "props string"
    )
    r = _one(
        S.run_suite(df, [S.json_schema("props", {"k": "bigint"})]).verdicts
    )
    assert r.passed and r.violation_count == 0 and r.rows_scanned == 20


def test_json_schema_first_reason_wins_in_declaration_order(spark):
    # row missing BOTH keys: reason must be the first declared key
    df = spark.createDataFrame([("{}",)], "props string")
    res = S.run_suite(
        df, [S.json_schema("props", {"a": "bigint", "b": "string"})]
    )
    v, = res.violations.collect()
    assert v.json_reason == "missing:a"


def test_json_schema_rejects_pathy_keys(spark):
    df = spark.createDataFrame([("{}",)], "props string")
    with pytest.raises(ValueError):
        S.run_suite(df, [S.json_schema("props", {"a.b": "bigint"})])


def test_json_schema_plan_is_codegen(spark):
    df = spark.createDataFrame([('{"k": 1}',)], "props string")
    res = S.run_suite(df, [S.json_schema("props", {"k": "bigint"})])
    plan = (
        res.verdicts._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan  # JVM-side parse, no Python UDF


def test_json_schema_via_suite(spark):
    from anomalydetector_spark.plans import suite as S

    df = spark.createDataFrame(
        [("a", '{"k": 1}'), ("b", '{"k": "x"}')],
        "src string, props string",
    )
    res = S.run_suite(
        df,
        [S.json_schema("props", {"k": "bigint"})],
        partition_by="src",
        persist_scans=False,
    )
    got = {r.partition_key: r.passed for r in res.verdicts.collect()}
    assert got == {"a": True, "b": False}
