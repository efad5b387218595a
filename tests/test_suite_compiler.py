"""Declarative suite compiler over an arbitrary (events) table: the
reference's invoker gauntlet expressed as data, compiled onto shared
scans (plans/suite.py)."""

import pyspark.sql.functions as F

from anomalydetector_spark.plans import suite as S


def test_suite_on_events(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # dimension missing some users → referential violations guaranteed
    users = ev.select("user_id").distinct().filter("user_id % 5 != 0")

    specs = [
        S.column_presence("event_id", "ts", "user_id", "value"),
        S.min_rows(12),
        S.not_null_ts("ts"),
        S.unique("event_id"),
        S.referential("user_id", users),
        S.finite("value"),
        S.bounds("value", -1e6, 1e6),
        S.ascending("ts", "event_id"),
    ]
    res = S.run_suite(ev, specs, partition_by="event_type")
    v = {r.check_name: r for r in res.verdicts.collect()}

    assert v["column_presence"].passed
    # per-partition verdicts for partitioned checks
    n_types = ev.select("event_type").distinct().count()
    assert (
        res.verdicts.filter("check_name = 'min_row_count'").count() == n_types
    )
    assert all(
        r.passed
        for r in res.verdicts.filter("check_name = 'min_row_count'").collect()
    )
    # the fixture has no null ts: one passing verdict per event_type
    not_null = res.verdicts.filter("check_name = 'not_null_ts'").collect()
    assert len(not_null) == n_types == 5
    assert all(r.passed and r.violation_count == 0 for r in not_null)
    # event_id is unique in the fixture
    assert all(
        r.passed
        for r in res.verdicts.filter("check_name = 'unique_event_id'").collect()
    )
    # some users were cut from the dimension -> referential violations
    ref_rows = res.verdicts.filter("check_name = 'ref_user_id'").collect()
    assert sum(r.violation_count for r in ref_rows) > 0
    viol = res.violations.filter("check_name = 'ref_user_id'").count()
    assert viol == sum(r.violation_count for r in ref_rows)
    # rows_scanned consistent across cube-routed checks
    by_part = {
        r.partition_key: r.rows_scanned
        for r in res.verdicts.filter("check_name = 'min_row_count'").collect()
    }
    for r in ref_rows:
        assert by_part[r.partition_key] == r.rows_scanned
    res.unpersist()


def test_suite_catches_injected_violations(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    bad = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 97 == 0, float("nan")).otherwise(
            F.col("value")
        ),
    ).withColumn(
        "event_id", F.when(F.col("event_id") % 50 == 0, 1).otherwise(F.col("event_id"))
    )
    res = S.run_suite(
        bad, [S.finite("value"), S.unique("event_id"), S.min_rows(12)]
    )
    v = {r.check_name: r for r in res.verdicts.collect()}
    assert not v["finite_value"].passed
    assert not v["unique_event_id"].passed
    assert v["min_row_count"].passed
    res.unpersist()


def test_suite_empty_input_fails_min_rows(spark):
    """Same empty-input contract at the suite-compiler level."""
    from anomalydetector_spark.plans import suite as S

    df = spark.createDataFrame([], "url string, warc_ts timestamp")
    res = S.run_suite(
        df,
        [S.min_rows(), S.not_null_ts("warc_ts"), S.unique("url")],
        persist_scans=False,
    )
    v = {r.check_name: r for r in res.verdicts.collect()}
    assert v["min_row_count"].passed is False
    assert v["min_row_count"].rows_scanned == 0


def test_suite_null_partition_counts_its_duplicates(spark):
    """The suite's uniqueness verdict of a NULL partition counts its own
    duplicate rows, like every other partition's."""
    from anomalydetector_spark.plans import suite as S

    df = spark.createDataFrame(
        [("u1", "a"), ("u2", "a"), ("d", None), ("d", None), ("e", None)],
        "url string, domain string",
    )
    # "e" is the one url the dimension lacks: a dangling row in the NULL
    # partition
    urls = spark.createDataFrame([("u1",), ("u2",), ("d",)], "url string")
    res = S.run_suite(
        df,
        [S.min_rows(1), S.unique("url"), S.referential("url", urls)],
        partition_by="domain",
        persist_scans=False,
    )
    v = {(r.partition_key, r.check_name): r for r in res.verdicts.collect()}
    assert v[(None, "unique_url")].violation_count == 2
    assert not v[(None, "unique_url")].passed
    assert v[("a", "unique_url")].violation_count == 0
    assert v[(None, "min_row_count")].rows_scanned == 3
    assert v[(None, "ref_url")].violation_count == 1
    assert not v[(None, "ref_url")].passed
    assert v[("a", "ref_url")].violation_count == 0
    dangling = res.violations.filter("check_name = 'ref_url'").collect()
    assert [(r.partition_key, r.url) for r in dangling] == [(None, "e")]


def test_suite_gives_each_spec_its_own_counter(spark):
    """Two referential specs and two not-null-timestamp specs on
    different columns: each verdict counts its own column's violations
    and lists its own rows. An unparseable string timestamp counts as
    null in the verdict and in the violation rows alike."""
    df = spark.createDataFrame(
        [
            ("a.com", "en", "2024-01-01 00:00:00", None),
            ("a.com", "xx", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
            ("zz.com", "en", None, "2024-01-02 00:00:00"),
            ("a.com", "yy", "2024-01-01 00:00:00", "not a time"),
        ],
        "domain string, lang string, ts1 string, ts2 string",
    ).withColumn("ts1", F.col("ts1").cast("timestamp"))
    doms = spark.createDataFrame([("a.com",)], "domain string")
    langs = spark.createDataFrame([("en",), ("de",)], "lang string")
    res = S.run_suite(
        df,
        [
            S.referential("domain", doms),
            S.referential("lang", langs),
            S.not_null_ts("ts1"),
            S.not_null_ts("ts2"),
        ],
        persist_scans=False,
    )
    v = {r.check_name: r for r in res.verdicts.collect()}
    assert {n: v[n].violation_count for n in v} == {
        "ref_domain": 1,
        "ref_lang": 2,
        "not_null_ts1": 1,
        "not_null_ts2": 2,
    }
    assert all(not r.passed and r.rows_scanned == 4 for r in v.values())
    rows = res.violations.collect()
    assert sorted(r.lang for r in rows if r.check_name == "ref_lang") == [
        "xx",
        "yy",
    ]
    assert [r.domain for r in rows if r.check_name == "ref_domain"] == [
        "zz.com"
    ]
    assert sum(r.check_name == "not_null_ts2" for r in rows) == 2


def test_suite_verdicts_read_one_rollup(spark, tmp_path):
    """Every compiled spec kind compiles like the engine's checks: above
    the cached cube and key profile, the verdicts are one rollup
    aggregation read through one generator, not a branch per spec, and
    every violation row comes from one tagged scan of the input."""
    from anomalydetector_spark.plans.audit import plan_node_names

    spark.createDataFrame(
        [
            ("u1", "a.com", "2024-01-01 00:00:00", 1.0, "1.5", "X10",
             '{"k": 1}'),
            ("u1", "b.com", None, float("nan"), "oops", "bad id",
             '{"k": "x"}'),
            ("u3", "a.com", "2024-01-02 00:00:00", 1e9, None, "X22", "{}"),
        ],
        "url string, domain string, ts string, v double, s string, "
        "code string, props string",
    ).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    doms = spark.createDataFrame([("a.com",)], "domain string")
    res = S.run_suite(
        df,
        [
            S.min_rows(1),
            S.not_null_ts("ts"),
            S.not_null("s"),
            S.unique("url"),
            S.referential("domain", doms),
            S.finite("v"),
            S.bounds("v", 0.0, 100.0),
            S.float_castable("s"),
            S.pattern("code", ["A9+"]),
            S.json_schema("props", {"k": "bigint"}),
            S.freshness("ts", 86400, "2024-01-05 00:00:00"),
        ],
    )
    nodes = plan_node_names(res.verdicts, cached_inputs=False)
    assert nodes.count("GenerateExec") == 1, nodes
    # one aggregation: its partial and final halves
    assert nodes.count("HashAggregateExec") == 2, nodes
    assert nodes.count("InMemoryTableScanExec") == 2, nodes
    viol_nodes = plan_node_names(res.violations, cached_inputs=False)
    assert viol_nodes.count("FileSourceScanExec") == 1, viol_nodes
    v = {r.check_name: r.violation_count for r in res.verdicts.collect()}
    assert v == {
        "min_row_count": 0,
        "not_null_ts": 1,
        "not_null_s": 1,
        "unique_url": 2,
        "ref_domain": 1,
        "finite_v": 1,
        "value_bounds_v": 1,
        "float_castable_s": 1,
        "pattern_code": 1,
        "json_schema_props": 2,
        "freshness_ts": 1,
    }
    rows = res.violations.collect()
    listed = {}
    for r in rows:
        listed[r.check_name] = listed.get(r.check_name, 0) + 1
    assert listed == {
        n: c for n, c in v.items()
        if c and n not in ("min_row_count", "freshness_ts")
    }
    # a row's columns are set only where its check owns them
    assert sorted(
        (r.check_name, r.code, r.signature) for r in rows if r.signature
    ) == [("pattern_code", "bad id", "a+ a+")]
    assert sorted(
        r.json_reason for r in rows if r.check_name == "json_schema_props"
    ) == ["missing:k", "type:k"]
    assert all(r.v is None for r in rows if r.check_name == "unique_url")
    res.unpersist()


def test_suite_rejects_repeated_check(spark):
    """A check that occurs twice would emit its verdicts and violation
    rows twice; the suite and its JSON loader reject it by name."""
    import pytest

    df = spark.createDataFrame([("a",), ("a",), ("b",)], "url string")
    with pytest.raises(ValueError, match="unique_url"):
        S.run_suite(df, [S.unique("url"), S.unique("url")])
    # not_null and not_null_ts on one column share a check name
    with pytest.raises(ValueError, match="not_null_url"):
        S.run_suite(df, [S.not_null("url"), S.not_null_ts("url")])
    with pytest.raises(ValueError, match="value_bounds_v"):
        S.specs_from_json(
            [
                {"kind": "bounds", "column": "v", "lower": 0, "upper": 1},
                {"kind": "bounds", "column": "v", "lower": 2, "upper": 3},
            ]
        )
    # distinct columns stay distinct checks
    res = S.run_suite(df, [S.unique("url"), S.not_null("url")])
    assert sorted(r.check_name for r in res.violations.collect()) == [
        "unique_url",
        "unique_url",
    ]


def test_bounds_needs_both_limits():
    """A bounds check without a limit would compare against NULL and
    never fail: the JSON loader and direct construction reject it."""
    import pytest

    with pytest.raises(ValueError, match="checks\\[0\\].*lower"):
        S.specs_from_json([{"kind": "bounds", "column": "v"}])
    with pytest.raises(ValueError, match="upper"):
        S.specs_from_json([{"kind": "bounds", "column": "v", "lower": 0}])
    with pytest.raises(ValueError, match="lower"):
        S.CheckSpec("bounds", column="v", upper=1.0)
    assert S.bounds("v", 0.0, 1.0).upper == 1.0


def test_suite_takes_row_asserts_and_fd_pairs(spark):
    """Row asserts and functional-dependency pairs are suite specs like
    any CheckSpec: counters on the one cube, rows on the one tagged
    scan."""
    from anomalydetector_spark.operators.asserts import RowAssert

    df = spark.createDataFrame(
        [("u1", "a.com", 1.0), ("u1", "b.com", -1.0), ("u2", "a.com", 2.0)],
        "url string, domain string, v double",
    )
    res = S.run_suite(
        df,
        [RowAssert("pos", "v > 0"), ("url", "domain"), S.not_null("v")],
        persist_scans=False,
    )
    v = {r.check_name: r.violation_count for r in res.verdicts.collect()}
    assert v == {"assert_pos": 1, "fd_url_domain": 1, "not_null_v": 0}
    rows = sorted(
        (r.check_name, r.url) for r in res.violations.collect()
    )
    assert rows == [
        ("assert_pos", None),
        ("fd_url_domain", "u1"),
        ("fd_url_domain", "u1"),
    ]
