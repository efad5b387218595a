"""The engine's drift tail is ONE grouped pandas pass per partition
(drift.fused_drift): every stat series derived from the persisted cube
and profile, then SR-scored. Its values must equal a DuckDB oracle over
the raw rows (tests/drift_oracle.py) — exactly, except 1e-12 for JS
divergence — over the cases the old Catalyst tail handled implicitly
(gaps, null timestamps and text, languages outside ``cfg.langs``,
partitions too short to score, margin mode); its plan must stay one grouped pandas node with no Window or
sort-merge join; and the verdict path must run no Python at all."""

import datetime

import pytest
from pyspark.sql import functions as F

from anomalydetector_spark import datagen
from anomalydetector_spark import manifest as M
from anomalydetector_spark.drift import DRIFT_MARGIN_SCHEMA
from anomalydetector_spark.engine import ValidationConfig, run_validation
from anomalydetector_spark.kernel.sr import MIN_POINTS, SrParams
from anomalydetector_spark.plans.audit import (
    GROUPED_PANDAS_NODES,
    plan_node_names,
    python_or_rdd_nodes,
)
from drift_oracle import drift_series

T0 = datetime.datetime(2025, 3, 1)
EPOCH0 = int((T0 - datetime.datetime(1970, 1, 1)).total_seconds())
LANGS = ("en", "de", "fr")
# partition "long": windows 0..14 with window 5 missing (a gap);
# partition "short": 4 windows, below MIN_POINTS for every series
LONG_WINDOWS = [w for w in range(15) if w != 5]
SHORT_WINDOWS = [0, 1, 2, 3]
ROWS_PER_WINDOW = 120


def _pages(spark):
    """Deterministic pages with null warc_ts, null text, null lang and a
    language outside ``LANGS`` ('xx'), lengths and lang mix drifting by
    window."""
    windows = [("long", w) for w in LONG_WINDOWS] + [
        ("short", w) for w in SHORT_WINDOWS
    ]
    slots = spark.createDataFrame(windows, "part string, w int")
    i = F.col("id")
    w = F.col("w")
    langs = F.array(*[F.lit(x) for x in ("en", "de", "fr", "xx", "en")])
    return (
        slots.crossJoin(spark.range(ROWS_PER_WINDOW))
        .select(
            "part",
            F.concat_ws("-", "part", w.cast("string"), i.cast("string")).alias(
                "url"
            ),
            F.when(i % 17 == 3, F.lit(None).cast("timestamp"))
            .otherwise(F.timestamp_seconds(F.lit(EPOCH0) + w * 86400 + i * 60))
            .alias("warc_ts"),
            F.lit(b"<p></p>").cast("binary").alias("html"),
            F.when(i % 13 == 5, F.lit(None).cast("string"))
            .otherwise(F.repeat(F.lit("x"), (i * 7 + w * w) % (40 + 9 * w)))
            .alias("text"),
            F.when(i % 19 == 7, F.lit(None).cast("string"))
            .otherwise(F.element_at(langs, ((i + w) % 5 + 1).cast("int")))
            .alias("lang"),
        )
    )


def _series(res, stat):
    return {
        (r.partition_key, r.window_start): r.value
        for r in res.stat_series.filter(F.col("stat_name") == stat).collect()
    }


@pytest.fixture(scope="module")
def fused_case(spark):
    pages = _pages(spark).cache()
    pages.count()
    res = run_validation(
        pages,
        None,
        ValidationConfig(
            partition_by="part", langs=LANGS, sr=SrParams(with_margin=True)
        ),
    )
    yield pages, res
    res.unpersist()
    pages.unpersist()


@pytest.fixture(scope="module")
def oracle(fused_case):
    pages, _ = fused_case
    return drift_series(
        pages.select("part", "warc_ts", "text", "lang", "url").toPandas(),
        LANGS,
        part_col="part",
    )


def test_scalar_series_match_window_stats(fused_case, oracle):
    _, res = fused_case
    stats = ["doc_count", "null_rate", "len_p50", "len_p95", "distinct_url"]
    for stat in stats + [f"lang_frac_{x}" for x in LANGS]:
        assert _series(res, stat) == oracle[stat], stat
    windows = set(_series(res, "doc_count"))
    assert len(windows) == len(LONG_WINDOWS) + len(SHORT_WINDOWS)


def test_shape_series_match_divergence_operators(fused_case, oracle):
    _, res = fused_case
    js_want = oracle["lang_js_divergence"]
    js_got = _series(res, "lang_js_divergence")
    assert set(js_got) == set(js_want)
    for k, v in js_want.items():
        assert abs(js_got[k] - v) <= 1e-12, (k, js_got[k], v)

    assert _series(res, "len_hist_emd") == oracle["len_hist_emd"]
    assert _series(res, "len_hist_psi") == oracle["len_hist_psi"]

    # pairs only with the window exactly one day earlier: the first
    # window and the one after the gap carry no shape value
    day = datetime.timedelta(days=1)
    paired = {
        T0 + w * day for w in LONG_WINDOWS if w > 0 and w - 1 in LONG_WINDOWS
    }
    for stat in ("lang_js_divergence", "len_hist_emd", "len_hist_psi"):
        got = {w for p, w in _series(res, stat) if p == "long"}
        assert got == paired, stat
    assert len(paired) == MIN_POINTS


def test_pairs_step_in_epoch_time_across_dst(spark, fused_case):
    """Window pairs are exact ``window_duration`` steps in epoch time: a
    session time zone whose clocks jump inside the data (US DST starts
    2025-03-09, between two daily windows) yields the UTC run's series,
    although pandas sees those window starts 25 wall-clock hours apart."""
    pages, res = fused_case

    def by_epoch(r):
        return {
            (x.partition_key, x.stat_name, x.t): x.value
            for x in r.stat_series.select(
                "partition_key",
                "stat_name",
                F.unix_micros("window_start").alias("t"),
                "value",
            ).collect()
        }

    want = by_epoch(res)
    key = "spark.sql.session.timeZone"
    tz = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        local = run_validation(
            pages, None, ValidationConfig(partition_by="part", langs=LANGS)
        )
        got = by_epoch(local)
        local.unpersist()
    finally:
        spark.conf.set(key, tz)
    assert got == want


def test_timestamp_ntz_input_gives_the_same_series(fused_case):
    """A ``timestamp_ntz`` warc_ts keeps its type through the cube's
    window starts; the drift pass still pairs windows in epoch time and
    yields the TIMESTAMP run's series."""
    pages, res = fused_case

    def rows(r):
        return sorted(map(tuple, r.stat_series.collect()))

    ntz = run_validation(
        pages.withColumn("warc_ts", F.col("warc_ts").cast("timestamp_ntz")),
        None,
        ValidationConfig(partition_by="part", langs=LANGS),
    )
    try:
        assert rows(ntz) == rows(res)
    finally:
        ntz.unpersist()


def test_short_partition_unscored_and_margin_schema(fused_case):
    _, res = fused_case
    want_cols = [f.split()[0] for f in DRIFT_MARGIN_SCHEMA.split(", ")]
    assert res.drift_scored.columns == want_cols
    assert res.stat_series.columns == [
        "partition_key", "stat_name", "window_start", "value"
    ]
    assert res.stat_series.count() == res.drift_scored.count()

    short = res.drift_scored.filter("partition_key = 'short'").collect()
    assert short and all(
        r.score is None and r.is_anomaly is None and r.upper_boundary is None
        for r in short
    )
    scored = res.drift_scored.filter(
        "partition_key = 'long' AND stat_name = 'doc_count'"
    ).collect()
    assert len(scored) == len(LONG_WINDOWS)
    assert all(
        r.score is not None and r.lower_boundary <= r.upper_boundary
        for r in scored
    )
    verdicts = {
        (r.partition_key, r.stat_name): r.verdict
        for r in res.drift_verdicts.collect()
    }
    assert {v for (p, _), v in verdicts.items() if p == "short"} == {
        "error:not_enough_points"
    }
    assert "error:not_enough_points" not in {
        v for (p, _), v in verdicts.items() if p == "long"
    }


def test_drift_plan_is_one_grouped_pandas_pass(fused_case):
    """Series derivation must stay inside the one grouped pandas node: a
    later edit moving it back into Catalyst brings Window nodes (running
    sums, window-pair alignment) or sort-merge joins back."""
    _, res = fused_case
    nodes = plan_node_names(res.drift_scored, cached_inputs=False)
    assert sum(n in GROUPED_PANDAS_NODES for n in nodes) == 1, nodes
    assert not [n for n in nodes if n.startswith("Window")], nodes
    assert "SortMergeJoinExec" not in nodes, nodes


def test_verdict_path_runs_no_python(spark, tmp_path):
    """Verdicts, violations and manifest rows are JVM-only plans: no
    Python-worker node and no driver-side RDD (a ``createDataFrame``
    list literal) anywhere, cached inputs included."""
    path = str(tmp_path / "pages")
    datagen.generate_pages(spark, 3_000).write.parquet(path)
    pages = spark.read.parquet(path)
    res = run_validation(
        pages,
        datagen.domains_dim(spark),
        ValidationConfig(expected_schema={"url": "string"}),
    )
    res.verdicts.collect()  # fill the caches the plans below read
    for df in (
        res.verdicts,
        res.violations,
        M.verdicts_to_manifest_rows(res.verdicts, "snap"),
    ):
        assert python_or_rdd_nodes(df) == []
    empty = M.read_manifest(spark, str(tmp_path / "no_manifest"))
    assert python_or_rdd_nodes(empty) == []
    assert empty.dtypes == [
        tuple(c.split(" ")) for c in M.MANIFEST_SCHEMA.split(", ")
    ]
    res.unpersist()
