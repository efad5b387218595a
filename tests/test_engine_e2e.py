"""End-to-end engine test over the synthetic pages table: the injected
violation regimes (FIXTURES.md F3) must surface as exactly the right
verdicts, and the drift check must flag exactly the injected windows."""

import datetime

import pyspark.sql.functions as F
import pytest

from anomalydetector_spark import datagen
from anomalydetector_spark.engine import ValidationConfig, run_validation
from drift_oracle import drift_series


def _win_start(widx: int) -> datetime.datetime:
    return datetime.datetime(2025, 1, 1) + datetime.timedelta(days=widx)


@pytest.fixture(scope="module")
def oracle(pages):
    """The DuckDB drift series of the shared pages table (one global
    partition, the default languages)."""
    return drift_series(
        pages.select("warc_ts", "text", "lang", "url").toPandas(),
        ValidationConfig().langs,
    )


def _global(series: dict) -> dict:
    """``{window_start: value}`` of the global partition's series."""
    return {w: v for (part, w), v in series.items() if part == "global"}


def test_run_validation_end_to_end(spark, pages):
    domains = datagen.domains_dim(spark)
    res = run_validation(pages, domains, ValidationConfig())

    verdicts = {r.check_name: r for r in res.verdicts.collect()}
    assert verdicts["column_presence"].passed
    assert verdicts["min_row_count"].passed
    assert verdicts["not_null_warc_ts"].passed
    assert not verdicts["unique_url"].passed  # dup burst injected
    assert verdicts["unique_url"].violation_count > 0
    assert not verdicts["ref_domain"].passed  # dangling domains injected

    # violation rows exist for each failing row-addressable check
    by_check = dict(
        res.violations.groupBy("check_name").count().collect()
    )
    assert by_check.get("unique_url", 0) > 0
    assert by_check.get("ref_domain", 0) > 0
    assert "not_null_warc_ts" not in by_check

    dv = {r.stat_name: r for r in res.drift_verdicts.collect()}
    truth = datagen.truth()
    # every injected drift regime flagged, in the injected window
    flagged = {
        r.stat_name: r.last_anomalous_window
        for r in res.drift_verdicts.filter("verdict = 'fail'").collect()
    }
    assert flagged["null_rate"] == _win_start(truth["null_window"])
    assert flagged["len_p50"] == _win_start(truth["len_window"])
    assert flagged["len_p95"] == _win_start(truth["len_window"])
    assert flagged["lang_frac_zh"] == _win_start(truth["lang_window"])
    assert flagged["lang_frac_en"] == _win_start(truth["lang_window"])
    assert flagged["distinct_url"] == _win_start(truth["dup_window"])
    # stable stats stay clean
    assert dv["doc_count"].verdict == "pass"
    assert dv["lang_frac_de"].verdict == "pass"


def test_functional_dependency_in_engine(spark):
    """cfg.functional_deps surfaces as a per-partition verdict AND as
    row-level violations/quarantine tags on the shared extraction scan."""
    pages = datagen.generate_pages(spark, n_rows=2_000, seed=11)
    # re-emit 3 rows with a different lang → each url now maps to 2 langs
    poisoned = pages.unionByName(
        pages.orderBy("url").limit(3).withColumn("lang", F.lit("xx"))
    )
    cfg = ValidationConfig(functional_deps=(("url", "lang"),))
    res = run_validation(poisoned, datagen.domains_dim(spark), cfg)

    fd = res.verdicts.filter("check_name = 'fd_url_lang'").collect()
    assert fd and not all(r.passed for r in fd)
    assert sum(r.violation_count for r in fd) == 3  # violating KEYS

    v = res.violations.filter("check_name = 'fd_url_lang'")
    urls = [r.url for r in v.select("url").distinct().collect()]
    assert len(urls) == 3
    assert v.count() >= 6  # every row of a violating key is tagged

    tagged = res.row_status.filter(
        F.array_contains("violated_checks", "fd_url_lang")
    )
    assert tagged.count() == v.count()
    res.unpersist()

    # clean config on clean data: FD on (url, text) passes everywhere
    # (byte-identical text per url is the datagen invariant), and a
    # COMPOSITE pair rides the same engine path — (url, domain) → html
    # also holds by construction
    ok = run_validation(
        pages,
        None,
        ValidationConfig(
            functional_deps=(("url", "text"), (("url", "domain"), "html"))
        ),
    )
    fd_ok = ok.verdicts.filter(
        "check_name IN ('fd_url_text', 'fd_url+domain_html')"
    ).collect()
    assert {r.check_name for r in fd_ok} == {
        "fd_url_text", "fd_url+domain_html"
    }
    assert all(r.passed for r in fd_ok)
    ok.unpersist()


def test_text_byte_identity_per_url(pages):
    """north-star invariant: extracted text is byte-identical per url —
    duplicate-url rows must agree on text and html."""
    diff = (
        pages.filter(F.col("text").isNotNull())
        .groupBy("url")
        .agg(
            F.countDistinct("text").alias("nt"),
            F.countDistinct(F.sha2(F.col("html"), 256)).alias("nh"),
        )
        .filter((F.col("nt") > 1) | (F.col("nh") > 1))
        .count()
    )
    assert diff == 0


def test_text_is_tag_strip_of_html(pages):
    """text == regexp tag-strip of html for every non-null-text row."""
    bad = (
        pages.filter(F.col("text").isNotNull())
        .withColumn(
            "stripped",
            F.regexp_replace(F.decode(F.col("html"), "UTF-8"), "<[^>]+>", ""),
        )
        .filter(F.col("stripped") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_hot_domain_skew_present(pages):
    """fixture sanity: the hot domain really is ≥20% of rows (skew knob)."""
    total = pages.count()
    hot = pages.filter(F.col("domain") == datagen.HOT_DOMAIN).count()
    assert hot / total >= 0.2


def test_datagen_deterministic(spark):
    a = datagen.generate_pages(spark, 2000)
    b = datagen.generate_pages(spark, 2000)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_null_timestamps_counted_not_dropped(spark):
    """Regression: F.window() would silently filter null-ts rows out of
    the fused scans (Spark's TimeWindowing adds IsNotNull); the engine
    must count them in rows_scanned, fail the not-null verdict, and emit
    their violation rows."""
    pages = datagen.generate_pages(spark, 5000)
    pages = pages.withColumn(
        "warc_ts",
        F.when(F.xxhash64("url") % 20 == 0, None).otherwise(F.col("warc_ts")),
    ).cache()
    n_total = pages.count()
    n_null = pages.filter(F.col("warc_ts").isNull()).count()
    assert n_null > 0

    res = run_validation(pages, None, ValidationConfig())
    v = {r.check_name: r for r in res.verdicts.collect()}
    assert v["not_null_warc_ts"].rows_scanned == n_total
    assert not v["not_null_warc_ts"].passed
    assert v["not_null_warc_ts"].violation_count == n_null
    assert v["min_row_count"].rows_scanned == n_total

    viol = (
        res.violations.filter("check_name = 'not_null_warc_ts'").count()
    )
    assert viol == n_null
    res.unpersist()
    pages.unpersist()


def test_violation_row_recall_exact(spark):
    """North metric: violation-ROW recall (and precision) vs independently
    derived ground truth must be exactly 1.0 for both row-addressable
    checks (tools/violation_recall.py is the full-size scorer)."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from violation_recall import score

    checks = score(spark, n_rows=30_000)
    for name, m in checks.items():
        assert m["recall"] == 1.0, (name, m)
        assert m["precision"] == 1.0, (name, m)
        assert m["truth_rows"] > 0, name


def test_empty_input_fails_min_rows(spark):
    """Reference contract: empty input must fail with NOT_ENOUGH_POINTS
    (invoker.py:43-44) — the verdict must exist even though no partition
    rows exist to roll up."""
    from anomalydetector_spark.operators import errors as E

    df = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    res = run_validation(df, config=ValidationConfig())
    v = {r.check_name: r for r in res.verdicts.collect()}
    assert v["min_row_count"].passed is False
    assert v["min_row_count"].error_message == E.NOT_ENOUGH_POINTS.format(12)
    assert v["min_row_count"].rows_scanned == 0
    res.unpersist()


def test_drift_margin_mode_spark(spark):
    """score_drift with with_margin=True: margin columns present and
    boundaries bracket the expected value wherever scored."""
    import pandas as pd
    import numpy as np
    from anomalydetector_spark.drift import score_drift
    from anomalydetector_spark.kernel.sr import SrParams

    n = 60
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "partition_key": "global",
            "stat_name": "doc_count",
            "window_start": pd.date_range("2025-01-01", periods=n, freq="D"),
            "value": np.abs(rng.normal(100, 5, n)),
        }
    )
    scored = score_drift(
        spark.createDataFrame(pdf), SrParams(with_margin=True)
    ).toPandas()
    assert len(scored) == n
    for c in ("expected_value", "unit", "lower_boundary", "upper_boundary"):
        assert c in scored.columns
        assert scored[c].notna().all()
    assert (scored["lower_boundary"] <= scored["upper_boundary"]).all()
    assert (scored["unit"] >= 1.0).all()  # reference clips units to >= 1


def test_drift_verdicts_spike_and_too_short_series(spark):
    """score_drift + drift_verdicts: a spiked series fails, and a series
    too short to score keeps a null is_anomaly and a null max_score."""
    import numpy as np
    import pandas as pd
    from anomalydetector_spark.drift import drift_verdicts, score_drift

    # 40 hourly windows with one spike and a 3-window hole after it
    base = pd.Timestamp("2025-01-01")
    idx = [i for i in range(40) if i not in (21, 22, 23)]
    vals = [10.0] * 40
    vals[20] = 500.0
    rows = pd.DataFrame(
        {
            "partition_key": "p0",
            "stat_name": "null_rate",
            "window_start": [base + pd.Timedelta(hours=i) for i in idx],
            "value": [vals[i] for i in idx],
        }
    )
    # plus a too-short series whose is_anomaly must stay null
    short = pd.DataFrame(
        {
            "partition_key": "p1",
            "stat_name": "null_rate",
            "window_start": [base + pd.Timedelta(hours=i) for i in range(5)],
            "value": [1.0] * 5,
        }
    )
    scored = score_drift(spark.createDataFrame(pd.concat([rows, short])))
    p1 = scored.toPandas().query("partition_key == 'p1'")
    assert p1["is_anomaly"].isna().all()

    v = drift_verdicts(scored).toPandas()
    assert (
        v[v["partition_key"] == "p0"]["verdict"].iloc[0] == "fail"
    )
    # the too-short series' verdict row must not surface NaN max_score
    # (NaN sorts above every double in Spark, so it would win any max)
    p1v = v[v["partition_key"] == "p1"]
    assert p1v["verdict"].iloc[0] == "error:not_enough_points"
    assert p1v["max_score"].isna().all()
    # and the verdict over ALL series must never carry NaN — only real
    # scores or true nulls
    finite = v["max_score"].dropna().to_numpy()
    assert np.isfinite(finite).all()


def test_shape_drift_series_and_verdict(spark, pages, oracle):
    """The engine's cube-derived lang_js_divergence series equals the
    DuckDB oracle over the raw rows, and SR flags the injected
    lang-shift window (or its revert — the distribution also jumps
    back)."""
    res = run_validation(pages, None, ValidationConfig())
    got = {
        r.window_start: r.value
        for r in res.stat_series.filter(
            "stat_name = 'lang_js_divergence'"
        ).collect()
    }
    assert got, "shape-drift series missing"

    exp = _global(oracle["lang_js_divergence"])
    assert set(got) == set(exp)
    for w, v in exp.items():
        assert abs(got[w] - v) < 1e-12, (w, got[w], v)

    truth = datagen.truth()
    dv = {r.stat_name: r for r in res.drift_verdicts.collect()}
    shape = dv["lang_js_divergence"]
    assert shape.verdict == "fail"
    assert shape.last_anomalous_window in (
        _win_start(truth["lang_window"]),
        _win_start(truth["lang_window"] + 1),
    )

    # opt-out removes the series entirely
    res_off = run_validation(
        pages, None, ValidationConfig(shape_drift=False)
    )
    assert (
        res_off.stat_series.filter(
            "stat_name = 'lang_js_divergence'"
        ).count()
        == 0
    )
    res.unpersist()
    res_off.unpersist()


def test_length_histogram_drift_series_and_verdict(spark, pages, oracle):
    """The cube-derived len_hist_emd series equals the DuckDB oracle
    over the raw rows (same log2 binning, exact integer arithmetic),
    and SR flags the injected length-shift window (or its revert)."""
    res = run_validation(pages, None, ValidationConfig())
    got = {
        r.window_start: r.value
        for r in res.stat_series.filter(
            "stat_name = 'len_hist_emd'"
        ).collect()
    }
    assert got, "length-drift series missing"

    exp = _global(oracle["len_hist_emd"])
    assert set(got) == set(exp)
    for w, v in exp.items():
        assert got[w] == v, (w, got[w], v)  # exact integer arithmetic

    truth = datagen.truth()
    dv = {r.stat_name: r for r in res.drift_verdicts.collect()}
    lh = dv["len_hist_emd"]
    assert lh.verdict == "fail"
    assert lh.last_anomalous_window in (
        _win_start(truth["len_window"]),
        _win_start(truth["len_window"] + 1),
    )
    res.unpersist()


def test_length_histogram_psi_series_and_verdict(spark, pages, oracle):
    """The cube-derived len_hist_psi series equals the DuckDB oracle's
    PSI over the raw rows (same log2 binning), and SR flags the
    injected length-shift window (or its revert) through the PSI lens
    too."""
    res = run_validation(pages, None, ValidationConfig())
    got = {
        r.window_start: r.value
        for r in res.stat_series.filter(
            "stat_name = 'len_hist_psi'"
        ).collect()
    }
    assert got, "length-psi series missing"

    exp = _global(oracle["len_hist_psi"])
    assert set(got) == set(exp)
    for w, v in exp.items():
        assert got[w] == v, (w, got[w], v)

    truth = datagen.truth()
    dv = {r.stat_name: r for r in res.drift_verdicts.collect()}
    lh = dv["len_hist_psi"]
    assert lh.verdict == "fail"
    assert lh.last_anomalous_window in (
        _win_start(truth["len_window"]),
        _win_start(truth["len_window"] + 1),
    )
    res.unpersist()


def test_cusum_second_opinion_and_attribution(spark, pages):
    """cfg.cusum rides the persisted stat series: the injected
    null-rate burst alarms the positive CUSUM walk at its window, and
    cfg.attribution_top_n explains the SR-flagged lang-shape window
    with the exact injected movers (zh up, en down)."""
    res = run_validation(
        pages,
        None,
        ValidationConfig(cusum=(0.25, 2.0), attribution_top_n=2),
    )
    truth = datagen.truth()

    assert res.cusum_scored is not None and res.cusum_verdicts is not None
    cv = {
        (r.partition_key, r.stat_name): r
        for r in res.cusum_verdicts.collect()
    }
    nr = cv[("global", "null_rate")]
    assert nr.n_alarms > 0
    assert nr.first_alarm == _win_start(truth["null_window"])
    # the walk itself: alarm_pos fires exactly at the burst window
    burst = [
        r
        for r in res.cusum_scored.filter(
            "stat_name = 'null_rate' AND alarm_pos"
        ).collect()
    ]
    assert any(r.window_start == _win_start(truth["null_window"]) for r in burst)

    att = res.drift_attribution
    assert att is not None
    rows = att.collect()
    assert rows, "no attribution rows for the flagged lang window"
    # every attributed window was SR-flagged for lang_js_divergence
    flagged = {
        r.window_start
        for r in res.drift_scored.filter(
            "stat_name = 'lang_js_divergence' AND is_anomaly"
        ).collect()
    }
    assert {r.window_start for r in rows} <= flagged
    # at the injected shift window the movers are zh (up) and en (down)
    at_shift = {
        r.cat: r
        for r in rows
        if r.window_start == _win_start(truth["lang_window"])
    }
    if at_shift:  # SR may flag shift and/or revert; check when present
        assert set(at_shift) == {"zh", "en"}
        assert at_shift["zh"].direction == "up"
        assert at_shift["en"].direction == "down"
    # ... and the revert window (if flagged) shows the same pair with
    # mirrored directions
    at_revert = {
        r.cat: r
        for r in rows
        if r.window_start == _win_start(truth["lang_window"] + 1)
    }
    if at_revert:
        assert set(at_revert) == {"zh", "en"}
        assert at_revert["zh"].direction == "down"
        assert at_revert["en"].direction == "up"
    assert at_shift or at_revert

    # default config: both off, result fields None
    res_off = run_validation(pages, None, ValidationConfig())
    assert res_off.cusum_scored is None
    assert res_off.drift_attribution is None


def test_ewma_chart_in_engine(spark, pages):
    """cfg.ewma rides the persisted stat series: chart rows exist for
    every scored stat, and the injected null-rate burst pushes the
    chart outside its limits at that window."""
    res = run_validation(pages, None, ValidationConfig(ewma=(0.25, 3.0)))
    assert res.ewma_scored is not None
    truth = datagen.truth()
    nr = {
        r.window_start: r
        for r in res.ewma_scored.filter(
            "stat_name = 'null_rate' AND partition_key = 'global'"
        ).collect()
    }
    assert nr, "no EWMA rows for null_rate"
    burst = nr[_win_start(truth["null_window"])]
    assert burst.alarm and burst.ewma > burst.ucl
    res_off = run_validation(pages, None, ValidationConfig())
    assert res_off.ewma_scored is None



def test_lens_consensus(spark, pages):
    """With all three lenses on, the injected null-rate burst reaches
    consensus (>= 2 lenses) at its exact window; quiet series stay at
    n_fired == 0 consensus-free."""
    res = run_validation(
        pages,
        None,
        ValidationConfig(cusum=(0.25, 2.0), ewma=(0.25, 3.0)),
    )
    assert res.lens_consensus is not None
    truth = datagen.truth()
    nr = {
        r.window_start: r
        for r in res.lens_consensus.filter(
            "stat_name = 'null_rate' AND partition_key = 'global'"
        ).collect()
    }
    burst = nr[_win_start(truth["null_window"])]
    assert burst.consensus and burst.n_fired >= 2
    assert burst.sr_anomaly or burst.cusum_alarm or burst.ewma_alarm
    # every SR-scored window appears exactly once
    n_sr = res.drift_scored.count()
    assert res.lens_consensus.count() == n_sr
    # a lens-off run has no consensus frame but SR-only runs fine
    res_sr = run_validation(pages, None, ValidationConfig())
    assert res_sr.lens_consensus is None


def test_cusum_frozen_reference_period(spark, pages):
    """cusum_reference_before freezes mu/sigma from the in-control
    prefix: the injected null-rate burst (far outside the frozen
    sigma) alarms MUCH harder than under full-series standardization,
    where the burst inflates its own sigma."""
    truth = datagen.truth()
    cutoff = _win_start(truth["lang_window"] - 2).isoformat()
    res = run_validation(
        pages,
        None,
        ValidationConfig(
            cusum=(0.25, 2.0), cusum_reference_before=cutoff
        ),
    )
    zh = {
        r.window_start: r
        for r in res.cusum_scored.filter(
            "stat_name = 'lang_frac_zh' AND partition_key = 'global'"
        ).collect()
    }
    burst = zh[_win_start(truth["lang_window"])]
    assert burst.alarm_pos
    res_full = run_validation(
        pages, None, ValidationConfig(cusum=(0.25, 2.0))
    )
    full = {
        r.window_start: r
        for r in res_full.cusum_scored.filter(
            "stat_name = 'lang_frac_zh' AND partition_key = 'global'"
        ).collect()
    }
    # the frozen-reference z at the shift dwarfs the self-contaminated
    # full-series z (the shift inflates its own sigma)
    assert burst.z > full[_win_start(truth["lang_window"])].z


def test_null_partition_keeps_its_unique_and_fd_counts(spark):
    """A NULL partition_key is a partition like any other: its uniqueness
    and functional-dependency verdicts count its own duplicate rows and
    violating keys, matching the violation rows tagged for it."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (f"https://x/{i}", t0 + dt.timedelta(hours=i), None, "t" * (i + 1),
         "en", "a.org")
        for i in range(14)
    ] + [
        ("https://dup/", t0, None, "dup text", "en", None),
        ("https://dup/", t0 + dt.timedelta(days=1), None, "dup text", "de", None),
        ("https://solo/", t0, None, "solo", "en", None),
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, domain string",
    )
    res = run_validation(
        pages,
        config=ValidationConfig(
            partition_by="domain", functional_deps=(("url", "lang"),)
        ),
    )
    v = {
        (r.partition_key, r.check_name): r
        for r in res.verdicts.collect()
    }
    viol = sorted(
        (r.partition_key, r.check_name, r.url)
        for r in res.violations.collect()
    )
    res.unpersist()
    assert v[(None, "min_row_count")].rows_scanned == 3
    uniq = v[(None, "unique_url")]
    assert (uniq.passed, uniq.violation_count) == (False, 2)
    fd = v[(None, "fd_url_lang")]
    assert (fd.passed, fd.violation_count) == (False, 1)
    assert v[("a.org", "unique_url")].violation_count == 0
    assert v[("a.org", "fd_url_lang")].violation_count == 0
    assert viol == [
        (None, "fd_url_lang", "https://dup/"),
        (None, "fd_url_lang", "https://dup/"),
        (None, "unique_url", "https://dup/"),
        (None, "unique_url", "https://dup/"),
    ]


@pytest.mark.parametrize("partition_by", [None, "domain"])
def test_warm_run_job_counts(spark, partition_by):
    """The per-run fixed cost in Spark jobs: a warm run's verdicts action,
    its violation count and its drift outputs start at most these many
    jobs (each adaptive query stage and each broadcast is one job). The
    verdict path is one rollup over the cube and the profile's duplicate
    rows: no distinct in front of the dimension broadcast, no
    duplicate-key shuffle, no empty-input seed join. The drift pass
    groups one union of the cube slice and the per-window key counts:
    each side shuffles once."""
    from anomalydetector_spark.plans.audit import spark_jobs

    pages = datagen.generate_pages(spark, 3_000, seed=5)
    domains = datagen.domains_dim(spark)
    cfg = ValidationConfig(partition_by=partition_by)
    counts = []
    for _ in range(2):
        res = run_validation(pages, domains, cfg)
        _, verdict_jobs = spark_jobs(spark, lambda: res.verdicts.collect())
        _, viol_jobs = spark_jobs(
            spark,
            lambda: res.violations.groupBy("check_name", "partition_key")
            .count()
            .collect(),
        )
        _, drift_jobs = spark_jobs(
            spark,
            lambda: (res.drift_scored.count(), res.drift_verdicts.collect()),
        )
        res.unpersist()
        counts.append((verdict_jobs, viol_jobs, drift_jobs))
    want = {None: (8, 4, 6), "domain": (9, 4, 6)}[partition_by]
    assert all(n <= w for n, w in zip(counts[-1], want)), counts
