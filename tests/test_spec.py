"""Declarative check-suite specs: translation, validation, round-trip,
and the CLI surface."""

from __future__ import annotations

import json

import pytest

from anomalydetector_spark.engine import ValidationConfig
from anomalydetector_spark.plans.spec import (
    config_from_dict,
    load_suite,
    suite_to_dict,
)


def test_full_spec_translates():
    cfg = config_from_dict(
        {
            "window": "6 hours",
            "partition_by": "domain",
            "min_points": 20,
            "unique_key": "url",
            "langs": ["en", "de"],
            "verify_text_extraction": True,
            "shape_drift": False,
            "drift": {"threshold": 0.25, "sensitivity": 95.0,
                      "batch_size": 500, "with_margin": True},
        }
    )
    assert cfg.window_duration == "6 hours"
    assert cfg.partition_by == "domain"
    assert cfg.min_points == 20
    assert cfg.langs == ("en", "de")
    assert cfg.verify_text_extraction is True
    assert cfg.shape_drift is False
    assert cfg.sr.threshold == 0.25
    assert cfg.sr.batch_size == 500
    assert cfg.sr.with_margin is True


def test_empty_spec_is_all_defaults():
    assert config_from_dict({}) == ValidationConfig()


def test_unknown_field_rejected_loudly():
    with pytest.raises(ValueError, match="unknown suite field 'windw'"):
        config_from_dict({"windw": "1 day"})
    with pytest.raises(ValueError, match="unknown drift field"):
        config_from_dict({"drift": {"treshold": 0.3}})
    with pytest.raises(ValueError, match="must be a JSON object"):
        config_from_dict(["window"])


def test_drift_batch_size_is_validated(spark):
    """The SR kernel reads ``drift.batch_size``; a batch below the
    kernel's minimum is rejected before any job rather than silently
    clamped, and there is no second, top-level batch size."""
    from anomalydetector_spark import datagen
    from anomalydetector_spark.engine import run_validation
    from anomalydetector_spark.kernel.sr import MIN_POINTS
    from anomalydetector_spark.operators.errors import INVALID_BATCH_SIZE

    pages = datagen.generate_pages(spark, 200)
    with pytest.raises(ValueError) as err:
        run_validation(pages, None, config_from_dict({"drift": {"batch_size": 5}}))
    assert str(err.value) == INVALID_BATCH_SIZE.format(MIN_POINTS)
    with pytest.raises(ValueError, match="unknown suite field 'batch_size'"):
        config_from_dict({"batch_size": 0})


def test_round_trip():
    cfg = ValidationConfig(
        window_duration="2 hours", min_points=5, langs=("zh",)
    )
    assert config_from_dict(suite_to_dict(cfg)) == cfg


def test_functional_deps_translate_and_round_trip():
    cfg = config_from_dict(
        {"functional_deps": [["url", "lang"], ["domain", "tld"]]}
    )
    assert cfg.functional_deps == (("url", "lang"), ("domain", "tld"))
    # JSON round-trip: tuples freeze to lists and come back as tuples
    thawed = config_from_dict(json.loads(json.dumps(suite_to_dict(cfg))))
    assert thawed == cfg


def test_functional_deps_composite_sides():
    cfg = config_from_dict(
        {"functional_deps": [[["domain", "lang"], "text"],
                             ["url", ["lang", "text"]]]}
    )
    assert cfg.functional_deps == (
        (("domain", "lang"), "text"),
        ("url", ("lang", "text")),
    )
    thawed = config_from_dict(json.loads(json.dumps(suite_to_dict(cfg))))
    assert thawed == cfg


def test_functional_deps_bad_shapes_rejected():
    with pytest.raises(ValueError, match="must be a list"):
        config_from_dict({"functional_deps": "url->lang"})
    with pytest.raises(ValueError, match=r"\[0\] must be a"):
        config_from_dict({"functional_deps": [["url"]]})
    with pytest.raises(ValueError, match=r"\[1\] must be a"):
        config_from_dict({"functional_deps": [["a", "b"], ["a", 3]]})


def test_cli_validate_with_suite(spark, tmp_path, capsys):
    from anomalydetector_spark import cli, datagen

    pages = datagen.generate_pages(spark, 4000)
    src = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(src)
    suite = {
        "window": "1 day",
        "min_points": 2,
        "drift": {"threshold": 0.5},
    }
    spath = str(tmp_path / "suite.json")
    with open(spath, "w") as fh:
        json.dump(suite, fh)
    out = str(tmp_path / "out")
    cli.main([
        "validate", "--input-path", src, "--output-path", out,
        "--suite", spath,
    ])
    assert "validated " in capsys.readouterr().out
    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert verdicts.filter("check_name = 'min_row_count'").count() > 0


def test_cli_validate_quarantine_and_fd_suite(spark, tmp_path, capsys):
    """--quarantine writes the dead-letter split under rows/, and a suite
    file can declare functional_deps (full file → CLI → engine path)."""
    import os

    from anomalydetector_spark import cli, datagen

    pages = datagen.generate_pages(spark, 4000)
    src = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(src)
    suite = {
        "window": "1 day",
        "min_points": 2,
        "functional_deps": [["url", "text"]],
        "drift": {"threshold": 0.5},
    }
    spath = str(tmp_path / "suite.json")
    with open(spath, "w") as fh:
        json.dump(suite, fh)
    out = str(tmp_path / "out")
    cli.main([
        "validate", "--input-path", src, "--output-path", out,
        "--suite", spath, "--quarantine",
    ])
    capsys.readouterr()
    # FD verdict rows exist (url → text holds by datagen invariant)
    verdicts = spark.read.parquet(f"{out}/verdicts")
    fd = verdicts.filter("check_name = 'fd_url_text'")
    assert fd.count() > 0 and fd.filter("NOT passed").count() == 0
    # quarantine split: both status dirs, total rows == input rows
    subdirs = sorted(
        d for d in os.listdir(f"{out}/rows")
        if d.startswith("validation_status=")
    )
    assert subdirs == [
        "validation_status=clean", "validation_status=quarantined"
    ]
    assert spark.read.parquet(f"{out}/rows").count() == pages.count()


def test_cli_validate_violation_cap(spark, tmp_path, capsys):
    """--max-violations-per-check caps the violation SINK per
    (check, partition) while verdict counts stay exact."""
    from anomalydetector_spark import cli, datagen

    pages = datagen.generate_pages(spark, 4000)
    src = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    cli.main([
        "validate", "--input-path", src, "--output-path", out,
        "--max-violations-per-check", "5",
    ])
    capsys.readouterr()
    viol = spark.read.parquet(f"{out}/violations")
    per_group = viol.groupBy("check_name", "partition_key").count().collect()
    assert per_group and all(r["count"] <= 5 for r in per_group)
    # the dup burst yields far more than 5 duplicate urls — the exact
    # verdict count must exceed the capped sample
    verdicts = spark.read.parquet(f"{out}/verdicts")
    dup = verdicts.filter("check_name = 'unique_url'").first()
    assert dup.violation_count > 5
    assert viol.filter("check_name = 'unique_url'").count() == 5


def test_schema_types_check(spark):
    """Schema-evolution verdicts: missing column, wrong type, extras in
    locked mode — all named in the error message; matching schema passes."""
    from anomalydetector_spark.operators.checks import check_schema_types

    df = spark.createDataFrame(
        [("u", 1)], "url string, lang bigint"
    )
    ok = check_schema_types(df, {"url": "string", "lang": "bigint"}).verdicts.first()
    assert ok["passed"] is True and ok["error_message"] is None

    bad = check_schema_types(
        df, {"url": "string", "lang": "string", "text": "string"}
    ).verdicts.first()
    assert bad["passed"] is False and bad["violation_count"] == 2
    assert "lang: expected string, got bigint" in bad["error_message"]
    assert "text: missing" in bad["error_message"]

    locked = check_schema_types(
        df, {"url": "string"}, allow_extra=False
    ).verdicts.first()
    assert locked["passed"] is False
    assert "lang: unexpected column" in locked["error_message"]


def test_schema_in_suite_and_engine(spark, tmp_path):
    """'schema' in a suite spec reaches the engine: a type-drifted input
    fails the schema_types verdict while the rest of the run proceeds."""
    from anomalydetector_spark import datagen
    from anomalydetector_spark.engine import run_validation

    cfg = config_from_dict(
        {
            "min_points": 2,
            "schema": {"url": "string", "warc_ts": "timestamp",
                       "html": "binary", "text": "string",
                       "lang": "bigint"},  # wrong on purpose
        }
    )
    pages = datagen.generate_pages(spark, 2000)
    res = run_validation(pages, None, cfg)
    v = {r["check_name"]: r for r in res.verdicts.collect()}
    assert v["schema_types"]["passed"] is False
    assert "lang: expected bigint, got string" in v["schema_types"]["error_message"]
    assert v["min_row_count"]["passed"] is True  # run proceeded
    res.unpersist()


def test_freshness_and_json_schema_spec_validation():
    cfg = config_from_dict(
        {
            "freshness": [86400, "2025-03-01 00:00:00"],
            "json_schema": {"column": "text", "keys": {"k": "bigint"}},
        }
    )
    assert cfg.freshness == (86400, "2025-03-01 00:00:00")
    assert cfg.json_schema == {"column": "text", "keys": {"k": "bigint"}}
    # round-trip
    assert config_from_dict(suite_to_dict(cfg)) == cfg
    with pytest.raises(ValueError, match="freshness"):
        config_from_dict({"freshness": [86400]})
    with pytest.raises(ValueError, match="json_schema"):
        config_from_dict({"json_schema": {"column": "text"}})


def test_freshness_and_json_schema_in_engine(spark):
    """Both new checks reach the engine; json_schema violations ride the
    shared one-scan extraction and the quarantine split."""
    import pyspark.sql.functions as F

    from anomalydetector_spark import datagen
    from anomalydetector_spark.engine import run_validation

    pages = datagen.generate_pages(spark, 2000).withColumn(
        "props",
        F.when(
            F.col("url").endswith("0"), F.lit('{"k": "bad"}')
        ).otherwise(F.lit('{"k": 7}')),
    )
    cfg = config_from_dict(
        {
            "min_points": 2,
            # generate_pages spans 48 windows from 2025-01-01 — a
            # reference far in the future makes every partition stale
            "freshness": [3600, "2025-06-01 00:00:00"],
            "json_schema": {"column": "props", "keys": {"k": "bigint"}},
        }
    )
    res = run_validation(pages, None, cfg)
    v = {r["check_name"]: r for r in res.verdicts.collect()}
    assert v["freshness_warc_ts"]["passed"] is False
    assert "stale" in v["freshness_warc_ts"]["error_message"]
    assert v["json_schema_props"]["passed"] is False
    assert v["json_schema_props"]["violation_count"] > 0
    # violations rode the shared scan
    tagged = (
        res.violations.filter(F.col("check_name") == "json_schema_props")
        .select("url")
        .collect()
    )
    assert len(tagged) == v["json_schema_props"]["violation_count"]
    assert all(r.url.endswith("0") for r in tagged)
    # quarantine split sees the same rows
    q = res.row_status.filter(
        F.array_contains("violated_checks", "json_schema_props")
    ).count()
    assert q == len(tagged)
    res.unpersist()


def test_cusum_and_attribution_spec_round_trip():
    import pytest

    cfg = config_from_dict(
        {"cusum": [0.25, 2.0], "attribution_top_n": 3}
    )
    assert cfg.cusum == (0.25, 2.0)
    assert cfg.attribution_top_n == 3
    d = suite_to_dict(cfg)
    assert d["cusum"] == [0.25, 2.0]
    assert config_from_dict(d) == cfg
    with pytest.raises(ValueError, match="cusum"):
        config_from_dict({"cusum": [1.0]})
    with pytest.raises(ValueError, match="cusum"):
        config_from_dict({"cusum": "0.25,2"})
    with pytest.raises(ValueError, match="attribution_top_n"):
        config_from_dict({"attribution_top_n": -1})


def test_ewma_spec_round_trip():
    import pytest

    cfg = config_from_dict({"ewma": [0.25, 3.0]})
    assert cfg.ewma == (0.25, 3.0)
    d = suite_to_dict(cfg)
    assert d["ewma"] == [0.25, 3.0]
    assert config_from_dict(d) == cfg
    with pytest.raises(ValueError, match="ewma"):
        config_from_dict({"ewma": [0.25]})


def test_cusum_reference_before_round_trip():
    cfg = config_from_dict(
        {"cusum": [0.25, 2.0], "cusum_reference_before": "2025-02-01"}
    )
    assert cfg.cusum_reference_before == "2025-02-01"
    assert config_from_dict(suite_to_dict(cfg)) == cfg
