"""check-table CLI: the generic-table declarative suite driven from a
reviewed JSON file end-to-end — loader validation, verdicts/violations
on disk, CI exit-code gate, referential dim_path resolution."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

from anomalydetector_spark.plans.suite import specs_from_json

REPO = Path(__file__).resolve().parents[1]


def test_specs_from_json_validation():
    specs = specs_from_json(
        [
            {"kind": "not_null", "column": "id"},
            {"kind": "pattern", "column": "code", "allowed": ["A9+"],
             "collapsed": True},
            {"kind": "bounds", "column": "v", "lower": 0, "upper": 10},
            {"kind": "benford", "column": "amount", "max_mad": 0.02},
        ]
    )
    assert [s.kind for s in specs] == [
        "not_null", "pattern", "bounds", "benford",
    ]
    assert specs[1].allowed == ("A9+",)
    with pytest.raises(ValueError, match="unknown field"):
        specs_from_json([{"kind": "not_null", "colmn": "id"}])
    with pytest.raises(ValueError, match="'kind'"):
        specs_from_json([{"column": "id"}])
    with pytest.raises(ValueError, match="dim_path"):
        specs_from_json([{"kind": "referential", "column": "k"}])
    with pytest.raises(ValueError, match="JSON array"):
        specs_from_json({"kind": "not_null"})


def test_check_table_cli_end_to_end(spark, tmp_path):
    root = str(tmp_path)
    rows = [("A", f"X{i:03d}", float(i % 50) + 1) for i in range(200)] + [
        ("B", "bad id", None),
        ("B", "X999", 3.0),
    ]
    spark.createDataFrame(
        rows, "grp string, code string, v double"
    ).write.parquet(f"{root}/t")
    spark.createDataFrame(
        [("A",), ("B",)], "grp string"
    ).write.parquet(f"{root}/dims")
    checks = [
        {"kind": "not_null", "column": "v"},
        {"kind": "pattern", "column": "code", "allowed": ["A9+"]},
        {"kind": "referential", "column": "grp", "dim_path": "dims",
         "dim_column": "grp"},
    ]
    with open(f"{root}/checks.json", "w") as fh:
        json.dump(checks, fh)

    proc = subprocess.run(
        [
            sys.executable, "-m", "anomalydetector_spark.cli",
            "check-table",
            "--input-path", f"{root}/t",
            "--output-path", f"{root}/out",
            "--checks", f"{root}/checks.json",
            "--partition-by", "grp",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert proc.returncode == 3, proc.stdout + proc.stderr
    assert "FAIL" in proc.stdout and "PASS" in proc.stdout

    v = {
        (r.check_name, r.partition_key): r
        for r in spark.read.parquet(f"{root}/out/verdicts").collect()
    }
    assert v[("not_null_v", "A")].passed is True
    assert v[("not_null_v", "B")].passed is False
    assert v[("pattern_code", "B")].violation_count == 1
    assert v[("ref_grp", "A")].passed is True
    viol = spark.read.parquet(f"{root}/out/violations").collect()
    assert any(r.check_name == "pattern_code" for r in viol)

    # report-only mode exits 0 on the same failing table
    proc2 = subprocess.run(
        [
            sys.executable, "-m", "anomalydetector_spark.cli",
            "check-table",
            "--input-path", f"{root}/t",
            "--output-path", f"{root}/out2",
            "--checks", f"{root}/checks.json",
            "--partition-by", "grp",
            "--no-fail-exit",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert proc2.returncode == 0, proc2.stdout + proc2.stderr
