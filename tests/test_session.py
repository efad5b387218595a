"""Session factory: launcher settings win over ``get_spark``'s defaults,
and the generated-code cache holds a run's working set so warm
``run_validation`` calls in one session stop recompiling."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from anomalydetector_spark import datagen
from anomalydetector_spark.engine import ValidationConfig, run_validation

REPO = Path(__file__).resolve().parents[1]

_PROBE = """
import json
import sys
from anomalydetector_spark.session import get_spark

s = get_spark("probe", cores=int(sys.argv[1]) if len(sys.argv) > 1 else None)
print("PROBE " + json.dumps({
    "master": s.sparkContext.master,
    "shuffle": s.conf.get("spark.sql.shuffle.partitions"),
    "cache": s.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries"),
    "heap": s.sparkContext.getConf().get("spark.driver.memory"),
}))
s.stop()
"""


def _spark_submit() -> str | None:
    """The spark-submit pyspark itself launches with, else one on PATH."""
    try:
        from pyspark.find_spark_home import _find_spark_home

        cand = os.path.join(_find_spark_home(), "bin", "spark-submit")
        if os.access(cand, os.X_OK):
            return cand
    except (Exception, SystemExit):
        pass
    return shutil.which("spark-submit")


def _run_probe(tmp_path, launcher: list[str], host_sized=False) -> dict:
    script = tmp_path / "probe.py"
    script.write_text(_PROBE)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    if host_sized:
        env.pop("SPARK_GRAFT_CPUS", None)
        env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    else:
        # a small heap: the probe runs beside the shared test session
        env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    # host-sized: no cores argument either
    args = [] if host_sized else ["3"]
    proc = subprocess.run(
        [*launcher, str(script), *args],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=300,
    )
    line = next(
        (x for x in proc.stdout.splitlines() if x.startswith("PROBE ")), None
    )
    assert line is not None, proc.stdout + proc.stderr
    return json.loads(line[len("PROBE "):])


def test_launcher_settings_win_over_get_spark_defaults(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit on this host")
    got = _run_probe(
        tmp_path,
        [
            submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=5",
        ],
    )
    assert got["master"] == "local[2]"
    assert got["shuffle"] == "5"
    # a key the launcher left open still takes the engine default
    assert got["cache"] == "1024"


def test_plain_driver_gets_engine_defaults(tmp_path):
    got = _run_probe(tmp_path, [sys.executable])
    assert got["master"] == "local[3]"
    assert got["shuffle"] == "8"
    assert got["cache"] == "1024"


def test_unset_sizes_follow_the_host(tmp_path):
    """Without ``cores`` and the two environment variables, the session
    takes the CPUs this process may use and a heap the host can hold."""
    got = _run_probe(tmp_path, [sys.executable], host_sized=True)
    assert got["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    assert got["heap"].endswith("m")
    with open("/proc/meminfo") as f:
        mem_kib = int(
            next(x for x in f if x.startswith("MemTotal")).split()[1]
        )
    assert 0 < int(got["heap"][:-1]) * 1024 <= mem_kib


def _compiles(spark) -> int:
    return (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
        .getCount()
    )


def _run_once(pages, domains, cfg):
    res = run_validation(pages, domains, cfg)
    try:
        verdicts = sorted(
            (r.check_name, r.partition_key, r.passed)
            for r in res.verdicts.collect()
        )
        viol = sorted(
            tuple(r)
            for r in res.violations.groupBy("check_name", "partition_key")
            .count()
            .collect()
        )
        flags = sorted(
            tuple(r)
            for r in res.drift_scored.filter(F.col("is_anomaly"))
            .select("partition_key", "stat_name", "window_start")
            .collect()
        )
        drift = sorted(
            (r.partition_key, r.stat_name, r.verdict)
            for r in res.drift_verdicts.collect()
        )
    finally:
        res.unpersist()
    return verdicts, viol, flags, drift


@pytest.mark.parametrize("partition_by", [None, "domain"])
def test_warm_runs_reuse_generated_code(spark, partition_by):
    """Runs 2 and 3 of the same validation in one session find every
    generated class in the codegen cache. Spark's default 100-entry cache
    holds less than one run's ~110-170 classes and recompiled 68-73 per
    warm run here; with 1024 entries a warm run compiles 0-6."""
    pages = datagen.generate_pages(spark, 5_000)
    domains = datagen.domains_dim(spark)
    cfg = ValidationConfig(partition_by=partition_by)

    first = _run_once(pages, domains, cfg)
    for _ in range(2):
        before = _compiles(spark)
        again = _run_once(pages, domains, cfg)
        added = _compiles(spark) - before
        assert again == first
        assert added <= 20, f"warm run compiled {added} classes"
