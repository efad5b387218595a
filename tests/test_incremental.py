"""Incremental re-validation (incremental.py): churn-gated subset
validation, manifest carry-forward, and the CLI workflow."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from anomalydetector_spark import datagen
from anomalydetector_spark import manifest as M
from anomalydetector_spark.engine import ValidationConfig
from anomalydetector_spark.incremental import (
    NULL_PART,
    carry_forward_manifest,
    churned_partition_condition,
    incremental_validate,
)


@pytest.fixture(scope="module")
def snapshots(spark):
    """(old, new, changed_dom, added_dom, removed_dom): one domain's text
    edited, one brand-new domain, one domain dropped; the rest untouched."""
    old = datagen.generate_pages(spark, 2_000, seed=3)
    # pick the three largest domains — tiny (dangling) ones can be all-
    # null-text, where a concat edit is a no-op and churn would miss
    doms = [
        r.domain
        for r in old.groupBy("domain")
        .count()
        .orderBy(F.desc("count"), "domain")
        .limit(3)
        .collect()
    ]
    changed, removed, seed_dom = doms[0], doms[1], doms[2]
    added = "brand-new.example"
    new = (
        old.filter(F.col("domain") != removed)
        .withColumn(
            "text",
            F.when(
                F.col("domain") == changed,
                F.concat(F.col("text"), F.lit(" edited v2")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            old.filter(F.col("domain") == seed_dom)
            .withColumn("domain", F.lit(added))
            .withColumn("url", F.concat(F.lit("http://x/"), F.col("url")))
        )
    )
    return old, new, changed, added, removed


def test_churned_partition_condition(spark):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), (None, 3)], "part string, v int"
    )
    got = df.filter(
        churned_partition_condition(["a", NULL_PART], "part")
    ).collect()
    assert sorted(r.v for r in got) == [1, 3]
    assert df.filter(churned_partition_condition([], "part")).count() == 0


def test_incremental_validates_only_churned(spark, snapshots):
    old, new, changed, added, removed = snapshots
    inc = incremental_validate(
        old, new, "domain", config=ValidationConfig(min_points=1)
    )
    status = {r.partition: r.status for r in inc.churn.collect()}
    assert status[changed] == "changed"
    assert status[added] == "added"
    assert status[removed] == "removed"
    assert set(status.values()) == {"added", "removed", "changed", "unchanged"}
    assert inc.todo == sorted([changed, added])

    # verdicts exist ONLY for churned partitions, and the validated row
    # count is exactly the churned partitions' rows in the new snapshot
    res = inc.result
    parts = {
        r.partition_key
        for r in res.verdicts.select("partition_key").distinct().collect()
    }
    # column_presence is schema-level and keyed 'global' by design
    assert parts - {"global"} == {changed, added}
    expect = new.filter(F.col("domain").isin(changed, added)).count()
    got = dict(
        res.verdicts.filter("check_name = 'min_row_count'")
        .select("partition_key", "rows_scanned")
        .collect()
    )
    assert sum(got.values()) == expect
    inc.unpersist()


def test_incremental_no_churn_skips_validation(spark):
    pages = datagen.generate_pages(spark, 1_000, seed=9)
    inc = incremental_validate(pages, pages, "domain")
    assert inc.todo == [] and inc.result is None
    assert inc.churn.filter("status <> 'unchanged'").count() == 0
    inc.unpersist()


def test_manifest_carry_forward(spark, snapshots, tmp_path):
    """After a full run on snapshot A, the incremental run on snapshot B
    leaves the manifest covering EVERY partition of B: fresh rows for
    churned partitions, carried (re-labelled) rows for unchanged ones."""
    old, new, changed, added, removed = snapshots
    cfg = ValidationConfig(min_points=1, partition_by="domain")
    mpath = str(tmp_path / "manifest")

    from anomalydetector_spark.engine import run_validation

    res_a = run_validation(old, None, cfg)
    M.append_manifest(
        M.verdicts_to_manifest_rows(res_a.verdicts, "snapA"), mpath
    )
    res_a.unpersist()

    inc = incremental_validate(old, new, "domain", config=cfg)
    carried = carry_forward_manifest(
        spark, mpath, "snapA", "snapB", inc.churn
    )
    carried_parts = {
        r.partition_spec
        for r in carried.select("partition_spec").distinct().collect()
    }
    unchanged = {
        r.partition
        for r in inc.churn.filter("status = 'unchanged'").collect()
    }
    assert carried_parts == unchanged  # never the churned or removed ones

    merged = M.run_with_resume(spark, inc.result.verdicts, "snapB", mpath)
    merged_parts = {
        r.partition_spec
        for r in merged.select("partition_spec").distinct().collect()
    }
    new_parts = {r.domain for r in new.select("domain").distinct().collect()}
    # full coverage of snapshot B (global = schema-level column_presence)
    assert merged_parts - {"global"} == new_parts
    assert removed not in merged_parts
    # churned partitions carry fresh verdicts (present in the incremental
    # run's own verdict frame), unchanged ones the carried lineage
    assert {changed, added} <= merged_parts
    inc.unpersist()


def test_digest_store_reuse_equivalence(spark, snapshots, tmp_path):
    """Stored digests replace the old-side content scan: churn from
    (old frame) and churn from (stored digests) are identical."""
    from anomalydetector_spark.incremental import (
        read_partition_digests,
        write_partition_digests,
    )
    from anomalydetector_spark.operators.snapshot import partition_digests

    old, new, changed, added, removed = snapshots
    store = str(tmp_path / "digests")
    assert read_partition_digests(spark, store, "snapA") is None
    write_partition_digests(partition_digests(old, "domain"), store, "snapA")
    stored = read_partition_digests(spark, store, "snapA")
    assert stored is not None
    # other snapshots stay invisible
    assert read_partition_digests(spark, store, "snapZ") is None

    scan = incremental_validate(old, new, "domain")
    cached = incremental_validate(
        None, new, "domain", old_digests=stored
    )
    a = sorted(map(tuple, scan.churn.collect()))
    b = sorted(map(tuple, cached.churn.collect()))
    assert a == b and scan.todo == cached.todo
    scan.unpersist()
    cached.unpersist()

    with pytest.raises(ValueError, match="old or old_digests"):
        incremental_validate(None, new, "domain")


def test_typed_partition_column_condition(spark):
    """Non-string partition columns: digest keys are stringified, so the
    filter must cast the LITERALS back to the column type (a cast on the
    column would block predicate pushdown)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "d")], "day int, v string"
    )
    dt = df.schema["day"].dataType
    got = df.filter(
        churned_partition_condition(["2", "3", NULL_PART], "day", dt)
    )
    assert sorted(r.v for r in got.collect()) == ["b", "c", "d"]
    # the column stays bare in the plan (no Cast wrapping 'day')
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "cast(day" not in plan.lower()


def test_null_partition_carry_forward(spark, tmp_path):
    """An unchanged NULL-valued partition keeps its manifest coverage:
    churn stringifies NULL to the '<NULL>' sentinel, the manifest keeps
    SQL NULL — the carry join must bridge the two (null-safe)."""
    old = spark.createDataFrame(
        [(None, "u1", "t1"), (None, "u2", "t2"), ("p", "u3", "t3")],
        "part string, url string, text string",
    )
    mpath = str(tmp_path / "m")
    rows = spark.createDataFrame(
        [(None, True, None, 0, 2), ("p", True, None, 0, 1)],
        "partition_key string, passed boolean, error_message string, "
        "violation_count long, rows_scanned long",
    ).withColumn("check_name", F.lit("c1"))
    M.append_manifest(M.verdicts_to_manifest_rows(rows, "snapA"), mpath)

    inc = incremental_validate(old, old, "part")  # nothing churned
    assert inc.result is None
    carried = carry_forward_manifest(spark, mpath, "snapA", "snapB", inc.churn)
    specs = [r.partition_spec for r in carried.collect()]
    assert sorted(specs, key=str) == [None, "p"]  # NULL partition carried
    inc.unpersist()


def test_digest_provenance_mismatch_falls_back(spark, snapshots, tmp_path):
    """Digests stored with one (partition column, compare columns) pair
    are invisible to a read with another — a silent mismatch would mark
    every partition changed."""
    from anomalydetector_spark.incremental import (
        read_partition_digests,
        write_partition_digests,
    )
    from anomalydetector_spark.operators.snapshot import partition_digests

    old = snapshots[0]
    store = str(tmp_path / "digests")
    write_partition_digests(
        partition_digests(old, "domain", ["url", "text"]),
        store, "snapA", "domain", ["url", "text"],
    )
    assert read_partition_digests(
        spark, store, "snapA", "domain", ["url", "text"]
    ) is not None
    # compare-column order must not matter
    assert read_partition_digests(
        spark, store, "snapA", "domain", ["text", "url"]
    ) is not None
    assert read_partition_digests(spark, store, "snapA", "domain", None) is None
    assert read_partition_digests(
        spark, store, "snapA", "lang", ["url", "text"]
    ) is None


def test_empty_or_missing_digest_store_reads_as_absent(spark, tmp_path):
    """An empty first write (_SUCCESS only) or a missing path degrades to
    a cold start — never an AnalysisException-wedged pipeline."""
    from anomalydetector_spark.incremental import (
        read_partition_digests,
        write_partition_digests,
    )

    empty = spark.createDataFrame(
        [],
        "partition string, n_rows long, digest_sum_a decimal(38,0), "
        "digest_sum_b decimal(38,0)",
    )
    store = str(tmp_path / "d")
    write_partition_digests(empty, store, "snapA", "domain", None)
    assert read_partition_digests(spark, store, "snapA", "domain", None) is None
    assert read_partition_digests(
        spark, str(tmp_path / "missing"), "s", "domain", None
    ) is None


def test_legacy_digest_stores_read_as_absent(spark, tmp_path):
    """Stores written before the digest scheme was tagged — with the old
    "<partition>|<columns>" digest_meta, or with no digest_meta column at
    all — hold sums of another per-row hash: they read as absent (a cold
    start) and are never compared against the current sums."""
    from anomalydetector_spark.incremental import read_partition_digests
    from anomalydetector_spark.operators.snapshot import partition_digests

    df = spark.createDataFrame(
        [("p1", "u1", "t1"), ("p2", "u2", "t2")],
        "part string, url string, text string",
    )
    digests = partition_digests(df, "part", ["text", "url"])
    tagged = str(tmp_path / "tagged")
    digests.withColumn("digest_meta", F.lit("part|text,url")).withColumn(
        "snapshot_id", F.lit("snapA")
    ).write.partitionBy("snapshot_id").parquet(tagged)
    untagged = str(tmp_path / "untagged")
    digests.withColumn("snapshot_id", F.lit("snapA")).write.partitionBy(
        "snapshot_id"
    ).parquet(untagged)
    for store in (tagged, untagged):
        assert read_partition_digests(
            spark, store, "snapA", "part", ["text", "url"]
        ) is None


def test_manifest_and_digest_plumbing_job_counts(spark, tmp_path):
    """The daily job's plumbing starts only the jobs it must: manifest
    rows read the persisted verdicts (one job, not the verdict DAG
    again), the manifest read starts none and the digest-store read only
    its presence probe (a schema-inference job would add one each)."""
    from anomalydetector_spark.incremental import (
        read_partition_digests,
        write_partition_digests,
    )
    from anomalydetector_spark.operators.snapshot import partition_digests
    from anomalydetector_spark.plans.audit import spark_jobs

    pages = datagen.generate_pages(spark, 2_000, seed=5)
    # an empty old side: every partition is added and validated
    inc = incremental_validate(pages.filter(F.lit(False)), pages, "domain")
    res = inc.result
    verdicts = res.verdicts.collect()
    rows, n_jobs = spark_jobs(
        spark, lambda: M.verdicts_to_manifest_rows(res.verdicts, "s").collect()
    )
    assert n_jobs == 1
    assert sorted((r.partition_spec, r.check_name) for r in rows) == sorted(
        (v.partition_key, v.check_name) for v in verdicts
    )

    mpath, store = str(tmp_path / "m"), str(tmp_path / "d")
    M.append_manifest(M.verdicts_to_manifest_rows(res.verdicts, "s"), mpath)
    write_partition_digests(partition_digests(pages, "domain"), store, "s")
    manifest, n_jobs = spark_jobs(spark, lambda: M.read_manifest(spark, mpath))
    assert n_jobs == 0 and manifest.count() == len(verdicts)
    stored, n_jobs = spark_jobs(
        spark, lambda: read_partition_digests(spark, store, "s")
    )
    assert stored is not None and n_jobs == 1
    inc.unpersist()


def test_digest_reuse_order_insensitive_end_to_end(spark, snapshots, tmp_path):
    """compare-column ORDER must not poison reuse: digests are hashed
    over the canonically-sorted list, so stored digests from one order
    produce zero spurious churn when read back with another."""
    from anomalydetector_spark.incremental import (
        read_partition_digests,
        write_partition_digests,
    )

    old = snapshots[0]
    store = str(tmp_path / "d")
    first = incremental_validate(old, old, "domain", compare_cols=["text", "url"])
    write_partition_digests(
        first.new_digests, store, "snapA", "domain", ["text", "url"]
    )
    stored = read_partition_digests(
        spark, store, "snapA", "domain", ["url", "text"]  # reversed order
    )
    assert stored is not None
    again = incremental_validate(
        None, old, "domain", compare_cols=["url", "text"], old_digests=stored
    )
    assert again.todo == [] and again.result is None  # zero spurious churn
    first.unpersist()
    again.unpersist()


def test_duplicate_fd_pairs_rejected(spark):
    from anomalydetector_spark.engine import run_validation

    pages = datagen.generate_pages(spark, 500, seed=1)
    with pytest.raises(ValueError, match="duplicate functional_deps"):
        run_validation(
            pages,
            None,
            ValidationConfig(
                functional_deps=(("url", "lang"), ("url", "lang"))
            ),
        )


def test_violation_cap_zero_suppresses_sink(spark, tmp_path):
    """--max-violations-per-check 0 means NO violation rows sink (the
    falsy-zero trap would instead disable the cap entirely)."""
    import argparse

    from anomalydetector_spark.cli import _write_violations

    viol = spark.createDataFrame(
        [("c1", "p", "u1"), ("c1", "p", "u2")],
        "check_name string, partition_key string, url string",
    )
    out = str(tmp_path / "o")
    args = argparse.Namespace(max_violations_per_check=0)
    _write_violations(viol, out, args)
    # an empty partitioned write leaves no data files (only _SUCCESS)
    import os

    data_files = [
        f
        for root, _, files in os.walk(f"{out}/violations")
        for f in files
        if f.endswith(".parquet")
    ]
    assert data_files == []
    # and a positive cap still sinks rows through the same path
    args2 = argparse.Namespace(max_violations_per_check=1)
    _write_violations(viol, str(tmp_path / "o2"), args2)
    assert spark.read.parquet(f"{tmp_path}/o2/violations").count() == 1


def test_cli_incremental_validate(spark, snapshots, tmp_path, capsys):
    from anomalydetector_spark import cli

    old, new, changed, added, removed = snapshots
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.mode("overwrite").parquet(old_p)
    new.write.mode("overwrite").parquet(new_p)
    mpath = str(tmp_path / "manifest")
    out_a = str(tmp_path / "outA")
    cli.main([
        "validate", "--input-path", old_p, "--output-path", out_a,
        "--partition-by", "domain", "--manifest", mpath, "--store-digests",
    ])
    out_b = str(tmp_path / "outB")
    cli.main([
        "incremental-validate", "--old-path", old_p, "--new-path", new_p,
        "--partition-column", "domain", "--output-path", out_b,
        "--manifest", mpath,
    ])
    said = capsys.readouterr().out
    assert "validated 2 churned partitions" in said
    # the full run seeded the digest store → old side never rescanned
    assert "reused stored digests" in said

    # steady state: next day with no changes — stored digests for the
    # new snapshot short-circuit everything
    out_c = str(tmp_path / "outC")
    cli.main([
        "incremental-validate", "--old-path", new_p, "--new-path", new_p,
        "--partition-column", "domain", "--output-path", out_c,
        "--manifest", mpath,
    ])
    said_c = capsys.readouterr().out
    assert "0 of" in said_c and "reused stored digests" in said_c

    churn = spark.read.parquet(f"{out_b}/partitions")
    assert churn.filter("status = 'changed'").count() == 1
    verdicts = spark.read.parquet(f"{out_b}/verdicts")
    covered = {
        r.partition_spec
        for r in verdicts.select("partition_spec").distinct().collect()
    }
    new_parts = {r.domain for r in new.select("domain").distinct().collect()}
    assert covered - {"global"} == new_parts and removed not in covered
