"""Dump formatted physical plans for the engine's key operators and
assert the plan properties that matter at 100 TB:

* stats pass never reads ``html`` (ReadSchema pruning),
* referential + duplicate-violation joins go broadcast,
* stats aggregation has a partial (map-side) aggregate before the shuffle,
* filters on the scan are pushed (PushedFilters),
* the drift tail is one grouped pandas pass (no Window / sort-merge
  join) and the verdict path runs no Python,
* the incremental job's manifest rows read its persisted verdicts (one
  job) and the manifest
  and digest-store reads start no schema-inference job,
* a warm rerun of the same validation recompiles (almost) no generated
  code.

Run: python tools/explain_plans.py  (prints plans + PASS/FAIL per property)
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")


# every audited plan also passes through the global-window audit
# (plans/audit.py): a Window.partitionBy(lit(1))-style node is only
# legal above an aggregate / literal frame / row limit
_GLOBAL_WINDOW_OFFENDERS: list[str] = []
_AUDITED_PLANS = 0


def plan_of(df) -> str:
    global _AUDITED_PLANS
    from anomalydetector_spark.plans.audit import (
        find_unbounded_global_windows,
    )

    _AUDITED_PLANS += 1
    _GLOBAL_WINDOW_OFFENDERS.extend(find_unbounded_global_windows(df))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _executed_parquet_scans(plan: str) -> int:
    """Count parquet scans that actually execute: an InMemoryRelation's
    description embeds its (already-materialized) cached plan, whose scan
    nodes must not be counted. Those lines are indented under the
    relation in the tree section — skip deeper-indented lines after it."""
    n = 0
    skip_deeper_than: int | None = None
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*")
        indent = len(line) - len(stripped)
        if skip_deeper_than is not None:
            if indent > skip_deeper_than:
                continue
            skip_deeper_than = None
        if stripped.startswith("InMemoryRelation"):
            skip_deeper_than = indent
            continue
        if not stripped.startswith(("Scan parquet", "* Scan parquet")):
            continue
        n += 1
    return n


def _warm_rerun_compiles(spark, pages, domains, runs: int = 3) -> list[int]:
    """Janino compiles added by each of ``runs`` identical validations
    (verdicts, violation counts, drift outputs) in this session; the
    first entry is the cold run."""
    from anomalydetector_spark.engine import ValidationConfig, run_validation

    metric = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    added = []
    for _ in range(runs):
        c0 = metric.getCount()
        res = run_validation(pages, domains, ValidationConfig())
        res.verdicts.collect()
        res.violations.groupBy("check_name", "partition_key").count().collect()
        res.drift_scored.filter("is_anomaly").collect()
        res.drift_verdicts.collect()
        res.unpersist()
        added.append(metric.getCount() - c0)
    return added


def check(name: str, ok: bool, detail: str = "") -> bool:
    print(f"{'PASS' if ok else 'FAIL'}  {name}" + (f"  ({detail})" if detail else ""))
    return ok


def main() -> None:
    import pyspark.sql.functions as F

    from anomalydetector_spark.session import get_spark
    from anomalydetector_spark import datagen
    from anomalydetector_spark.stats import compute_window_stats
    from anomalydetector_spark.operators.referential import check_referential
    from anomalydetector_spark.operators.uniqueness import check_unique_key

    spark = get_spark("explain", cores=8)

    # use a parquet-backed pages table so scan pruning is observable
    path = "/tmp/explain_pages.parquet"
    datagen.generate_pages(spark, 20_000).write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    domains = datagen.domains_dim(spark)

    ok = True

    stats_plan = plan_of(compute_window_stats(pages))
    ok &= check(
        "stats pass prunes html from the scan",
        "html" not in stats_plan.split("ReadSchema")[1].split("\n")[0]
        if "ReadSchema" in stats_plan
        else False,
        "ReadSchema excludes html binary",
    )
    ok &= check(
        "stats pass partial-aggregates before shuffle",
        "partial" in stats_plan.lower(),
    )

    ref_plan = plan_of(
        check_referential(pages, "domain", domains, "domain").violations
    )
    ok &= check("referential violations use broadcast join",
                "Broadcast" in ref_plan)

    uniq_plan = plan_of(check_unique_key(pages, "url").violations)
    ok &= check("duplicate-violation join is broadcast", "Broadcast" in uniq_plan)

    # the fused engine path: cube + profile + one-scan violations
    from anomalydetector_spark.engine import ValidationConfig, run_validation
    from anomalydetector_spark.plans import fused

    keyed = fused.keyed_input(pages, "1 day", None)
    cube_plan = plan_of(
        fused.build_fused_scans(keyed, ref_dim=domains).cube
    )
    ok &= check(
        "counts cube prunes html from the scan",
        "ReadSchema" in cube_plan
        and "html" not in cube_plan.split("ReadSchema")[1].split("\n")[0],
    )
    ok &= check(
        "counts cube partial-aggregates before shuffle",
        "partial" in cube_plan.lower(),
    )
    ok &= check(
        "counts cube dimension join is broadcast", "Broadcast" in cube_plan
    )
    res = run_validation(pages, domains, ValidationConfig())
    # materialize verdicts so the shared cube/profile caches fill — the
    # violations pass then reads the input once plus cached aggregates
    res.verdicts.collect()
    viol_plan = plan_of(res.violations)
    n_scans = _executed_parquet_scans(viol_plan)
    ok &= check(
        "fused violation extraction re-reads the input once (profile cached)",
        n_scans == 1 and "InMemoryTableScan" in viol_plan,
        f"{n_scans} executed parquet scans + cached profile",
    )
    # the drift tail derives and scores every stat series in ONE grouped
    # pandas pass over the cached cube + profile; Window nodes or a
    # sort-merge join here mean series derivation moved back into Catalyst
    from anomalydetector_spark.plans.audit import (
        GROUPED_PANDAS_NODES,
        plan_node_names,
        python_or_rdd_nodes,
    )

    drift_nodes = plan_node_names(res.drift_scored, cached_inputs=False)
    ok &= check(
        "drift tail is one grouped pandas pass: no Window, no sort-merge join",
        sum(n in GROUPED_PANDAS_NODES for n in drift_nodes) == 1
        and not any(n.startswith("Window") for n in drift_nodes)
        and "SortMergeJoinExec" not in drift_nodes,
        ", ".join(drift_nodes),
    )
    ok &= check(
        "verdict path starts no Python worker and replays no driver RDD",
        python_or_rdd_nodes(res.verdicts) == [],
    )

    # the daily job's manifest and digest-store plumbing: manifest rows
    # of the incremental job's collected verdicts read their cache (one
    # job, not the verdict DAG again), and the manifest / digest-store
    # reads give their schemas (no schema-inference job; the digest
    # read's one job is its presence probe)
    import shutil

    from anomalydetector_spark import manifest as M
    from anomalydetector_spark.incremental import (
        incremental_validate,
        read_partition_digests,
        write_partition_digests,
    )
    from anomalydetector_spark.operators.snapshot import partition_digests
    from anomalydetector_spark.plans.audit import spark_jobs

    # an empty old side: every partition is added and validated
    inc = incremental_validate(pages.filter(F.lit(False)), pages, "domain")
    inc.result.verdicts.collect()
    _, row_jobs = spark_jobs(
        spark,
        lambda: M.verdicts_to_manifest_rows(
            inc.result.verdicts, "explain"
        ).collect(),
    )
    inc.unpersist()
    mpath, dpath = "/tmp/explain_manifest", "/tmp/explain_digests"
    shutil.rmtree(mpath, ignore_errors=True)
    shutil.rmtree(dpath, ignore_errors=True)
    M.append_manifest(M.verdicts_to_manifest_rows(res.verdicts, "s"), mpath)
    write_partition_digests(partition_digests(pages, "domain"), dpath, "s")
    _, manifest_jobs = spark_jobs(spark, lambda: M.read_manifest(spark, mpath))
    stored, digest_jobs = spark_jobs(
        spark, lambda: read_partition_digests(spark, dpath, "s")
    )
    ok &= check(
        "incremental manifest rows of collected verdicts run 1 job; "
        "manifest read "
        "starts 0 jobs, digest-store read only its presence probe",
        row_jobs == 1
        and manifest_jobs == 0
        and stored is not None
        and digest_jobs == 1,
        f"jobs: manifest rows {row_jobs}, manifest read {manifest_jobs}, "
        f"digest read {digest_jobs}",
    )
    res.unpersist()

    # a warm rerun finds every generated class in the codegen cache
    # (session.CODEGEN_CACHE_ENTRIES): only the seeded rollup's limit(1),
    # whose stage names a fresh _limit_counter_N per plan, recompiles. A
    # per-run literal inlined into a hot stage, or a session left at
    # Spark's 100-entry cache, recompiles ~70 classes per run.
    compiles = _warm_rerun_compiles(spark, pages, domains)
    ok &= check(
        "warm reruns reuse generated code (<= 20 compiles per run)",
        max(compiles[1:]) <= 20,
        f"compiles per run, cold first: {compiles}",
    )

    # functional dependencies in the ENGINE: the persisted violating-key
    # frame is the ONLY extra pass — after the verdict action fills the
    # caches, the violations (tagging) plan still reads the input exactly
    # once, with the FD keys coming from InMemoryTableScan + broadcast.
    # (The standalone check's own plan properties are asserted below.)
    fd_res = run_validation(
        pages,
        domains,
        ValidationConfig(functional_deps=(("url", "lang"), ("url", "text"))),
    )
    fd_res.verdicts.collect()
    fd_viol_plan = plan_of(fd_res.violations)
    fd_scans = _executed_parquet_scans(fd_viol_plan)
    ok &= check(
        "FD tagging rides the one-scan extraction: cached keys, broadcast "
        "join, no input re-read per pair",
        fd_scans == 1
        and "InMemoryTableScan" in fd_viol_plan
        and "Broadcast" in fd_viol_plan,
        f"{fd_scans} executed parquet scans with 2 FD pairs configured",
    )
    fd_res.unpersist()

    # incremental re-validation gate: the churned-partition predicate
    # (IN + IS NULL on the raw column) pushes into the parquet scan, so a
    # table laid out by the partition column prunes untouched data
    from anomalydetector_spark.incremental import churned_partition_condition

    inc_plan = plan_of(
        pages.filter(
            churned_partition_condition(["siteA", "siteB", "<NULL>"], "domain")
        ).select("url", "domain")
    )
    ok &= check(
        "incremental churn filter pushes In/IsNull to the parquet scan",
        "PushedFilters" in inc_plan
        and "In(domain" in inc_plan
        and "IsNull(domain" in inc_plan,
    )

    # user-defined constraints: row asserts must ride the SAME cube scan
    # (identical executed-scan count with and without a suite of asserts)
    from anomalydetector_spark.operators.asserts import RowAssert

    base_cube_plan = plan_of(fused.build_fused_scans(keyed, ref_dim=domains).cube)
    from anomalydetector_spark.operators.asserts import row_assert_counts

    asserted = fused.build_fused_scans(
        keyed,
        ref_dim=domains,
        extra_cube_aggs=row_assert_counts(
            (
                RowAssert("a1", "length(text) > 0"),
                RowAssert("a2", "url like 'http%'"),
                RowAssert("a3", "lang is not null"),
            )
        ),
    ).cube
    assert_plan = plan_of(asserted)
    ok &= check(
        "row asserts ride the cube scan: same executed-scan count, no "
        "extra shuffle, no Python",
        _executed_parquet_scans(assert_plan)
        == _executed_parquet_scans(base_cube_plan)
        and assert_plan.count("Exchange") <= base_cube_plan.count("Exchange")
        and "EvalPython" not in assert_plan,
    )

    # newer operators: partial aggregation + broadcast properties
    from anomalydetector_spark.operators.frequency import heavy_hitters
    from anomalydetector_spark.operators.pipeline import prepare_training_corpus
    from anomalydetector_spark.plans.sketches import window_theta_sketches

    hh_plan = plan_of(heavy_hitters(pages, key_col="domain", k=5))
    ok &= check(
        "heavy-hitters counts partial-aggregate before shuffle",
        "partial" in hh_plan.lower(),
    )
    theta_plan = plan_of(window_theta_sketches(pages, window_duration="1 day"))
    ok &= check(
        "window theta sketches partial-aggregate before shuffle",
        "partial" in theta_plan.lower(),
    )
    docs_like = pages.select(
        F.col("url").alias("doc_id"), F.col("text")
    ).filter(F.col("text").isNotNull())
    prep_plan = plan_of(prepare_training_corpus(docs_like))
    ok &= check(
        "training prep keeps quality/tokens as projections (no extra agg)",
        prep_plan.lower().count("hashaggregate") <= 4,  # dedup partial+final x join sides
    )

    filt_plan = plan_of(
        pages.filter(F.col("lang") == "en").select("url", "lang")
    )
    ok &= check(
        "filter pushes to parquet scan",
        "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in filt_plan
        or "PushedFilters" in filt_plan and "lang" in filt_plan,
    )

    # round-2 operators: the properties that decide whether they survive
    # a 100-TB input.
    from anomalydetector_spark.operators.evaluate import (
        f1_threshold_sweep,
        gap_adjusted_detections,
        per_series_f1,
    )
    from anomalydetector_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    nd_plan = plan_of(
        embedding_near_duplicates(
            emb, threshold=0.4, n_planes=3, dim=64, seed=42, n_tables=8
        )
    )
    ok &= check(
        "embedding near-dup candidates are a bucket equi-join (no theta join)",
        "CartesianProduct" not in nd_plan
        and "BroadcastNestedLoopJoin" not in nd_plan,
    )

    series = pages.select(
        F.col("domain").alias("series"),
        F.col("warc_ts").alias("ts"),
        "url",
        (F.abs(F.xxhash64("url")) % 1000 / 1000.0).alias("score"),
        (F.abs(F.xxhash64("url", F.lit(1))) % 10 == 0).cast("int").alias("label"),
    )
    sweep_plan = plan_of(
        f1_threshold_sweep(
            series, n_thresholds=20, scale=0.05,
            adjust=True, order_by=["ts", "url"], partition_by="series",
        )
    )
    ok &= check(
        "adjusted threshold sweep broadcasts the threshold frame",
        "Broadcast" in sweep_plan,
    )
    ok &= check(
        "adjusted threshold sweep partial-aggregates before the final shuffle",
        "partial" in sweep_plan.lower(),
    )
    ok &= check(
        "adjusted threshold sweep reads the input once",
        _executed_parquet_scans(sweep_plan) == 1,
    )

    psf_plan = plan_of(
        per_series_f1(
            series.withColumnRenamed("score", "pred_raw").withColumn(
                "pred", (F.col("pred_raw") > 0.5).cast("int")
            ),
            series_col="series", order_by=["ts", "url"], delay=7,
        )
    )
    ok &= check(
        "per-series F1 partial-aggregates before shuffle",
        "partial" in psf_plan.lower(),
    )
    gap_plan = plan_of(
        gap_adjusted_detections(
            series.withColumn("pred", (F.col("score") > 0.5).cast("int")),
            series_col="series", ts_col="ts", det_col="pred",
        )
    )
    ok &= check(
        "gap-adjusted detections read the input once",
        _executed_parquet_scans(gap_plan) == 1,
    )

    from anomalydetector_spark.operators.components import connected_components
    from anomalydetector_spark.operators.sampling import cap_per_key

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cap_plan = plan_of(cap_per_key(docs, "source", 5, salts=8))
    ok &= check(
        "salted domain cap: two ranking windows over one input scan",
        cap_plan.count("Window") >= 2 and _executed_parquet_scans(cap_plan) == 1,
    )

    from anomalydetector_spark.operators.text import repetition_profile

    rep_plan = plan_of(repetition_profile(docs, ns=(2, 5)))
    ok &= check(
        "repetition profile is shuffle-free (run lengths stay in-row)",
        "Exchange" not in rep_plan and _executed_parquet_scans(rep_plan) == 1,
    )

    from anomalydetector_spark.operators.scrub import (
        drop_boilerplate_lines,
        redact_pii,
    )

    scrub_plan = plan_of(drop_boilerplate_lines(docs, min_docs=3))
    ok &= check(
        "boilerplate scrub: distinct-count partial-aggregates map-side, "
        "anti-join is an equi-join",
        "partial" in scrub_plan.lower()
        and "CartesianProduct" not in scrub_plan
        and "BroadcastNestedLoopJoin" not in scrub_plan,
    )
    pii_plan = plan_of(redact_pii(docs))
    ok &= check(
        "PII redaction is a pure codegen projection (no shuffle, no Python)",
        "Exchange" not in pii_plan
        and "EvalPython" not in pii_plan
        and _executed_parquet_scans(pii_plan) == 1,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    cc_plan = plan_of(connected_components(pairs, checkpoint=False, max_rounds=5))
    ok &= check(
        "component propagation partial-aggregates min before shuffle",
        "partial_min" in cc_plan or "partial" in cc_plan.lower(),
    )
    ok &= check(
        "component loop joins are equi-joins (no cartesian/nested-loop)",
        "CartesianProduct" not in cc_plan
        and "BroadcastNestedLoopJoin" not in cc_plan,
    )

    from anomalydetector_spark.operators.quality import gopher_quality_flags
    from anomalydetector_spark.operators.temporal import asof_join
    from anomalydetector_spark.operators.urls import url_components

    url_plan = plan_of(url_components(pages.select("url")))
    ok &= check(
        "URL canonicalization is a pure codegen projection (no shuffle/Python)",
        "Exchange" not in url_plan
        and "EvalPython" not in url_plan
        and _executed_parquet_scans(url_plan) == 1,
    )
    gq_plan = plan_of(gopher_quality_flags(docs))
    ok &= check(
        "Gopher quality gate is a pure codegen projection (no shuffle/Python)",
        "Exchange" not in gq_plan
        and "EvalPython" not in gq_plan
        and _executed_parquet_scans(gq_plan) == 1,
    )
    clicks = pages.select("url", "warc_ts", F.col("domain"))
    snaps = pages.select(
        F.col("domain"), F.col("warc_ts"), F.col("lang").alias("snap_lang")
    )
    asof_plan = plan_of(
        asof_join(clicks, snaps, "domain", "warc_ts", prefix="snap_")
    )
    ok &= check(
        "as-of join is union + ONE keyed window (no range/theta join, "
        "one shuffle per input)",
        "CartesianProduct" not in asof_plan
        and "BroadcastNestedLoopJoin" not in asof_plan
        and "SortMergeJoin" not in asof_plan
        # formatted plans print each node twice (tree + detail section):
        # one windowspecdefinition and one hashpartitioning exchange
        and asof_plan.count("windowspecdefinition") == 1
        and asof_plan.count("hashpartitioning") == 1,
    )

    from anomalydetector_spark.operators.snapshot import snapshot_diff

    snap_plan = plan_of(
        snapshot_diff(
            pages.select("url", "text"),
            pages.select("url", "text"),
            key_col="url",
        )
    )
    import re as _re

    exchange_inputs = _re.findall(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", snap_plan
    )
    ok &= check(
        "snapshot diff digests before the shuffle (text never crosses) "
        "and partial-aggregates the per-key max",
        "partial" in snap_plan.lower()
        and len(exchange_inputs) > 0
        and all("text#" not in inp for inp in exchange_inputs),
    )

    from anomalydetector_spark.operators.temporal import asof_join_bucketed

    asofb_plan = plan_of(
        asof_join_bucketed(clicks, snaps, "domain", "warc_ts", prefix="snap_")
    )
    ok &= check(
        "bucketed as-of join: no range/theta join, and the big union "
        "window partitions on (key, bucket) — the hot-key mitigation",
        "CartesianProduct" not in asofb_plan
        and "BroadcastNestedLoopJoin" not in asofb_plan
        # the in-bucket window's partition expression must carry BOTH the
        # key and the derived bucket column
        and any(
            "domain" in seg.split("ORDER BY")[0] and "__bkt" in seg.split("ORDER BY")[0]
            for seg in asofb_plan.split("windowspecdefinition")[1:]
        ),
    )

    from anomalydetector_spark.operators.dedup import simhash_near_duplicates

    sh_plan = plan_of(
        simhash_near_duplicates(
            docs.select("doc_id", "text"), max_hamming=3
        )
    )
    ok &= check(
        "SimHash near-dup: equi-join candidates (no cartesian), signature "
        "fold is the ONLY Python (Arrow-batched), verify in codegen",
        "CartesianProduct" not in sh_plan
        and "BroadcastNestedLoopJoin" not in sh_plan
        and "BatchEvalPython" not in sh_plan  # per-row python forbidden
        and "bit_count" in sh_plan,
    )

    from anomalydetector_spark.operators.similarity import lsh_bucket_ann

    emb_path = "/tmp/explain_emb.parquet"
    spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=int(i)) for i in range(8)]).alias("embedding"),
    ).write.mode("overwrite").parquet(emb_path)
    embp = spark.read.parquet(emb_path)
    ann_plan = plan_of(
        lsh_bucket_ann(
            embp, embp.filter(F.col("vec_id") < 3), k=3,
            n_planes=4, dim=8, n_tables=4,
        )
    )
    ok &= check(
        "multi-table LSH ANN: bucket equi-join only (no cartesian/theta), "
        "candidates deduped before the cosine (HashAggregate distinct), "
        "zero Python",
        "CartesianProduct" not in ann_plan
        and "BroadcastNestedLoopJoin" not in ann_plan
        and "EvalPython" not in ann_plan
        and "HashAggregate" in ann_plan,
    )

    from anomalydetector_spark.operators.substring_dedup import (
        substring_dedup_profile,
    )

    ss_plan = plan_of(
        substring_dedup_profile(docs.select("doc_id", "text"), n=20)
    )
    ok &= check(
        "substring dedup: text hashed before the explode (only hash tuples "
        "shuffle), span groupBy has map-side partial agg, join-back is an "
        "equi-join, zero Python",
        "CartesianProduct" not in ss_plan
        and "BroadcastNestedLoopJoin" not in ss_plan
        and "EvalPython" not in ss_plan
        and "partial_count" in ss_plan  # map-side combine on span_hash
        and "xxhash64" in ss_plan,
    )

    from anomalydetector_spark.operators.referential import check_referential

    ref_plan = plan_of(
        check_referential(
            docs.select("doc_id", "lang"),
            "lang",
            docs.select("lang"),
            "lang",
            strategy="shuffle_salted",
            salts=8,
            salt_on="doc_id",
        ).violations
    )
    ok &= check(
        "referential shuffle_salted rung: ShuffledHashJoin on (key, salt), "
        "dim never broadcast, no sort, no Python",
        "ShuffledHashJoin" in ref_plan
        and "BroadcastHashJoin" not in ref_plan
        and "BroadcastExchange" not in ref_plan
        and "_ref_salt" in ref_plan
        and "EvalPython" not in ref_plan,
    )

    from anomalydetector_spark.operators.asserts import RowAssert
    from anomalydetector_spark.operators.quarantine import tag_rows

    quar_plan = plan_of(
        tag_rows(
            docs.select("doc_id", "n_chars"),
            [RowAssert("min_len", "n_chars >= 60")],
        )
    )
    ok &= check(
        "quarantine tagging is a pure codegen projection (no shuffle, no "
        "join, no Python)",
        "Exchange" not in quar_plan
        and "Join" not in quar_plan
        and "EvalPython" not in quar_plan,
    )

    from anomalydetector_spark.operators.checks import (
        check_functional_dependency,
    )

    fd_plan = plan_of(
        check_functional_dependency(
            docs.select("doc_id", "lang", "text"), "doc_id", "text"
        ).verdicts
    )
    ok &= check(
        "functional-dependency check: dependent hashed to 256 bits "
        "BEFORE the shuffle (text never crosses), partial aggregation "
        "map-side, no Python",
        "sha2" in fd_plan
        and "partial_count" in fd_plan
        and "EvalPython" not in fd_plan,
    )

    from anomalydetector_spark.operators.profile import profile_columns

    prof_plan = plan_of(profile_columns(docs.select("doc_id", "text")))
    ok &= check(
        "column profiler: one aggregation scan, approx-distinct rides it "
        "(no Expand), no join, no Python",
        _executed_parquet_scans(prof_plan) <= 1
        and "Expand" not in prof_plan
        and "Join" not in prof_plan
        and "EvalPython" not in prof_plan,
    )

    from anomalydetector_spark.operators.chunking import chunk_documents

    chunk_plan = plan_of(
        chunk_documents(docs.select("doc_id", "text"), chunk_tokens=64, overlap=8)
    )
    ok &= check(
        "document chunking: pure projection + explode — zero shuffle, "
        "zero Python, one scan",
        "Exchange" not in chunk_plan
        and "EvalPython" not in chunk_plan
        and _executed_parquet_scans(chunk_plan) <= 1,
    )

    from anomalydetector_spark.operators.frequency import vocab_top_k

    vocab_plan = plan_of(vocab_top_k(docs.select("text"), k=50))
    ok &= check(
        "vocab top-k: map-side partial combine before the one shuffle, "
        "distributed TakeOrderedAndProject (no global single-partition "
        "window), no Python",
        "partial_count" in vocab_plan
        and "TakeOrderedAndProject" in vocab_plan
        and "EvalPython" not in vocab_plan,
    )

    from anomalydetector_spark.operators.substring_dedup import (
        drop_duplicated_spans,
    )

    sr_plan = plan_of(
        drop_duplicated_spans(docs.select("doc_id", "text"), n=10)
    )
    ok &= check(
        "span removal (window strategy): keep-first marking rides ONE "
        "span-hash sort (no join-back, no second tokenize branch), "
        "removal is in-row (no Python, no cartesian)",
        sr_plan.count("+- Generate") == 1
        and "CartesianProduct" not in sr_plan
        and "BroadcastNestedLoopJoin" not in sr_plan
        and "EvalPython" not in sr_plan,
    )

    srj_plan = plan_of(
        drop_duplicated_spans(
            docs.select("doc_id", "text"), n=10, strategy="join"
        )
    )
    ok &= check(
        "span removal (join strategy): span groupBy partial-aggregates "
        "map-side (skew collapses before the shuffle), keep-first "
        "join-back is an equi-join, no Python, no cartesian",
        "partial" in srj_plan.lower()
        and "CartesianProduct" not in srj_plan
        and "BroadcastNestedLoopJoin" not in srj_plan
        and "EvalPython" not in srj_plan,
    )

    from anomalydetector_spark.operators.lm_quality import (
        score_documents,
        train_unigram_lm,
    )

    lm, oov = train_unigram_lm(docs.select("text"), min_count=2)
    lm_plan = plan_of(score_documents(docs.select("doc_id", "text"), lm, oov))
    ok &= check(
        "LM quality scoring: model join is broadcast (token keys are "
        "maximally skewed — stopwords), no shuffle join anywhere, no Python",
        "BroadcastHashJoin" in lm_plan
        and "SortMergeJoin" not in lm_plan
        and "ShuffledHashJoin" not in lm_plan
        and "EvalPython" not in lm_plan,
    )

    from anomalydetector_spark.operators.normalize import normalize_unicode

    norm_plan = plan_of(normalize_unicode(docs.select("doc_id", "text")))
    ok &= check(
        "unicode normalization: pure Arrow projection — zero shuffle, "
        "zero join, one scan",
        "Exchange" not in norm_plan
        and "Join" not in norm_plan
        and "ArrowEvalPython" in norm_plan
        and _executed_parquet_scans(norm_plan) <= 1,
    )

    from anomalydetector_spark.operators.similarity import (
        cluster_assignments,
        train_ivf_centroids,
    )

    cent = train_ivf_centroids(emb, n_cells=4, approx_count=50)
    cl_plan = plan_of(cluster_assignments(emb, cent))
    ok &= check(
        "k-means assignment: centroids in the UDF closure — zero shuffle, "
        "zero join, one Arrow pass over one scan",
        "Exchange" not in cl_plan
        and "Join" not in cl_plan
        and "ArrowEvalPython" in cl_plan
        and _executed_parquet_scans(cl_plan) <= 1,
    )

    from anomalydetector_spark.operators.bpe import (
        bpe_token_counts,
        learn_bpe_merges,
    )

    docs_txt = pages.select(
        F.col("url").alias("doc_id"), F.col("text")
    ).limit(2_000)
    merges = learn_bpe_merges(docs_txt, num_merges=4, max_train_words=512)
    bpe_plan = plan_of(bpe_token_counts(docs_txt, merges))
    ok &= check(
        "BPE apply: dictionary-side segmentation broadcasts onto the "
        "token stream — text segmented once per DISTINCT word, corpus "
        "side never shuffle-joins",
        "BroadcastHashJoin" in bpe_plan
        and "SortMergeJoin" not in bpe_plan
        and "ArrowEvalPython" in bpe_plan,
    )
    ok &= check(
        "BPE apply: per-doc aggregate partial-combines map-side",
        "partial_count" in bpe_plan,
    )

    from anomalydetector_spark.operators.classifier import (
        classify_documents,
        train_naive_bayes,
    )

    nb_train = pages.select(
        F.col("url").alias("doc_id"), "text", "lang"
    ).limit(4_000)
    nb_model, nb_priors = train_naive_bayes(nb_train, min_count=2)
    nb_plan = plan_of(classify_documents(docs_txt, nb_model, nb_priors))
    scoring_path = nb_plan.split("BroadcastExchange")[0]
    ok &= check(
        "NB classify: pivoted model broadcasts onto the token stream — "
        "ONE join for all classes, scoring path never shuffle-joins, "
        "zero Python",
        "BroadcastHashJoin" in nb_plan
        and "SortMergeJoin" not in scoring_path
        and "EvalPython" not in nb_plan,
    )
    ok &= check(
        "NB classify: per-class integer sums partial-combine map-side",
        "partial_sum" in nb_plan and "partial_count" in nb_plan,
    )

    from anomalydetector_spark.operators.tfidf import (
        inverse_doc_frequencies,
        tfidf_top_terms,
    )

    ti_idf = inverse_doc_frequencies(docs_txt, min_df=2)
    ti_plan = plan_of(tfidf_top_terms(docs_txt, ti_idf, k=5))
    ok &= check(
        "TF-IDF keywords: IDF joins broadcast, tf partial-aggregates "
        "map-side, top-k window is DOC-keyed (never a global "
        "single-partition window), zero Python",
        "BroadcastHashJoin" in ti_plan
        and "partial_count" in ti_plan
        and "windowspecdefinition(doc_id" in ti_plan
        and "windowspecdefinition()" not in ti_plan
        and "EvalPython" not in ti_plan,
    )

    from anomalydetector_spark.operators.bloom import (
        bloom_contains,
        build_bloom,
    )

    bl_keys = pages.select("url")
    bl = build_bloom(bl_keys, m_bits=1 << 16, n_hashes=6)
    bl_build_plan = plan_of(bl)
    bl_probe_plan = plan_of(
        bloom_contains(bl_keys, bl, m_bits=1 << 16, n_hashes=6)
    )
    ok &= check(
        "Bloom build: bit_or partial-combines map-side — the shuffle "
        "moves bitmap-sized partials, never the key stream",
        "partial_bit_or" in bl_build_plan
        and "EvalPython" not in bl_build_plan,
    )
    ok &= check(
        "Bloom probe: bitmap broadcasts onto the k-exploded probes, "
        "per-key AND partial-combines map-side, zero Python",
        # Catalyst rewrites bool_and to min-over-booleans
        "BroadcastHashJoin" in bl_probe_plan
        and "partial_min" in bl_probe_plan
        and "EvalPython" not in bl_probe_plan,
    )

    from anomalydetector_spark.operators.lang_segments import (
        keep_majority_paragraphs,
        lang_segmentation,
    )

    seg_plan = plan_of(lang_segmentation(docs_txt))
    surg_plan = plan_of(keep_majority_paragraphs(docs_txt))
    ok &= check(
        "paragraph-language summary + surgery: fully in-row codegen "
        "projections — zero shuffle, zero join, zero Python, one scan "
        "each",
        all(
            "Exchange" not in p
            and "Join" not in p
            and "EvalPython" not in p
            and _executed_parquet_scans(p) <= 1
            for p in (seg_plan, surg_plan)
        ),
    )

    from anomalydetector_spark.operators.projection import (
        rademacher_project,
        rademacher_project_arrow,
    )

    pr_plan = plan_of(rademacher_project(emb, d_in=64, d_out=8))
    pra_plan = plan_of(rademacher_project_arrow(emb, d_in=64, d_out=8))
    ok &= check(
        "Rademacher projection: both twins are zero-shuffle zero-join "
        "single-scan projections (fold path pure codegen, scale path "
        "one Arrow pass)",
        all(
            "Exchange" not in p and "Join" not in p
            for p in (pr_plan, pra_plan)
        )
        and "EvalPython" not in pr_plan
        and ("ArrowEvalPython" in pra_plan or "MapInPandas" in pra_plan),
    )

    from anomalydetector_spark.operators.lm_quality import (
        score_documents_bigram,
        train_bigram_lm,
    )

    # no .limit() here: GlobalLimit inserts its own Exchange, which
    # would mask the zero-shuffle assertions below
    docs_txt = pages.select(F.col("url").alias("doc_id"), F.col("text"))
    bi, lm1, oov1 = train_bigram_lm(docs_txt)
    bg_plan = plan_of(score_documents_bigram(docs_txt, bi, lm1, oov1))
    ok &= check(
        "bigram LM scoring: model joins broadcast, no sort-merge join "
        "in the scoring subtree",
        "BroadcastHashJoin" in bg_plan
        and "SortMergeJoin" not in bg_plan.split("BroadcastExchange")[0],
    )

    from anomalydetector_spark.operators.c4 import (
        c4_page_flags,
        c4_span_dedup,
        span_occurrences,
    )

    c4f_plan = plan_of(c4_page_flags(docs_txt, badwords=("x",)))
    ok &= check(
        "C4 page flags: fully-codegen single-scan projection "
        "(no exchange, no Python)",
        "Exchange" not in c4f_plan and "EvalPython" not in c4f_plan,
    )
    occ_plan = plan_of(span_occurrences(docs_txt))
    ok &= check(
        "C4 span occurrences project only (id, start, hash) — text "
        "never leaves its scan",
        "span_hash" in occ_plan and "Exchange" not in occ_plan,
    )
    c4d_plan = plan_of(c4_span_dedup(docs_txt))
    ok &= check(
        "C4 span dedup: partial aggregation before the span-hash "
        "shuffle, no cartesian product",
        "partial" in c4d_plan.lower()
        and "CartesianProduct" not in c4d_plan
        and "BroadcastNestedLoopJoin" not in c4d_plan,
    )

    from anomalydetector_spark.operators.dsir import (
        dsir_select,
        dsir_weights,
        train_bucket_model,
    )

    tgt = docs_txt.filter(F.length("text") > 300)
    pm, pfl = train_bucket_model(tgt, n_buckets=1024)
    qm, qfl = train_bucket_model(docs_txt, n_buckets=1024)
    w = dsir_weights(docs_txt, pm, pfl, qm, qfl, n_buckets=1024)
    dw_plan = plan_of(w)
    ok &= check(
        "DSIR scoring: bucket models broadcast (no shuffle join on the "
        "Zipf-skewed gram keys)",
        "BroadcastHashJoin" in dw_plan
        and "SortMergeJoin" not in dw_plan.split("BroadcastExchange")[0],
    )
    ds_plan = plan_of(dsir_select(w, k=10))
    ok &= check(
        "DSIR selection executes as distributed TakeOrderedAndProject, "
        "not a global sort or single-partition window",
        "TakeOrderedAndProject" in ds_plan and "Window" not in ds_plan,
    )

    from anomalydetector_spark.operators.semdedup import (
        embedding_buckets,
        semdedup_pairs,
    )

    emb_rows = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: F.sin(F.col("id") * i).cast("double"),
        ).alias("embedding"),
    )
    sb_plan = plan_of(embedding_buckets(emb_rows, d_in=8, d_out=4))
    ok &= check(
        "SemDeDup bucket ids are in-row codegen (zero shuffle, zero "
        "Python)",
        "Exchange" not in sb_plan and "EvalPython" not in sb_plan,
    )
    sp_plan = plan_of(semdedup_pairs(emb_rows, d_in=8, d_out=4))
    ok &= check(
        "SemDeDup candidate pairs come from a bucket equi-join, never "
        "an all-pairs cross join",
        "CartesianProduct" not in sp_plan
        and "BroadcastNestedLoopJoin" not in sp_plan,
    )

    from anomalydetector_spark.operators.lm_quality import (
        perplexity_buckets,
    )

    scored_rows = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("lang"),
        F.round(F.sin(F.col("id")) * 10 + 20, 3).alias(
            "pseudo_perplexity"
        ),
    )
    pb = perplexity_buckets(scored_rows, by=("lang",))
    pb_opt = plan_of(pb)
    pb_exec = pb._jdf.queryExecution().executedPlan().toString()
    # the tercile window must sort the (lang, ppl) COUNTS CUBE (an
    # Aggregate below the Window), and the cutoff table must broadcast
    # back onto the docs — never shuffle the scored frame for the join
    w_at = pb_opt.index("Window")
    ok &= check(
        "CCNet perplexity buckets: quantile window runs over the "
        "(group, ppl) counts-cube aggregate, never the raw docs",
        "Aggregate" in pb_opt[w_at:],
    )
    ok &= check(
        "CCNet perplexity buckets: cutoff assignment is a broadcast "
        "join (the scored frame never shuffles), zero Python",
        "BroadcastHashJoin" in pb_exec
        and "SortMergeJoin" not in pb_exec
        and "EvalPython" not in pb_exec,
    )

    # round-3 continuation operators: sessionization, collocations,
    # robust outliers, near-dup decontamination
    from anomalydetector_spark.operators.sessions import (
        session_stats,
        sessionize,
        sessionize_bucketed,
    )

    ev_rows = spark.range(20000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 37).alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 977).alias("ts"),
    ).repartition(8)
    sess_stats = session_stats(
        sessionize(ev_rows, "user_id", "ts", 14400), "user_id", "ts"
    )
    ss_simple = io.StringIO()
    with redirect_stdout(ss_simple):
        sess_stats.explain()
    ss_plan = ss_simple.getvalue()
    n_hash_ex = sum(
        1
        for line in ss_plan.splitlines()
        if "Exchange hashpartitioning" in line and "Reused" not in line
    )
    ok &= check(
        "sessionize + session_stats is ONE hashpartitioning exchange "
        "(lag + running sum share a Window; the stats groupBy reuses the "
        "key partitioning), zero Python",
        n_hash_ex == 1 and "pythonudf" not in ss_plan.lower(),
        f"hash exchanges={n_hash_ex}",
    )
    sb_plan = plan_of(
        sessionize_bucketed(ev_rows, "user_id", "ts", 14400, bucket="1 day")
    )
    ok &= check(
        "bucketed sessionize: boundary repair is equi-joins only "
        "(no cartesian/nested-loop), zero Python",
        "CartesianProduct" not in sb_plan
        and "BroadcastNestedLoopJoin" not in sb_plan
        and "EvalPython" not in sb_plan,
    )

    from anomalydetector_spark.operators.collocations import pmi_collocations

    doc_rows = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            (F.col("id") % 23).cast("string"),
            (F.col("id") % 7).cast("string"),
            (F.col("id") % 11).cast("string"),
        ).alias("text"),
    ).repartition(8)
    pmi_plan = plan_of(pmi_collocations(doc_rows, min_count=2, top_k=50))
    ok &= check(
        "PMI top-k is a distributed TakeOrderedAndProject (never a "
        "global sort), pair counts partial-aggregate map-side, zero Python",
        "TakeOrderedAndProject" in pmi_plan
        and "partial_count" in pmi_plan
        and "EvalPython" not in pmi_plan,
    )

    from anomalydetector_spark.operators.robust import mad_outliers

    val_rows = spark.range(20000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 5).cast("string").alias("event_type"),
        F.round(F.sin(F.col("id")) * 50 + 100, 2).alias("value"),
    ).repartition(8)
    mo = mad_outliers(val_rows, "value", by=("event_type",), k=5.0)
    mo_opt = plan_of(mo)
    mo_exec = mo._jdf.queryExecution().executedPlan().toString()
    w_at = mo_opt.index("Window")
    ok &= check(
        "MAD outliers: median windows run over the (group, value) "
        "counts-cube aggregate, never the raw rows",
        "Aggregate" in mo_opt[w_at:],
    )
    ok &= check(
        "MAD outliers: estimates broadcast back onto the rows (the "
        "input never shuffles for the flag join), zero Python",
        "BroadcastHashJoin" in mo_exec
        and "SortMergeJoin" not in mo_exec
        and "EvalPython" not in mo_exec,
    )

    from anomalydetector_spark.operators.decontam import (
        near_dup_contaminated_ids,
    )

    nd_plan = plan_of(
        near_dup_contaminated_ids(
            doc_rows, doc_rows.filter(F.col("doc_id") % 10 == 0)
        )
    )
    ok &= check(
        "near-dup decontamination: candidates + verify are equi-joins "
        "only (no cartesian/nested-loop), zero Python",
        "CartesianProduct" not in nd_plan
        and "BroadcastNestedLoopJoin" not in nd_plan
        and "EvalPython" not in nd_plan,
    )

    from anomalydetector_spark.operators.urls import domain_blocklist_flags

    url_rows = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("https://sub"), (F.col("id") % 9).cast("string"),
            F.lit(".site-"), (F.col("id") % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("id").cast("string"),
        ).alias("url"),
    ).repartition(8)
    bl_frame = spark.createDataFrame(
        [("site-3.example.com",), ("site-5.example.com",)], "domain string"
    )
    bl_plan = plan_of(domain_blocklist_flags(url_rows, bl_frame))
    ok &= check(
        "domain blocklist: subdomain matching is an equi-join of the "
        "in-row suffix chain vs the broadcast list (no LIKE nested-loop), "
        "zero Python",
        "BroadcastNestedLoopJoin" not in bl_plan
        and "CartesianProduct" not in bl_plan
        and "BroadcastExchange" in bl_plan
        and "EvalPython" not in bl_plan,
    )

    from anomalydetector_spark.operators.quality import fineweb_quality_flags

    fw = fineweb_quality_flags(
        spark.range(1000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("line one.\nline two\n"), F.col("id").cast("string")).alias("text"),
        )
    )
    fw_plan = plan_of(fw)
    ok &= check(
        "FineWeb custom rules are a zero-shuffle in-row projection",
        "Exchange" not in fw_plan and "EvalPython" not in fw_plan,
    )

    from anomalydetector_spark.operators.bm25 import bm25_topk

    bm = bm25_topk(doc_rows, "1 2 3", k=10)
    bm_plan = plan_of(bm)
    ok &= check(
        "BM25: one aggregation produces every corpus stat (partial "
        "aggregate before the shuffle), stats broadcast back, top-k is "
        "TakeOrderedAndProject, zero Python",
        "partial_count" in bm_plan
        and "BroadcastNestedLoopJoin" in bm_plan  # 1-row stats broadcast
        and "TakeOrderedAndProject" in bm_plan
        and "EvalPython" not in bm_plan,
    )

    from anomalydetector_spark.operators.graph import (
        degree_stats,
        extract_outlinks,
        host_link_graph,
        pagerank,
    )

    edge_rows = spark.range(50000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    # One iteration's plan carries the whole per-round shape (every later
    # round sees a localCheckpoint scan instead of the live lineage).
    pr_plan = plan_of(
        pagerank(edge_rows, iterations=1, checkpoint=False)
    )
    ok &= check(
        "PageRank iteration: rank frame meets the transition matrix by "
        "equi-join (no cartesian), map-side partial sum before the "
        "contribution shuffle, dangling mass rides as a broadcast 1-row "
        "frame (the only nested-loop join), zero Python",
        "CartesianProduct" not in pr_plan
        and "partial_sum" in pr_plan
        and "BroadcastExchange" in pr_plan  # the 1-row dangling-mass frame
        and "EvalPython" not in pr_plan,
    )

    deg_plan = plan_of(degree_stats(edge_rows, weight_col=None))
    ok &= check(
        "degree stats: single aggregation over the tagged union (one "
        "shuffle, partial aggregate, NO join), zero Python",
        "Join" not in deg_plan
        and "partial_sum" in deg_plan
        and "EvalPython" not in deg_plan,
    )

    page_link_rows = spark.range(5000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 11).cast("string"),
                 F.lit(".example.com/p")).alias("url"),
        F.concat(F.lit('<a href="https://h'),
                 (F.col("id") % 7).cast("string"),
                 F.lit('.example.org/x">l</a>')).alias("html"),
    )
    hg_plan = plan_of(
        host_link_graph(extract_outlinks(page_link_rows, is_binary=False))
    )
    ok &= check(
        "outlink extraction + host graph: pure codegen explode into ONE "
        "map-side-combined aggregation (page edges collapse before any "
        "shuffle), zero Python",
        "partial_count" in hg_plan
        and "EvalPython" not in hg_plan
        and "CartesianProduct" not in hg_plan,
    )

    from anomalydetector_spark.operators.layout import zorder_key

    zo_plan = plan_of(
        spark.range(10000).select(
            F.col("id"),
            zorder_key(
                [(F.col("id") % 100).cast("double"), (F.col("id") % 150).cast("double")],
                [(0.0, 100.0), (0.0, 150.0)],
                bits=8,
            ).alias("zkey"),
        )
    )
    ok &= check(
        "Z-order key is a zero-shuffle pure-codegen projection "
        "(free when fused into a scan)",
        "Exchange" not in zo_plan
        and "EvalPython" not in zo_plan
        and "codegen id" in zo_plan,
    )

    from anomalydetector_spark.operators.divergence import numeric_window_ks

    ks_plan = plan_of(
        numeric_window_ks(
            spark.range(20000).select(
                F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
                (F.col("id") % 37).cast("double").alias("value"),
            )
        )
    )
    ok &= check(
        "exact KS drift: map-side-combined counts cube, consecutive-window "
        "alignment is an EQUI-join of the bounded counts frame (no theta/"
        "nested-loop), zero Python",
        "partial_count" in ks_plan
        and "CartesianProduct" not in ks_plan
        and "BroadcastNestedLoopJoin" not in ks_plan
        and "EvalPython" not in ks_plan,
    )

    from anomalydetector_spark.operators.divergence import numeric_window_psi

    psi_plan = plan_of(
        numeric_window_psi(
            spark.range(20000).select(
                F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
                (F.col("id") % 97).cast("double").alias("value"),
            ),
            lo=0.0, hi=100.0, n_bins=20,
        )
    )
    ok &= check(
        "PSI/chi-square drift: map-side-combined bin counts, window-pair "
        "alignment is an EQUI-join of the bounded counts frame, "
        "transcendentals quantized in-plan (no theta/nested-loop, zero "
        "Python)",
        "partial_count" in psi_plan
        and "CartesianProduct" not in psi_plan
        and "BroadcastNestedLoopJoin" not in psi_plan
        and "EvalPython" not in psi_plan,
    )

    from anomalydetector_spark.operators.sampling import weighted_sample_k

    ws_plan = plan_of(
        weighted_sample_k(
            spark.range(10000).select(
                F.col("id").alias("doc_id"),
                ((F.col("id") % 50) + 1).cast("double").alias("w"),
            ),
            25,
            "w",
        )
    )
    ok &= check(
        "Efraimidis-Spirakis weighted top-k: one codegen score projection "
        "+ distributed TakeOrderedAndProject (never a global sort or "
        "single-partition window), zero Python",
        "TakeOrderedAndProject" in ws_plan
        and "EvalPython" not in ws_plan
        and "Exchange hashpartitioning" not in ws_plan,
    )

    from anomalydetector_spark.operators.sharding import (
        assign_shards_by_tokens,
    )

    sh_plan = plan_of(
        assign_shards_by_tokens(
            spark.range(20000).select(
                F.col("id").alias("doc_id"),
                ((F.col("id") % 300) + 5).alias("toks"),
            ),
            10_000,
            "toks",
        )
    )
    ok &= check(
        "token sharding: distributed prefix-sum — data window partitioned "
        "by bucket, offsets broadcast back (BroadcastHashJoin), zero "
        "Python, no cartesian",
        "Window" in sh_plan
        and "BroadcastHashJoin" in sh_plan
        and "partial_sum" in sh_plan  # bucket totals combine map-side
        and "EvalPython" not in sh_plan
        and "CartesianProduct" not in sh_plan,
    )

    from anomalydetector_spark.operators.entropy import (
        column_entropy,
        mutual_information,
    )

    ent_src = spark.range(30000).select(
        (F.col("id") % 17).cast("string").alias("a"),
        (F.col("id") % 5).cast("string").alias("b"),
    )
    ent_plan = plan_of(column_entropy(ent_src, ["a", "b"]))
    mi_plan = plan_of(mutual_information(ent_src, "a", "b"))
    ok &= check(
        "entropy/MI analyzers: value-counts shuffles move map-side-"
        "combined cardinality-sized partials; the only nested-loop joins "
        "are 1-row broadcast totals; zero Python",
        "partial_count" in ent_plan
        and "EvalPython" not in ent_plan
        and "EvalPython" not in mi_plan
        and "CartesianProduct" not in mi_plan
        and "partial_count" in mi_plan,
    )

    from anomalydetector_spark.operators.evaluate import ranking_metrics

    rm_plan = plan_of(
        ranking_metrics(
            spark.range(30000).select(
                (F.col("id") % 500).cast("double").alias("score"),
                (F.col("id") % 7 == 0).cast("int").alias("label"),
            )
        )
    )
    ok &= check(
        "ROC-AUC/AP: score counts cube partial-aggregates before the "
        "shuffle; windows run over the bounded cube, zero Python, no "
        "joins at all",
        "partial_sum" in rm_plan
        and "Join" not in rm_plan
        and "EvalPython" not in rm_plan,
    )

    from anomalydetector_spark.operators.divergence import bin_by_bounds

    eq_plan = plan_of(
        spark.range(10000).select(
            bin_by_bounds(
                (F.col("id") % 100).cast("double"),
                [10.0, 25.0, 50.0, 75.0, 90.0],
            ).alias("bin")
        )
    )
    ok &= check(
        "equi-depth binning with frozen boundary literals is a "
        "zero-shuffle pure-codegen projection",
        "Exchange" not in eq_plan
        and "EvalPython" not in eq_plan
        and "codegen id" in eq_plan,
    )

    from anomalydetector_spark.operators.fuzzy import fuzzy_key_pairs

    fz_plan = plan_of(
        fuzzy_key_pairs(
            spark.range(5000).select(
                F.concat(
                    F.lit("k"), (F.col("id") % 400).cast("string")
                ).alias("k")
            ),
            "k",
        )
    )
    ok &= check(
        "fuzzy key pairs: deletion-neighborhood candidates by EQUI-join "
        "only (no cartesian/theta), codegen variant generation, zero "
        "Python",
        "CartesianProduct" not in fz_plan
        and "BroadcastNestedLoopJoin" not in fz_plan
        and "EvalPython" not in fz_plan,
    )

    # round-3 continuation: trend/conformity/correlation analyzers
    from anomalydetector_spark.operators.conformity import benford_check
    from anomalydetector_spark.operators.divergence import (
        divergence_attribution,
        topk_churn,
    )
    from anomalydetector_spark.operators.profile import (
        spearman_correlations,
    )
    from anomalydetector_spark.operators.trend import (
        series_autocorr,
        series_cusum,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    day_series = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.col("event_type"), F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(
            "event_type", F.col("w.start").alias("window_start"), "value"
        )
    )
    cusum_plan = plan_of(
        series_cusum(day_series, ["event_type"], "window_start", "value")
    )
    ok &= check(
        "CUSUM: every window partitions by the series key (no global "
        "single-partition sort), the only joins are bounded frames, "
        "zero Python",
        "PartitionBy: []" not in cusum_plan
        and "CartesianProduct" not in cusum_plan
        and "EvalPython" not in cusum_plan,
    )
    ok &= check(
        "CUSUM: raw rows aggregate (map-side partial) before any window",
        "partial_count" in cusum_plan or "partial" in cusum_plan.lower(),
    )
    acf_plan = plan_of(
        series_autocorr(
            day_series, ["event_type"], "window_start", "value", 7
        )
    )
    import re as _re

    _acf_bnlj_nodes = set(
        _re.findall(r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", acf_plan)
    )
    ok &= check(
        "ACF: lag pairing is an equi-join of the bounded series frame; "
        "the ONLY nested-loop node is the 7-row lag-literal broadcast",
        "CartesianProduct" not in acf_plan
        # AQE's formatted output can list the single lag-literal
        # cross node under two ids (initial + adaptive plan)
        and len(_acf_bnlj_nodes) <= 2
        and "EvalPython" not in acf_plan,
    )
    sp_plan = plan_of(
        spearman_correlations(
            ev, [("value", "user_id")], partition_by=None
        )
    )
    ok &= check(
        "Spearman: NO row-level rank window — rows shuffle once into "
        "the pair cube (partial count), rank joins are equi-joins over "
        "the cardinality-sized support",
        "partial_count" in sp_plan
        and "CartesianProduct" not in sp_plan
        and "BroadcastNestedLoopJoin" not in sp_plan
        and "EvalPython" not in sp_plan,
    )
    bf_plan = plan_of(
        benford_check(ev, "value", ["event_type"])
    )
    ok &= check(
        "Benford: digit extraction is pure codegen (literal power "
        "table, no Python), counts partial-aggregate map-side",
        "EvalPython" not in bf_plan
        and "partial_count" in bf_plan,
    )
    cnts = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.col("event_type").alias("cat"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "cat",
            "n",
        )
    )
    churn_plan = plan_of(topk_churn(cnts, k=3))
    attr_plan = plan_of(divergence_attribution(cnts, top_n=3))
    ok &= check(
        "top-k churn + attribution: window pairing is an EQUI-join of "
        "the bounded counts frame (never a range join), raw rows "
        "partial-aggregate first",
        all(
            "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p
            and "partial_count" in p
            for p in (churn_plan, attr_plan)
        ),
    )

    from anomalydetector_spark.operators.cardinality import (
        join_fanout_profile,
        partition_balance,
    )
    from anomalydetector_spark.operators.trend import (
        ewma_chart,
        seasonal_expectation,
    )

    bal_plan = plan_of(partition_balance(ev, ["event_type"]))
    ok &= check(
        "partition balance: rows partial-aggregate map-side; every "
        "window/median stage runs over the bounded sizes frame, zero "
        "Python",
        "partial_count" in bal_plan and "EvalPython" not in bal_plan,
    )
    fan_plan = plan_of(
        join_fanout_profile(
            ev.select(F.col("user_id").alias("key")),
            ev.select(F.col("event_id").alias("key")),
            "key",
        )
    )
    ok &= check(
        "join fanout: both sides partial-aggregate to key counts "
        "BEFORE the only equi-join — the predicted join is never "
        "materialized (no row-level join in the plan), zero Python",
        "partial_count" in fan_plan
        and "CartesianProduct" not in fan_plan
        and "EvalPython" not in fan_plan,
    )
    ewma_plan = plan_of(
        ewma_chart(day_series, ["event_type"], "window_start", "value")
    )
    import re as _re2

    _ewma_pandas_nodes = set(
        _re2.findall(r"FlatMapGroupsInPandas[^(]*\((\d+)\)", ewma_plan)
    )
    ok &= check(
        "EWMA chart: exactly ONE Arrow/pandas stage (the bounded "
        "per-series walk), raw rows partial-aggregated before it",
        len(_ewma_pandas_nodes) == 1
        and "ArrowEvalPython" not in ewma_plan
        and "partial_count" in ewma_plan,
    )
    seas_plan = plan_of(
        seasonal_expectation(
            day_series, ["event_type"], "window_start", "value"
        )
    )
    ok &= check(
        "seasonal expectation: lag pairing is an equi-join of the "
        "bounded series frame; only the 4-row lag literal nested-loops, "
        "zero Python",
        "CartesianProduct" not in seas_plan
        and "EvalPython" not in seas_plan,
    )

    from anomalydetector_spark.operators.patterns import (
        check_value_pattern,
        value_pattern_profile,
    )

    pages_str = pages.select(F.col("url"), F.col("domain"))
    pat_prof_plan = plan_of(value_pattern_profile(pages_str, "url"))
    pat_chk_plan = plan_of(
        check_value_pattern(
            pages_str, "url", ["a+://a+.a+/a+9+"], partition_by="domain"
        ).verdicts
    )
    ok &= check(
        "value patterns: signature is pure codegen (regexp_replace "
        "chain, zero Python, zero joins), profile/check counts "
        "partial-aggregate map-side",
        all(
            "EvalPython" not in p and "partial_count" in p
            for p in (pat_prof_plan, pat_chk_plan)
        )
        and "CartesianProduct" not in pat_chk_plan,
    )

    ok &= check(
        "every global-mode window in every audited plan sits above an "
        "aggregate / literal frame / row limit",
        not _GLOBAL_WINDOW_OFFENDERS,
        f"{_AUDITED_PLANS} plans audited"
        + (
            "; offenders: " + "; ".join(_GLOBAL_WINDOW_OFFENDERS[:3])
            if _GLOBAL_WINDOW_OFFENDERS
            else ""
        ),
    )

    # round-4 crawl-politeness + card-PII operators
    from anomalydetector_spark.operators.robots import (
        check_robots_compliance,
        parse_robots_rules,
        politeness_schedule,
        parse_crawl_delays,
        robots_gate,
    )
    from anomalydetector_spark.operators.scrub import redact_card_numbers

    robots_dim = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /p/\nCrawl-delay: 2")],
        "domain string, robots_txt string",
    )
    url_frame = pages.select(
        F.col("url"), F.col("domain"), F.col("text")
    )
    gate_plan = plan_of(
        robots_gate(url_frame, parse_robots_rules(robots_dim))
    )
    sched_plan = plan_of(
        politeness_schedule(url_frame, parse_crawl_delays(robots_dim))
    )
    comp_plan = plan_of(
        check_robots_compliance(url_frame, robots_dim, partition_by="domain").verdicts
    )
    card_plan = plan_of(redact_card_numbers(pages.select("url", "text")))
    ok &= check(
        "robots gate/schedule/compliance: zero Python, no cartesian — "
        "rule/delay tables join as broadcast equi-joins",
        all(
            "EvalPython" not in p and "CartesianProduct" not in p
            for p in (gate_plan, sched_plan, comp_plan)
        )
        and "Broadcast" in gate_plan
        and "Broadcast" in sched_plan,
    )
    ok &= check(
        "card redaction: pure in-row codegen (no shuffle, no Python, "
        "no join)",
        "EvalPython" not in card_plan
        and "Exchange" not in card_plan
        and "Join" not in card_plan,
    )

    # round-5: hot-domain-safe schedule — the big side's window must
    # partition on (domain, __bkt), never on domain alone, and the
    # offset-repair rollup joins back as a broadcast
    from anomalydetector_spark.operators.robots import (
        politeness_schedule_bucketed,
    )

    bsched_plan = plan_of(
        politeness_schedule_bucketed(
            url_frame, parse_crawl_delays(robots_dim),
            n_buckets=8, sample_mod=1,
        )
    )
    ok &= check(
        "bucketed politeness schedule: big-side window keys on "
        "(domain, __bkt); repair + delay joins broadcast; zero Python",
        "EvalPython" not in bsched_plan
        and "CartesianProduct" not in bsched_plan
        and "__bkt" in bsched_plan
        and bsched_plan.count("BroadcastHashJoin") >= 2,
    )

    print()
    print("=== stats pass plan ===")
    print(stats_plan[:4000])
    print("=== uniqueness violations plan ===")
    print(uniq_plan[:3000])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
