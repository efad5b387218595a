"""Measure the incremental-validation win: full engine run on snapshot B
vs incremental_validate(A, B) at a small partition-churn rate.

Builds a pages table (datagen, deterministic), writes snapshot A, derives
snapshot B by editing the text of 3 mid-size domains (of ~128 — the
'changed' regime; added/removed churn is covered functionally by
tests/test_incremental.py), then times, warm and min-of-reps:

* FULL:        run_validation(B, partition_by=domain) — what a naive
               daily job pays,
* INCREMENTAL: incremental_validate(A, B, "domain") — two partition-
               digest scans (content-hash projection + aggregate, text
               never shuffles) plus the engine on only the churned
               partitions.

Both legs materialize verdicts + violations the same way. A third,
DIGEST, leg times ``partition_digests(B, "domain").collect()`` alone,
warm, in wall and CPU seconds (CPU as perfbench counts it: JVM threads
except the JIT compilers, Python workers and this process): the daily
job's only full-input read, i.e. its per-document cost. Prints one JSON
line.

Usage: python tools/incremental_bench.py [rows] [reps] [all|digest]
("digest" runs only the digest leg)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(1, os.path.join(REPO, "perfbench"))


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    legs = sys.argv[3] if len(sys.argv) > 3 else "all"

    import pyspark.sql.functions as F

    from anomalydetector_spark import datagen
    from anomalydetector_spark.engine import ValidationConfig, run_validation
    from anomalydetector_spark.incremental import incremental_validate
    from anomalydetector_spark.session import get_spark

    spark = get_spark("incremental_bench")
    base = "/tmp/incr_bench"
    old_p, new_p = f"{base}/old", f"{base}/new"

    pages = datagen.generate_pages(spark, rows, seed=7)
    doms = [
        r.domain
        for r in pages.groupBy("domain").count()
        .orderBy(F.desc("count"), "domain").limit(4).collect()
    ]
    # churn 3 mid-size domains (skip the hot one so churn stays small)
    churned = doms[1:4]
    pages.write.mode("overwrite").parquet(old_p)
    new = (
        spark.read.parquet(old_p)
        .withColumn(
            "text",
            F.when(
                F.col("domain").isin(churned),
                F.concat(F.col("text"), F.lit(" rev2")),
            ).otherwise(F.col("text")),
        )
    )
    new.write.mode("overwrite").parquet(new_p)
    old = spark.read.parquet(old_p)
    new = spark.read.parquet(new_p)
    n_parts = old.select("domain").distinct().count()
    cfg = ValidationConfig(partition_by="domain")

    def full_leg() -> float:
        t0 = time.perf_counter()
        res = run_validation(new, None, cfg)
        res.verdicts.collect()
        res.violations.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        res.unpersist()
        return dt

    def incr_leg(old_digests=None) -> float:
        t0 = time.perf_counter()
        inc = incremental_validate(
            old if old_digests is None else None,
            new,
            "domain",
            config=cfg,
            old_digests=old_digests,
        )
        assert inc.result is not None and len(inc.todo) == len(churned)
        inc.result.verdicts.collect()
        inc.result.violations.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        inc.unpersist()
        return dt

    from anomalydetector_spark.operators.snapshot import partition_digests
    from run import job_cpu_s  # perfbench's CPU-seconds probe

    def digest_leg() -> tuple[float, float]:
        c0, t0 = job_cpu_s(), time.perf_counter()
        partition_digests(new, "domain").collect()
        return time.perf_counter() - t0, job_cpu_s() - c0

    digest_leg()  # warm
    digests = [digest_leg() for _ in range(reps)]
    digest = {
        "rows": rows,
        "digest_sec": min(w for w, _ in digests),
        "digest_cpu_sec": min(c for _, c in digests),
        "all_digest": [[round(w, 2), round(c, 2)] for w, c in digests],
    }
    if legs == "digest":
        print(json.dumps(digest))
        return

    # steady state: yesterday's digests come from the store (computed by
    # yesterday's run) — materialize them once, outside the timed leg
    stored = partition_digests(old, "domain").persist()
    stored.count()

    full_leg(), incr_leg()  # warm both paths
    fulls = [full_leg() for _ in range(reps)]
    incrs = [incr_leg() for _ in range(reps)]
    cached = [incr_leg(old_digests=stored) for _ in range(reps)]
    churn_rows = new.filter(F.col("domain").isin(churned)).count()
    out = {
        "rows": rows,
        "partitions": n_parts,
        "churned_partitions": len(churned),
        "churned_rows": churn_rows,
        "full_sec": min(fulls),
        "incremental_cold_sec": min(incrs),
        "incremental_stored_digests_sec": min(cached),
        "speedup_cold": round(min(fulls) / min(incrs), 2),
        "speedup_stored": round(min(fulls) / min(cached), 2),
        "all_full": [round(x, 2) for x in fulls],
        "all_incremental_cold": [round(x, 2) for x in incrs],
        "all_incremental_stored": [round(x, 2) for x in cached],
        **digest,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
