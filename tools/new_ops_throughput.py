"""Throughput measurement for the round-3 continuation operators
(weighted sampling, token sharding, ranking metrics, KS/PSI drift,
entropy/MI, freshness) on synthetic 1M-row inputs, local[32].

Usage: python tools/new_ops_throughput.py [rows]
Prints one `| op | input | wall | rate |` markdown row per operator
(min of 3 reps, post-warmup), for BENCH.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from anomalydetector_spark.session import get_spark  # noqa: E402

N = (
    int(sys.argv[1])
    if len(sys.argv) > 1 and sys.argv[1].isdigit()
    else 1_000_000
)


def bench(name, inp, build, reps=3):
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    w = min(walls)
    rate = N / w
    unit = "rows/s" if rate < 1e6 else "rows/s"
    print(
        f"| `{name}` | {inp} | {w:.2f} s | "
        f"{rate / 1000:.0f}k {unit} |"
    )


def main():
    spark = get_spark("new-ops-bench", cores=32)

    base = (
        spark.range(N)
        .select(
            F.col("id").alias("doc_id"),
            ((F.col("id") * 7919) % 400 + 10).alias("toks"),
            ((F.col("id") * 131) % 97 + 1).cast("double").alias("w"),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") % (30 * 86400))
            ).alias("ts"),
            ((F.col("id") * 37) % 1000).cast("double").alias("value"),
            (F.col("id") % 7 == 0).cast("int").alias("label"),
            F.concat(F.lit("l"), (F.col("id") % 25).cast("string")).alias(
                "lang"
            ),
            F.concat(F.lit("s"), (F.col("id") % 40).cast("string")).alias(
                "source"
            ),
        )
        .persist()
    )
    base.count()  # warm cache

    from anomalydetector_spark.operators.sampling import weighted_sample_k

    bench(
        "weighted_sample_k (k=10k, E-S top-k)",
        f"{N//1000}k docs",
        lambda: weighted_sample_k(base, 10_000, "w"),
    )

    from anomalydetector_spark.operators.sharding import (
        assign_shards_by_tokens,
    )

    bench(
        "assign_shards_by_tokens (distributed prefix-sum)",
        f"{N//1000}k docs",
        lambda: assign_shards_by_tokens(base, 1_000_000, "toks"),
    )

    from anomalydetector_spark.operators.evaluate import ranking_metrics

    bench(
        "ranking_metrics (AUC+AP, 1000 distinct scores)",
        f"{N//1000}k scored rows",
        lambda: ranking_metrics(base, "value", "label"),
    )

    from anomalydetector_spark.operators.divergence import (
        numeric_window_ks,
        numeric_window_psi,
    )

    bench(
        "numeric_window_ks (30 windows, 1000-value support)",
        f"{N//1000}k rows",
        lambda: numeric_window_ks(
            base.select("ts", F.floor("value").alias("value"))
        ),
    )
    bench(
        "numeric_window_psi (30 windows, 20 bins)",
        f"{N//1000}k rows",
        lambda: numeric_window_psi(
            base, lo=0.0, hi=1000.0, n_bins=20
        ),
    )

    from anomalydetector_spark.operators.entropy import (
        column_entropy,
        mutual_information,
    )

    bench(
        "column_entropy (2 columns)",
        f"{N//1000}k rows",
        lambda: column_entropy(base, ["lang", "source"]),
    )
    bench(
        "mutual_information (25x40 pair table)",
        f"{N//1000}k rows",
        lambda: mutual_information(base, "lang", "source"),
    )

    from anomalydetector_spark.operators.divergence import (
        numeric_window_drift_equidepth,
    )

    bench(
        "numeric_window_drift_equidepth (sketch bounds + drift)",
        f"{N//1000}k rows",
        lambda: numeric_window_drift_equidepth(base, n_bins=10),
    )

    from anomalydetector_spark.operators.funnels import growth_accounting

    bench(
        "growth_accounting (weekly, ~30k keys)",
        f"{N//1000}k events",
        lambda: growth_accounting(
            base.select(
                (F.col("doc_id") % 30000).alias("user_id"), "ts"
            )
        ),
    )

    from anomalydetector_spark.operators.fuzzy import fuzzy_key_pairs

    fuzzy_src = base.select(
        F.concat(
            F.lit("key"), (F.col("doc_id") % 50000).cast("string")
        ).alias("k")
    )
    bench(
        "fuzzy_key_pairs (d=1, 50k distinct keys)",
        f"{N//1000}k rows",
        lambda: fuzzy_key_pairs(fuzzy_src, "k"),
    )

    from anomalydetector_spark.operators.profile import profile_json_keys

    json_src = base.select(
        F.concat(
            F.lit('{"k": '),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(', "u": "'),
            F.col("lang"),
            F.lit('"}'),
        ).alias("p")
    )
    bench(
        "profile_json_keys (2 keys discovered + typed)",
        f"{N//1000}k payloads",
        lambda: profile_json_keys(json_src, "p"),
    )

    from anomalydetector_spark.plans import suite as S

    bench(
        "suite freshness (50 partitions)",
        f"{N//1000}k rows",
        lambda: S.run_suite(
            base.withColumn(
                "bucket", (F.col("doc_id") % 50).cast("string")
            ),
            [S.freshness("ts", 3600, "2024-02-01 00:00:00")],
            partition_by="bucket",
            persist_scans=False,
        ).verdicts,
    )




def batch3(rows: int = 1_000_000):
    """Round-3 continuation batch 3: trend/changepoint/seasonality +
    conformity/correlation/churn analyzers."""
    global N
    N = rows
    spark = get_spark("new-ops-bench3", cores=32)
    base = (
        spark.range(N)
        .select(
            F.col("id").alias("doc_id"),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") % (30 * 86400))
            ).alias("ts"),
            ((F.col("id") * 37) % 1000).cast("double").alias("value"),
            ((F.col("id") * 7919) % 87 + 13).cast("double").alias("v2"),
            F.concat(F.lit("e"), (F.col("id") % 8).cast("string")).alias(
                "event_type"
            ),
            F.concat(F.lit("p"), (F.col("id") % 5).cast("string")).alias(
                "prio"
            ),
        )
        .persist()
    )
    base.count()

    from anomalydetector_spark.operators.conformity import benford_check
    from anomalydetector_spark.operators.profile import (
        spearman_correlations,
    )

    bench(
        "spearman_correlations (1 pair, cube-ranked)",
        f"{N//1000}k rows",
        lambda: spearman_correlations(base, [("value", "v2")]),
    )
    bench(
        "benford_check (5 partitions)",
        f"{N//1000}k rows",
        lambda: benford_check(base, "value", ["prio"]),
    )

    from anomalydetector_spark.operators.divergence import (
        divergence_attribution,
        topk_churn,
    )
    from anomalydetector_spark.operators.trend import (
        series_autocorr,
        series_cusum,
        theil_sen_trend,
    )

    def counts():
        return (
            base.groupBy(
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

    bench(
        "topk_churn (k=3, 30 windows x 8 cats)",
        f"{N//1000}k rows",
        lambda: topk_churn(counts(), k=3),
    )
    bench(
        "divergence_attribution (top-3, 30 windows)",
        f"{N//1000}k rows",
        lambda: divergence_attribution(counts(), top_n=3),
    )

    def series():
        return (
            base.groupBy(
                F.col("event_type"), F.window("ts", "1 day").alias("w")
            )
            .agg(F.count(F.lit(1)).cast("double").alias("value"))
            .select(
                "event_type",
                F.col("w.start").alias("window_start"),
                "value",
            )
        )

    bench(
        "series_cusum (8 series x 30 windows, from raw)",
        f"{N//1000}k rows",
        lambda: series_cusum(
            series(), ["event_type"], "window_start", "value"
        ),
    )
    bench(
        "theil_sen_trend (8 series, from raw)",
        f"{N//1000}k rows",
        lambda: theil_sen_trend(
            series().select(
                "event_type",
                F.col("window_start").cast("double").alias("x"),
                "value",
            ),
            ["event_type"],
            "x",
            "value",
        ),
    )
    bench(
        "series_autocorr (8 series, lags 1-7, from raw)",
        f"{N//1000}k rows",
        lambda: series_autocorr(
            series(), ["event_type"], "window_start", "value", 7
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

    bench(
        "partition_balance (8 partitions)",
        f"{N//1000}k rows",
        lambda: partition_balance(base, ["event_type"]),
    )
    dims = base.select((F.col("doc_id") % 100000).alias("key")).persist()
    dims.count()
    bench(
        "join_fanout_profile (100k keys, 10x fanout)",
        f"{N//1000}k x {N//1000}k rows",
        lambda: join_fanout_profile(
            base.select((F.col("doc_id") % 100000).alias("key")),
            dims,
            "key",
        ),
    )
    bench(
        "ewma_chart (8 series, from raw)",
        f"{N//1000}k rows",
        lambda: ewma_chart(
            series(), ["event_type"], "window_start", "value"
        ),
    )
    bench(
        "seasonal_expectation (8 series, lag 7 x 4, from raw)",
        f"{N//1000}k rows",
        lambda: seasonal_expectation(
            series(), ["event_type"], "window_start", "value"
        ),
    )

    from anomalydetector_spark.operators.patterns import (
        value_pattern_profile,
    )
    from anomalydetector_spark.plans import suite as S
    from anomalydetector_spark.operators.reconcile import (
        reconcile_aggregate,
    )

    strs = base.select(
        F.concat(
            F.lit("ID-"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 1000 == 0, F.lit("!?")).otherwise(
                F.lit("")
            ),
        ).alias("code")
    ).persist()
    strs.count()
    bench(
        "value_pattern_profile (collapsed)",
        f"{N//1000}k strings",
        lambda: value_pattern_profile(strs, "code"),
    )
    bench(
        "suite pattern (1 allowed signature)",
        f"{N//1000}k strings",
        lambda: S.run_suite(
            strs, [S.pattern("code", ["A+-9+"])], persist_scans=False
        ).verdicts,
    )
    summ = (
        base.select((F.col("doc_id") % 100000).alias("k"))
        .groupBy("k")
        .agg((F.count(F.lit(1)) * 10.0).alias("total"))
        .persist()
    )
    summ.count()
    bench(
        "reconcile_aggregate (100k keys, 10 rows/key)",
        f"{N//1000}k fact rows",
        lambda: reconcile_aggregate(
            base.select(
                (F.col("doc_id") % 100000).alias("k"),
                F.lit(10.0).alias("v"),
            ),
            summ,
            "k",
            "v",
            "total",
            rel_tolerance=0.01,
        ),
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "batch3":
        batch3(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    else:
        main()
