"""Streaming ingest dedup: re-delivered urls within the watermark are
dropped exactly once, and the dedup chains with the windowed stats in a
single query (duplicates never reach doc counts)."""

import glob
import os
import shutil

import pandas as pd
import pyspark.sql.functions as F

from anomalydetector_spark import datagen
from anomalydetector_spark.streaming import (
    dedup_ingest_stream,
    streaming_window_stats,
)

N_ROWS = 6_000
N_CHUNKS = 3


def _write_chunks(spark, root, pages, dup_frac_mod=5):
    """Time-ordered chunk files; every chunk also re-delivers a slice of
    ITS OWN urls (same rows again — the at-least-once failure mode)."""
    in_dir = str(root / "pages_in")
    os.makedirs(in_dir)
    n_windows = 48
    per = n_windows // N_CHUNKS
    for i in range(N_CHUNKS):
        chunk = pages.filter(
            (F.col("wid") >= i * per) & (F.col("wid") < (i + 1) * per)
        )
        dups = chunk.filter(F.crc32(F.col("url")) % dup_frac_mod == 0)
        tmp = str(root / f"chunk{i}")
        chunk.unionByName(dups).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(src, f"{in_dir}/{i:04d}.parquet")
    return in_dir


def test_streaming_dedup_drops_redeliveries_exactly(spark, tmp_path):
    # start from a unique-url base: datagen injects natural duplicate
    # urls (a data-quality scenario for the batch uniqueness check) and
    # those would also — correctly — be dropped here, muddying the count
    pages = (
        datagen.generate_pages(spark, N_ROWS).dropDuplicates(["url"]).cache()
    )
    pages.count()
    in_dir = _write_chunks(spark, tmp_path, pages)

    schema = pages.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = str(tmp_path / "deduped")
    q = (
        dedup_ingest_stream(stream, key_cols=("url",), watermark_delay="2 days")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    # every url exactly once, and exactly the original row set survives
    assert got.count() == pages.count()
    assert got.groupBy("url").count().filter(F.col("count") > 1).count() == 0
    assert got.select("url").subtract(pages.select("url")).count() == 0


def test_dedup_chains_with_window_stats_in_one_query(spark, tmp_path):
    """dedup → windowed stats is a legal multi-stateful-operator query,
    and the doc_count stats equal the duplicate-free batch counts."""
    pages = (
        datagen.generate_pages(spark, N_ROWS).dropDuplicates(["url"]).cache()
    )
    pages.count()
    in_dir = _write_chunks(spark, tmp_path, pages)

    schema = pages.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = str(tmp_path / "stats")
    q = (
        streaming_window_stats(
            dedup_ingest_stream(stream, watermark_delay="2 days"),
            window_duration="1 day",
            watermark_delay=None,  # the dedup stage already set it
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out)
        .filter(F.col("stat_name") == "doc_count")
        .select("window_start", "value")
        .toPandas()
        .set_index("window_start")["value"]
    )
    assert len(got) > 0  # at least the early windows finalized
    batch = (
        pages.groupBy(F.window("warc_ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(F.col("w.start").alias("window_start"), "value")
        .toPandas()
        .set_index("window_start")["value"]
    )
    for ws, v in got.items():
        assert v == batch[ws], f"window {ws}: stream {v} != batch {batch[ws]}"


def test_stream_validate_cli_fresh_dir_with_dedup(spark, tmp_path):
    """The full stream-validate CLI on a FRESH output dir (regression:
    stage 2's file source used to throw PATH_NOT_FOUND before stage 1
    ever ran) with --dedup-url: finalized doc counts equal the
    duplicate-free batch counts."""
    from anomalydetector_spark import cli

    pages = (
        datagen.generate_pages(spark, N_ROWS).dropDuplicates(["url"]).cache()
    )
    pages.count()
    in_dir = _write_chunks(spark, tmp_path, pages)
    out = str(tmp_path / "out")
    cli.main([
        "stream-validate", "--input-path", in_dir, "--output-path", out,
        "--checkpoint", str(tmp_path / "ckpt"), "--available-now",
        "--dedup-url", "--max-files-per-trigger", "1",
    ])
    got = (
        spark.read.parquet(f"{out}/stat_series")
        .filter(F.col("stat_name") == "doc_count")
        .toPandas()
        .set_index("window_start")["value"]
    )
    assert len(got) > 0
    batch = (
        pages.groupBy(F.window("warc_ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(F.col("w.start").alias("window_start"), "value")
        .toPandas()
        .set_index("window_start")["value"]
    )
    for ws, v in got.items():
        assert v == batch[ws]


def test_stream_validate_cli_shape_drift(spark, tmp_path):
    """--shape-drift adds the third stage: shape_drift/ holds per-window
    JS divergence rows matching the batch operator on bucketed langs."""
    from anomalydetector_spark import cli
    from anomalydetector_spark.operators.divergence import (
        categorical_window_divergence,
    )
    from anomalydetector_spark.streaming.shape_stream import DEFAULT_LANGS

    # unique-url base + --dedup-url: the harness re-delivers rows (the
    # at-least-once failure mode) and ingest dedup drops them, so the
    # stream sees exactly the batch rows
    pages = (
        datagen.generate_pages(spark, N_ROWS).dropDuplicates(["url"]).cache()
    )
    pages.count()
    in_dir = _write_chunks(spark, tmp_path, pages)
    out = str(tmp_path / "out")
    cli.main([
        "stream-validate", "--input-path", in_dir, "--output-path", out,
        "--checkpoint", str(tmp_path / "ckpt"), "--available-now",
        "--shape-drift", "--dedup-url", "--max-files-per-trigger", "1",
    ])
    got = {
        r["window_start"]: r["js_divergence"]
        for r in spark.read.parquet(f"{out}/shape_drift").collect()
    }
    assert len(got) > 0
    bucketed = pages.filter(F.col("warc_ts").isNotNull()).withColumn(
        "lang_b",
        F.when(F.col("lang").isin(*DEFAULT_LANGS), F.col("lang")).otherwise(
            F.lit("other")
        ),
    )
    exp = {
        r["window_start"]: r["js_divergence"]
        for r in categorical_window_divergence(
            bucketed, ts_col="warc_ts", cat_col="lang_b"
        ).collect()
    }
    for w, js in got.items():
        assert abs(js - exp[w]) < 1e-9, (w, js, exp[w])
    pages.unpersist()


def test_stream_validate_cli_quarantine(spark, tmp_path):
    """--quarantine streams every input row into the clean/quarantined
    split with stateless tags (null ts + suite row asserts), exactly
    matching the batch tagger on the same rows."""
    import json

    from anomalydetector_spark import cli
    from anomalydetector_spark.operators import quarantine as Q

    pages = datagen.generate_pages(spark, N_ROWS).dropDuplicates(["url"]).cache()
    pages.count()
    in_dir = _write_chunks(spark, tmp_path, pages, dup_frac_mod=10**9)
    suite = {"asserts": [{"name": "text_nonempty",
                          "expr": "text IS NOT NULL AND length(text) > 0"}]}
    spath = str(tmp_path / "suite.json")
    with open(spath, "w") as fh:
        json.dump(suite, fh)
    out = str(tmp_path / "out")
    cli.main([
        "stream-validate", "--input-path", in_dir, "--output-path", out,
        "--checkpoint", str(tmp_path / "ckpt"), "--available-now",
        "--quarantine", "--suite", spath,
    ])
    rows = spark.read.parquet(f"{out}/rows")
    n_in = spark.read.parquet(in_dir).count()
    assert rows.count() == n_in  # every delivered row exactly once
    stream_counts = {
        r[Q.STATUS_COL]: r.n_rows for r in Q.split_counts(rows).collect()
    }
    # batch twin over the same delivered rows
    from anomalydetector_spark.operators.asserts import RowAssert
    from anomalydetector_spark.plans import suite as S

    batch = Q.tag_rows(
        spark.read.parquet(in_dir),
        [
            RowAssert("text_nonempty", "text IS NOT NULL AND length(text) > 0"),
            S.not_null_ts("warc_ts"),
        ],
    )
    batch_counts = {
        r[Q.STATUS_COL]: r.n_rows for r in Q.split_counts(batch).collect()
    }
    assert stream_counts == batch_counts
    assert stream_counts.get(Q.QUARANTINED, 0) > 0  # null-ts regime present


def test_stream_quarantine_audits_raw_rows_with_dedup(spark, tmp_path):
    """--dedup-url + --quarantine: the dedup stage feeds the stats, but
    the quarantine ledger still records EVERY delivered row (duplicates
    included) — the dead-letter audit must not shrink with dedup."""
    from anomalydetector_spark import cli

    pages = datagen.generate_pages(spark, 3_000).dropDuplicates(["url"]).cache()
    pages.count()
    in_dir = _write_chunks(spark, tmp_path, pages, dup_frac_mod=5)
    out = str(tmp_path / "out")
    cli.main([
        "stream-validate", "--input-path", in_dir, "--output-path", out,
        "--checkpoint", str(tmp_path / "ckpt"), "--available-now",
        "--dedup-url", "--quarantine",
    ])
    n_delivered = spark.read.parquet(in_dir).count()
    assert n_delivered > pages.count()  # re-deliveries present
    assert spark.read.parquet(f"{out}/rows").count() == n_delivered
