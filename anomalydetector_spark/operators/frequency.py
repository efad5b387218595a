"""Heavy-hitter detection — the skew monitor behind salting decisions.

The north rule demands "explicit handling of domain-skewed url
partitions"; handling starts with DETECTING the hot keys. Two paths:

* :func:`heavy_hitters` — exact top-k by count: two-phase hash
  aggregation (map-side partial → one shuffle on the key) then a
  ``row_number`` window over the tiny per-key count table. Exact and
  cheap when the distinct-key count fits a shuffle (domains do:
  ~10^8 domains ≪ 10^12 pages).
* :func:`candidate_key_counts` — exact counts for a bounded candidate
  set via broadcast semi-join: the path for key spaces too large to
  shuffle in full (raw urls), fed by a local top-k candidate pass.

Skew fraction output: ``hot_fraction`` = hot-key rows / partition rows,
the number that decides whether a groupBy on this key needs salting
(plans/fused.url_profile) or AQE skew-join hints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame,
    key_col: str = "domain",
    k: int = 10,
    partition_by: str | None = None,
    min_fraction: float = 0.0,
) -> DataFrame:
    """Exact per-partition top-k keys by row count, with their share:
    ``(partition_key, key, cnt, hot_fraction, rank)``. Keys below
    ``min_fraction`` of their partition's rows are dropped."""
    part = (
        F.col(partition_by).cast("string") if partition_by else F.lit("global")
    )
    counts = (
        df.withColumn("partition_key", part)
        .groupBy("partition_key", F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = Window.partitionBy("partition_key")
    rnk = Window.partitionBy("partition_key").orderBy(
        F.col("cnt").desc(), F.col("key")
    )
    return (
        counts.withColumn(
            "hot_fraction", F.col("cnt") / F.sum("cnt").over(tot)
        )
        .withColumn("rank", F.row_number().over(rnk))
        .filter((F.col("rank") <= k) & (F.col("hot_fraction") >= min_fraction))
        .select("partition_key", "key", "cnt", "hot_fraction", "rank")
    )


def vocab_top_k(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 100,
    lowercase: bool = True,
    doc_freq: bool = False,
) -> DataFrame:
    """Corpus vocabulary head: exact top-k tokens by total occurrence
    count — ``(token, cnt, rank)``, ties broken by token ascending so
    the result is deterministic. With ``doc_freq=True``, ``cnt`` is the
    DOCUMENT frequency (number of docs containing the token — the
    quantity stopword tables and IDF weights are actually built from):
    tokens are deduplicated inside the row (``array_distinct``, free in
    codegen) before the explode, so a token-spamming doc still counts
    once and the explode emits at most the per-doc vocabulary.

    The classic wordcount shape, written so the explode never bloats a
    shuffle: tokens explode FROM the scan into a hash aggregate whose
    map-side partial combine collapses each task's token stream to its
    local distinct vocabulary (Zipf: ~10^5-10^6 distinct tokens per
    task regardless of row count), so the one shuffle moves vocabulary-
    sized partials, not the 10^14-token stream. The top-k itself is
    ``orderBy().limit(k)`` — Spark's ``TakeOrderedAndProject``, a
    per-partition partial top-k merged on the driver — NOT a global
    ``row_number`` window, which would single-partition the whole
    vocabulary table (10^8 rows on one task at web scale). Feeds
    tokenizer training, stopword-table construction, and corpus-mix
    sanity checks.
    """
    from anomalydetector_spark.functions import tokens

    col = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = tokens(col)
    if doc_freq:
        toks = F.array_distinct(toks)
    counts = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(k)
    )
    # rank rides a window over the k-row result only (k is small by
    # contract), keeping the big aggregate out of any window exchange.
    rnk = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    return counts.withColumn("rank", F.row_number().over(rnk)).select(
        "token", "cnt", "rank"
    )


def candidate_key_counts(
    df: DataFrame,
    candidates: DataFrame,
    key_col: str = "url",
) -> DataFrame:
    """Exact counts for a bounded candidate key set — the path for key
    spaces too large to shuffle in full (raw urls): broadcast-semi-join
    the candidates (tiny by contract: a prior :func:`heavy_hitters` run
    or per-executor local top-k), then one candidate-bounded hash
    aggregation. One scan, no full-key shuffle.

    (Spark's ``count_min_sketch`` aggregate builds a mergeable sketch but
    exposes no probe function in PySpark, so an "approximate" variant
    here would secretly be this exact plan anyway — better to say so.)

    Returns ``(key, cnt)``."""
    return (
        df.join(
            F.broadcast(candidates.select(F.col(key_col))), key_col, "left_semi"
        )
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col(key_col).alias("key"), "cnt")
    )
