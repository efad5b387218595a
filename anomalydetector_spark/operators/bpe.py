"""Byte-pair-encoding subword tokenizer: distributed train + apply.

BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units" — public method) learns a merge table by repeatedly
fusing the most frequent adjacent symbol pair, then segments text by
replaying those merges. This operator learns and applies a REAL merge
table, closing the tokenizer half of the training-data pipeline
(vocab_top_k → stopwords; learn_bpe_merges → subword vocabulary).

Scale shape (10^12 docs):

* **Training input is the word-frequency dictionary, not the corpus.**
  One distributed pass (explode → hash groupBy with map-side partial
  combine — the `vocab_top_k` shape: the shuffle moves vocabulary-sized
  partials, never the token stream) produces the dictionary; the merge
  loop itself runs on the driver over the top ``max_train_words``
  entries. That cap is the same sample-to-driver pattern as IVF /
  k-means centroid training (`similarity.train_ivf_centroids`), and it
  is the honest design: each merge depends on the counts AFTER the
  previous merge, so a "distributed" loop would be ``num_merges``
  full-table passes for a table that is corpus-size-independent
  (Zipf) and fits in driver memory by construction.
* **Merge learning is O(affected words) per merge** — a lazy-deletion
  heap over pair counts plus a pair→words index, the classic indexed
  implementation; only words containing the merged pair are rescanned.
* **Application is computed once per DISTINCT word** (dictionary-sized
  Arrow-batched pandas UDF with the merge list in the closure — the
  k-means assignment pattern), then broadcast-joined onto the exploded
  token stream. Token keys are maximally skewed (stopwords), so the
  join must never shuffle; per-document aggregation partial-combines
  map-side (a doc's tokens never span tasks after the explode).
  Document text never crosses a shuffle; Python touches only
  dictionary rows.

Determinism contract (mirrored bit-for-bit by the DuckDB oracle, which
replays every merge step in SQL):

* dictionary cap: top ``max_train_words`` by (count DESC, word ASC);
* pair counts: every adjacent symbol position counts (overlapping —
  "aaa" holds two (a,a) pairs), weighted by word frequency;
* best pair: highest count, ties to the lexicographically smallest
  (left, right); training stops when the best count falls below
  ``min_pair_count``;
* applying a merge rewrites occurrences greedily left-to-right without
  overlap ("aaa" + (a,a) → ("aa", "a"));
* segmentation replays merges in rank order (exactly the state the
  training dictionary evolves through), NOT lowest-rank-present-first;
  the two differ only when a later merge manufactures a string some
  earlier merge's right/left side spells differently — rank order is
  what training actually measured.
"""

from __future__ import annotations

import heapq
from collections import defaultdict
from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from anomalydetector_spark.functions import tokens

#: schema of the learned merge table (rank-ordered)
MERGES_DDL = "rank int, left string, right string, merged string, pair_count bigint"


def _merge_word(
    syms: Tuple[str, ...], left: str, right: str
) -> Tuple[str, ...]:
    """Greedy left-to-right non-overlapping rewrite of (left, right)."""
    out: List[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _learn_merges_py(
    dictionary: List[Tuple[str, int]],
    num_merges: int,
    min_pair_count: int,
) -> List[Tuple[int, str, str, str, int]]:
    """Driver-side merge loop over (word, freq) rows.

    Exact incremental maintenance: merging pair P rescans only the words
    indexed under P (their old pair multiset is subtracted, the merged
    word's added back), so counts stay authoritative even though the
    pair→words index is allowed to go stale. A lazy-deletion heap finds
    the max; entries are revalidated against the live count on pop."""
    words: List[Tuple[str, ...]] = [tuple(w) for w, _ in dictionary]
    freqs: List[int] = [c for _, c in dictionary]
    counts: dict = defaultdict(int)
    where: dict = defaultdict(set)
    heap: List[Tuple[int, str, str]] = []

    def add_word(idx: int, sign: int) -> None:
        syms, c = words[idx], freqs[idx] * sign
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] += c
            if sign > 0:
                where[(a, b)].add(idx)
            # push on EVERY change (decrements included): a pair whose
            # count only ever shrank must still own one live heap entry
            # carrying its current value, or it becomes unreachable.
            if counts[(a, b)] > 0:
                heapq.heappush(heap, (-counts[(a, b)], a, b))

    for i in range(len(words)):
        add_word(i, +1)

    merges: List[Tuple[int, str, str, str, int]] = []
    while len(merges) < num_merges:
        best = None
        while heap:
            negc, a, b = heapq.heappop(heap)
            if counts.get((a, b), 0) == -negc and -negc >= min_pair_count:
                best = (a, b, -negc)
                break
        if best is None:
            break
        left, right, pc = best
        merges.append((len(merges) + 1, left, right, left + right, pc))
        for idx in where.pop((left, right), ()):  # order-independent
            syms = words[idx]
            if (left, right) not in zip(syms, syms[1:]):
                continue  # stale index entry
            add_word(idx, -1)
            words[idx] = _merge_word(syms, left, right)
            add_word(idx, +1)
        counts.pop((left, right), None)
    return merges


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 256,
    max_train_words: int = 65536,
    min_pair_count: int = 2,
    lowercase: bool = False,
) -> DataFrame:
    """Learn a BPE merge table from a corpus.

    Returns ``(rank, left, right, merged, pair_count)`` ordered by
    rank — deterministic given the corpus and parameters (see module
    docstring for the exact contract). The distributed half is the
    word-frequency pass; the sequential merge loop runs on the capped
    dictionary (``max_train_words`` rows) on the driver."""
    from anomalydetector_spark.operators.frequency import vocab_top_k

    spark = docs.sparkSession
    head = vocab_top_k(
        docs, text_col=text_col, k=max_train_words, lowercase=lowercase
    )
    dictionary = [
        (r["token"], int(r["cnt"]))
        for r in head.select("token", "cnt").collect()
    ]
    merges = _learn_merges_py(dictionary, num_merges, min_pair_count)
    return spark.createDataFrame(merges, schema=MERGES_DDL)


def segment_words(
    words: DataFrame,
    merges: DataFrame,
    token_col: str = "token",
) -> DataFrame:
    """Segment each distinct word with a learned merge table.

    Adds ``subwords array<string>`` and ``n_subwords int``. The merge
    list (bounded by ``num_merges``) is collected once and closed over
    by an Arrow-batched pandas UDF — zero joins, zero shuffle, one pass
    over the dictionary-sized input (plan-audited). ``left + right in
    word`` is a safe superset test (adjacent symbols are contiguous in
    the original word), so most merges skip most words in O(len)."""
    import pandas as pd  # noqa: F401  (pandas_udf import side)

    ordered = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").select("left", "right", "rank").collect()
    ]

    @F.pandas_udf(ArrayType(StringType()))
    def _segment(col):
        import pandas as pd

        def seg(word):
            if word is None:
                return None
            syms: Tuple[str, ...] = tuple(word)
            for left, right in ordered:
                if left + right in word:
                    syms = _merge_word(syms, left, right)
            return list(syms)

        return col.map(seg)

    return words.withColumn("subwords", _segment(F.col(token_col))).withColumn(
        "n_subwords", F.size("subwords")
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = False,
) -> DataFrame:
    """Per-document subword statistics under a learned merge table.

    Emits every input document: ``(id_col, n_tokens, n_subwords,
    subwords_per_token)`` (6dp ratio, NULL for token-less docs).
    Segmentation runs once per distinct word; the corpus-side join is a
    broadcast of the (word, n_subwords) dictionary onto the exploded
    token stream (stopword keys make a shuffle join unthinkable), and
    the per-doc aggregate partial-combines map-side. ``explode_outer``
    keeps empty documents without a completion join."""
    col = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    tok = docs.select(F.col(id_col), F.explode_outer(tokens(col)).alias("token"))
    dictionary = (
        docs.select(F.explode(tokens(col)).alias("token")).distinct()
    )
    seg = segment_words(dictionary, merges).select("token", "n_subwords")
    per_doc = (
        tok.join(F.broadcast(seg), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("token").alias("n_tokens"),
            F.coalesce(F.sum("n_subwords"), F.lit(0)).cast("long").alias(
                "n_subwords"
            ),
        )
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_subwords",
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_subwords") / F.col("n_tokens"), 6),
        ).alias("subwords_per_token"),
    )
