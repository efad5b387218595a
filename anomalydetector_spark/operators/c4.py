"""C4 corpus cleaning (Raffel et al. 2020, "Exploring the Limits of
Transfer Learning with a Unified Text-to-Text Transformer", §2.2) — the
other canonical published web-text filter set next to Gopher
(``operators/quality.py``). The reference repo
(/root/reference, a series detector) has no corpus stage; this is part
of the training-data-pipeline surface the engine adds on top of the
validation core.

The paper's rules, implemented at the paper's granularity:

* line level (a "line" is a candidate sentence):
    - keep only lines ending in a terminal punctuation mark
      (``. ! ? "``),
    - keep only lines with at least ``min_line_words`` (3) words,
    - drop any line containing the word "javascript" (case-folded);
* page level (flags over the ORIGINAL text + the retained lines):
    - ``ok_min_sentences`` — at least ``min_sentences`` (5) retained
      lines survive the line surgery,
    - ``ok_no_lorem``      — "lorem ipsum" absent (case-folded),
    - ``ok_no_brace``      — no ``{`` anywhere (code marker),
    - ``ok_no_badwords``   — no case-folded whole-word hit from the
      caller-supplied blocklist (the paper uses the public
      "List of Dirty, Naughty, Obscene or Otherwise Bad Words";
      supply it as ``badwords`` — the default is empty, NOT the list);
* corpus level: :func:`c4_span_dedup` — "we discarded all but one of
  any three-sentence span occurring more than once in the data set".

Scale shape: the line surgery and every page flag are ONE fully-codegen
projection (the line array is built once per row; zero shuffle, zero
Python) — at 10^12 pages the gate fuses into the preceding scan exactly
like ``gopher_quality_flags``. The span dedup's span/removal stages
never shuffle text: spans hash IN-ROW (md5 over the 3 joined lines —
lines cannot contain the separator, so the digest is injective), only
``(doc, start, hash)`` triples cross the wire, the keep-first winner is
a map-side-combined min-aggregate, and removal positions come back as a
small per-doc array applied in-row (the same text-stays-put design as
``scrub.drop_boilerplate_lines``; like there, the final join of that
ids-only removal table back onto the corpus broadcasts under AQE when
it fits, falling back to a doc_id-keyed join).
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.functions import tokens

#: the paper's terminal punctuation: period, !, ?, end quotation mark.
TERMINAL_PUNCT = (".", "!", "?", '"')

_SEP = "\n"


def _retained_lines(
    text: Column,
    min_line_words: int,
    terminal: Sequence[str],
    drop_word: str,
) -> Column:
    """Array of lines surviving the C4 line rules, trimmed, in order."""
    lines = F.split(F.coalesce(text, F.lit("")), _SEP)

    def keep(raw: Column) -> Column:
        t = F.trim(raw)
        ends = None
        for p in terminal:
            c = t.endswith(p)
            ends = c if ends is None else (ends | c)
        return (
            ends
            & (F.size(tokens(t)) >= min_line_words)
            & ~F.lower(t).contains(drop_word)
        )

    return F.transform(F.filter(lines, keep), F.trim)


def c4_page_flags(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 3,
    min_sentences: int = 5,
    badwords: Sequence[str] = (),
    terminal: Sequence[str] = TERMINAL_PUNCT,
) -> DataFrame:
    """Append per-rule flags, ``keep``, the cleaned text (retained lines
    re-joined) and ``n_sentences``. Flag true = PASSES the rule."""
    c = F.col(text_col)
    kept = _retained_lines(c, min_line_words, terminal, "javascript")
    low = F.lower(F.coalesce(c, F.lit("")))

    bad = F.lit(False)
    if badwords:
        # word-BOUNDARY match, not whitespace-token equality: the paper
        # drops a page containing a listed word even when punctuation is
        # glued to it ('... badword.') and the LDNOOBW list contains
        # multi-word phrases a single token can never equal. \b is the
        # ASCII word boundary in both Java regex and RE2, so the DuckDB
        # twin reproduces the flag exactly.
        pat = (
            r"\b(?:"
            + "|".join(re.escape(b.lower()) for b in badwords)
            + r")\b"
        )
        bad = low.rlike(pat)

    out = df.withColumn("_c4k", kept).withColumns(
        {
            "clean_text": F.array_join(F.col("_c4k"), _SEP),
            "n_sentences": F.size(F.col("_c4k")),
            "ok_min_sentences": F.size(F.col("_c4k")) >= min_sentences,
            "ok_no_lorem": ~low.contains("lorem ipsum"),
            "ok_no_brace": ~F.coalesce(c, F.lit("")).contains("{"),
            "ok_no_badwords": ~bad,
        }
    )
    return out.withColumn(
        "keep",
        F.col("ok_min_sentences")
        & F.col("ok_no_lorem")
        & F.col("ok_no_brace")
        & F.col("ok_no_badwords"),
    ).drop("_c4k")


def span_occurrences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
) -> DataFrame:
    """``(id_col, start, span_hash)`` for every ``span``-line window
    (1-based start). The hash is md5 over the joined lines — computed
    in-row, so text never leaves its scan partition."""
    ls = F.split(F.coalesce(F.col(text_col), F.lit("")), _SEP)
    n = F.size(ls)
    starts = F.when(
        n >= span, F.sequence(F.lit(1), n - span + 1)
    ).otherwise(F.array().cast("array<int>"))
    occ = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("start"),
            F.md5(F.array_join(F.slice(ls, i, span), _SEP)).alias(
                "span_hash"
            ),
        ),
    )
    return docs.select(
        F.col(id_col), F.explode(occ).alias("o")
    ).select(id_col, "o.start", "o.span_hash")


def c4_span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
) -> DataFrame:
    """Corpus-level keep-first span dedup (the C4 "all but one of any
    three-sentence span" rule; same protocol as TFDS's
    ``c4_utils.remove_duplicate_text``, re-derived for Spark).

    An occurrence is ``(doc, start)``; the KEEPER of a span hash is the
    minimum ``(doc, start)`` (doc order = ascending id — deterministic,
    so re-runs keep the same copy). Every line covered by a non-keeper
    occurrence of a hash seen ≥ 2 times is removed; the text is
    reassembled in original line order (possibly empty). Output: input
    columns with ``text_col`` rewritten, plus ``n_lines`` (original)
    and ``n_removed``.

    Plan: in-row hashing → ONE groupBy on the hash (map-side combined
    count+min over (doc,start) pairs — ids only) → equi-join back on
    the hash → per-doc removal-position array → equi-join on id →
    in-row line filter. Two shuffles total, both on ids/hashes; the
    heaviest frame is O(total lines), never O(total text)."""
    occ = span_occurrences(docs, id_col, text_col, span)
    firsts = occ.groupBy("span_hash").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct(id_col, "start")).alias("first"),
    )
    dupes = (
        occ.join(firsts.filter(F.col("n_occ") >= 2), "span_hash")
        .filter(
            (F.col(id_col) != F.col(f"first.{id_col}"))
            | (F.col("start") != F.col("first.start"))
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("start"), F.col("start") + span - 1)
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_rm"))
    )
    ls = F.split(F.coalesce(F.col(text_col), F.lit("")), _SEP)
    kept = F.filter(
        ls, lambda l, i: ~F.array_contains(F.col("_rm"), i + 1)
    )
    others = [c for c in docs.columns if c != text_col]
    return (
        docs.join(dupes, id_col, "left")
        .withColumn(
            "_rm", F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
        )
        .select(
            *others,
            F.array_join(kept, _SEP).alias(text_col),
            F.size(ls).alias("n_lines"),
            F.size("_rm").alias("n_removed"),
        )
    )
