"""Paragraph-level language identification and mixed-document surgery.

CCNet identifies language at PARAGRAPH granularity and keeps only the
target-language paragraphs (Wenzek et al. 2020 §3 — public method):
web pages routinely interleave navigation/boilerplate in one language
with content in another, and a document-level vote either drops the
whole page or keeps the contamination. This module scores every
paragraph with the repo's marker-vote ``lang_id``
(`operators/text.py`), summarizes per-document mixing, and rebuilds
majority-language texts byte-exactly.

Scale shape (10^12 docs): EVERYTHING is in-row. Paragraph splitting,
per-paragraph language votes (``lang_id`` nests inside a ``transform``
lambda), token-weighted majority election, and the filtered rebuild are
one fully-codegen projection — zero shuffle, zero join, zero Python,
text never leaves its row (the `scrub.py` ethos). At 100 TB the pass is
scan-bound like the other pure projections.

Determinism contract (mirrored by the DuckDB oracle):

* paragraphs split on a LITERAL separator (regex-escaped — the
  `scrub.py` round-1 advice); blank/whitespace-only paragraphs carry
  language ``'und'`` and zero tokens;
* per-paragraph vote = ``lang_id``'s exact semantics (marker-token
  hits, ties to the lexicographically LARGEST language — the
  ``greatest``-struct order — ``'und'`` when nothing hits);
* majority = the language with the most TOKENS summed over its
  paragraphs (``'und'`` paragraphs never vote), same tie order as the
  paragraph vote; a document with no voting tokens has majority
  ``'und'``;
* surgery keeps paragraphs whose language equals the majority OR is
  ``'und'`` (unknown is not evidence of wrong language — blanks and
  marker-free paragraphs survive), rebuilt with the same separator; a
  majority-``'und'`` document passes through unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.functions import tokens
from anomalydetector_spark.operators.scrub import _quote_regex
from anomalydetector_spark.operators.text import LANG_MARKERS, lang_id


def _paras(text_col: str, sep: str) -> Column:
    """Literal-separator paragraph split (Java-regex \\Q quoting, the
    scrub.py convention; NULL text → empty array)."""
    return F.coalesce(
        F.split(F.col(text_col), _quote_regex(sep)),
        F.array().cast("array<string>"),
    )


def _para_langs(paras: Column) -> Column:
    """Per-paragraph language votes — ``lang_id`` nested in-row."""
    return F.transform(paras, lambda p: lang_id(p))


def _majority(paras: Column, langs: Column) -> Column:
    """Token-weighted majority language as a (tokens, lang) struct.

    ``greatest`` over per-language structs reproduces ``lang_id``'s own
    tie order (larger language wins). Returns hits = 0 ⇒ no paragraph
    voted (majority 'und')."""
    wts = F.transform(paras, lambda p: F.size(tokens(F.lower(p))))
    per_lang = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    langs,
                    wts,
                    lambda l, w: F.when(l == F.lit(lang), w).otherwise(
                        F.lit(0)
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("toks"),
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(LANG_MARKERS)
    ]
    return F.greatest(*per_lang)


def lang_segmentation(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_dominant_share: float = 0.8,
) -> DataFrame:
    """Per-document mixing summary: ``(id_col, n_paragraphs,
    majority_lang, majority_tokens, voting_tokens, dominant_share,
    is_mixed)``.

    ``dominant_share`` = majority tokens / tokens in ALL voting
    (non-'und') paragraphs, 6dp, NULL when nothing voted. ``is_mixed``
    flags documents whose majority holds less than
    ``min_dominant_share`` of the voting tokens — the CCNet drop/split
    candidates. One codegen projection, zero shuffle."""
    paras = _paras(text_col, sep)
    langs = _para_langs(paras)
    best = _majority(paras, langs)
    wts = F.transform(paras, lambda p: F.size(tokens(F.lower(p))))
    voting = F.aggregate(
        F.zip_with(
            langs,
            wts,
            lambda l, w: F.when(l != F.lit("und"), w).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    majority = F.when(best["toks"] > 0, best["lang"]).otherwise(F.lit("und"))
    share = F.when(
        voting > 0, F.round(best["toks"] / voting, 6)
    )
    return docs.select(
        F.col(id_col),
        F.size(paras).alias("n_paragraphs"),
        majority.alias("majority_lang"),
        best["toks"].cast("long").alias("majority_tokens"),
        voting.cast("long").alias("voting_tokens"),
        share.alias("dominant_share"),
        F.coalesce(
            share < F.lit(min_dominant_share), F.lit(False)
        ).alias("is_mixed"),
    )


def _py_segment(text: str, sep: str, markers, langs_desc):
    """Pure-Python segmentation core of the Arrow twin:
    returns (paras, para_langs, para_tokens). Mirrors the HOF
    semantics exactly on ASCII input; the \\s-class divergence between
    Java regex and Python str.split is the same documented tokenizer
    caveat as every other Arrow twin in this repo."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    paras = text.split(sep)
    plangs, ptoks = [], []
    for p in paras:
        toks = [t for t in ws.split(p.strip().lower()) if t]
        best_lang, best_hits = "und", 0
        for lang in langs_desc:  # descending: first win = larger lang on ties
            hits = sum(t in markers[lang] for t in toks)
            if hits > best_hits:
                best_lang, best_hits = lang, hits
        plangs.append(best_lang)
        ptoks.append(len(toks))
    return paras, plangs, ptoks


def _py_majority(plangs, ptoks, langs_desc):
    """Token-weighted majority with the HOF tie order (larger lang)."""
    sums = {}
    for l, w in zip(plangs, ptoks):
        if l != "und":
            sums[l] = sums.get(l, 0) + w
    best_lang, best = "und", 0
    for lang in langs_desc:
        if sums.get(lang, 0) > best:
            best_lang, best = lang, sums[lang]
    return best_lang, best, sum(sums.values())


def keep_majority_paragraphs_arrow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """SCALE twin of :func:`keep_majority_paragraphs`: byte-identical
    rebuilt texts (pytest-pinned), one Arrow pass."""
    import pandas as pd  # noqa: F401

    spark_id_type = dict(docs.dtypes)[id_col]
    markers = {l: set(m) for l, m in LANG_MARKERS.items()}
    langs_desc = sorted(LANG_MARKERS, reverse=True)

    def batch(it):
        import pandas as pd

        for pdf in it:
            ids, texts, dropped, total = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ids.append(did)
                if text is None:
                    texts.append(None)
                    dropped.append(0)
                    total.append(0)
                    continue
                paras, plangs, _ptoks = _py_segment(
                    text, sep, markers, langs_desc
                )
                maj, mtok, _v = _py_majority(plangs, _ptoks, langs_desc)
                kept = [
                    p
                    for p, l in zip(paras, plangs)
                    if l == maj or l == "und"
                ]
                texts.append(sep.join(kept))
                dropped.append(len(paras) - len(kept))
                total.append(len(paras))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    text_col: texts,
                    "dropped_paragraphs": dropped,
                    "total_paragraphs": total,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        batch,
        schema=(
            f"{id_col} {spark_id_type}, {text_col} string, "
            "dropped_paragraphs int, total_paragraphs int"
        ),
    )


def keep_majority_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Byte-exact mixed-document surgery: keep every paragraph whose
    language equals the document's majority or is ``'und'``, rebuild
    with ``sep``. Output: ``(id_col, text, dropped_paragraphs,
    total_paragraphs)``. Majority-``'und'`` documents pass through
    unchanged. One codegen projection — text never crosses a shuffle."""
    paras = _paras(text_col, sep)
    langs = _para_langs(paras)
    best = _majority(paras, langs)
    majority = F.when(best["toks"] > 0, best["lang"]).otherwise(F.lit("und"))
    kept = F.zip_with(
        paras,
        langs,
        lambda p, l: F.when(
            (l == majority) | (l == F.lit("und")), p
        ).otherwise(F.lit(None).cast("string")),
    )
    kept = F.filter(kept, lambda p: p.isNotNull())
    return docs.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(sep, kept))
        .alias(text_col),
        (F.size(paras) - F.size(kept)).cast("int").alias(
            "dropped_paragraphs"
        ),
        F.size(paras).cast("int").alias("total_paragraphs"),
    )
