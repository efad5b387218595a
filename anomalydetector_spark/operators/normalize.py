"""Unicode normalization — text hygiene + a normalization-form check.

Web-crawl text arrives in mixed normalization forms (decomposed accents
from mac filesystems, ligatures and full-width compatibility characters
from PDF extraction), which breaks exact dedup, token counting, and any
byte-identity invariant downstream. Two surfaces:

* :func:`normalize_unicode` — projection adding the normalized text
  (NFC/NFKC/NFD/NFKD) as a new column.
* :func:`check_unicode_normalization` — a validation-engine check in the
  standard verdict/violation shape (checks.py contract): rows whose text
  is not already in the requested form are violations.

Spark has no built-in normalizer, so this is one of the few justified
Python sites in the repo — an Arrow-batched ``pandas_udf`` using the
pandas-native vectorized kernel ``Series.str.normalize`` (never a
row-at-a-time ``F.udf``). The comparison against the original and all
aggregation stay JVM-side, so the check adds exactly one Arrow
round-trip of the text column and nothing else.

Scale: a pure projection — no shuffle, no state; the per-batch cost is
linear in text bytes, and the Arrow batch size is the engine-wide
setting. The NFC oracle is DuckDB's ``nfc_normalize`` (utf8proc);
Unicode's normalization-stability policy guarantees CPython's
``unicodedata`` and utf8proc agree on every assigned codepoint, which
the test suite pins with accent / ligature / Hangul / full-width cases.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from anomalydetector_spark.operators.checks import (
    CheckResult,
    _part,
    _verdict_from_violation_count,
    _violation_rows,
)

FORMS = ("NFC", "NFKC", "NFD", "NFKD")

UNICODE_NOT_NORMALIZED = (
    'Column "{0}" contains text not in Unicode normalization form {1}.'
)


def _normalizer(form: str):
    if form not in FORMS:
        raise ValueError(f"form must be one of {FORMS}, got {form!r}")

    @pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        # pandas' vectorized unicodedata kernel; NULLs pass through
        return s.str.normalize(form)

    return norm


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    output_col: str | None = None,
) -> DataFrame:
    """Add ``output_col`` (default ``<text_col>_<form lowercase>``) with
    the normalized text. NULL stays NULL; everything else is the exact
    ``unicodedata.normalize(form, ...)`` output."""
    out = output_col or f"{text_col}_{form.lower()}"
    return df.withColumn(out, _normalizer(form)(F.col(text_col)))


def check_unicode_normalization(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    partition_by: Column | str | None = None,
    keep: list[str] | None = None,
) -> CheckResult:
    """Verdict + violation rows for text not already in ``form``.

    Byte identity (UTF-8 encode compare, same rule as the check
    suite's ``text_extraction`` spec) decides violation, so a normalization
    that changes bytes but not rendered appearance still flags. NULL
    text is not a violation (that's the ``not_null`` check's job)."""
    name = f"unicode_{form.lower()}"
    p = _part(df, partition_by)
    normed = _normalizer(form)(F.col(text_col))
    bad = F.col(text_col).isNotNull() & (
        F.encode(normed, "UTF-8") != F.encode(F.col(text_col), "UTF-8")
    )
    counted = p.groupBy("partition_key").agg(
        F.sum(bad.cast("long")).alias("violation_count"),
        F.count(F.lit(1)).alias("rows_scanned"),
    )
    return CheckResult(
        _verdict_from_violation_count(
            counted, name, UNICODE_NOT_NORMALIZED.format(text_col, form)
        ),
        _violation_rows(p, bad, name, keep or [text_col]),
    )
