"""Column-expression helpers — pure ``pyspark.sql.functions`` compositions
(the text decode and extractor are SQL text, shared with the check
compiler).

Everything here stays JVM-side (whole-stage codegen); no Python UDFs.
Where cross-engine determinism matters (DuckDB oracle parity), hashing is
built on ``md5`` (identical hex output in Spark and DuckDB) rather than
``xxhash64`` (Spark-only).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column) -> Column:
    """Deterministic 60-bit integer hash from md5 hex — reproducible in
    ANSI SQL as ``('0x' || substr(md5(x),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10).cast(
        "long"
    )


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty strings filtered so ``size`` is a
    true token count."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != F.lit(""))


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (n-grams) of a text column, built with
    ``sequence`` + ``transform`` — no UDF, no explode (the array stays
    inside the row, so shingling adds zero shuffle)."""
    toks = tokens(col)
    n = F.size(toks)
    grams = F.transform(
        # guarded: sequence(1, 0) DESCENDS ([1, 0]) feeding slice() an
        # invalid 0 start, and sequence(1, 0, 1) throws — texts shorter
        # than k tokens get an explicit empty index list
        F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
            F.array().cast("array<int>")
        ),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.array_distinct(grams)


def _seeded_hasher(prefix: str):
    """Unary lambda factory for :func:`minhash_signature`. MUST stay a
    one-parameter lambda: PySpark dispatches on the lambda's arity, and
    a two-parameter form (e.g. capturing the seed as a default arg,
    ``lambda s, i=i: ...``) silently receives the ELEMENT INDEX as the
    second argument — the seed then stringifies a Column repr and every
    occurrence hashes differently (regression-pinned in
    tests/test_functions.py)."""
    return lambda s: md5_long(F.concat(F.lit(prefix), s))


def minhash_signature(shingle_col: Column, n_hashes: int = 16) -> Column:
    """MinHash signature: for seed ``i``, min over shingles of
    ``md5_long(i || shingle)`` — the same hash family as
    ``dedup.banded_signatures``' explode path, computed in-row. Seeding
    via string prefix keeps the scheme reproducible in plain SQL."""
    return F.array(
        *[
            F.array_min(F.transform(shingle_col, _seeded_hasher(f"{i}|")))
            for i in range(n_hashes)
        ]
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays via ``zip_with`` +
    ``aggregate`` — runs entirely in the JVM per row."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return dot / (norm(a) * norm(b))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def lenient_utf8(col: str) -> str:
    """SQL of the SQL expression ``col`` (binary) decoded as UTF-8, with
    malformed UTF-8 becoming NULL rather than an error: under Spark 4's
    default ANSI mode ``decode(col,'UTF-8')`` THROWS on the first bad
    byte — one corrupt page of 10^12 would kill the job. The lenient
    binary→string cast + ``try_validate_utf8`` turns those rows into
    per-row violations instead. The ONE decode idiom every text-bearing
    path shares (extractor, WET ingest), so the decode semantics can
    never silently diverge between them. SQL text, so the check
    compiler's predicates and ``F.expr`` callers share one definition."""
    return f"try_validate_utf8(CAST({col} AS STRING))"


def extract_text(html: str) -> str:
    """SQL of the deterministic html → text extraction of the SQL
    expression ``html``, entirely JVM-side: lenient UTF-8 decode
    (:func:`lenient_utf8`) + tag strip. This is the engine's canonical
    extractor; the per-url byte-identity invariant (north rule) is
    defined against it — the check suite's ``text_extraction`` spec
    re-runs it over stored ``html`` and flags any row whose ``text``
    column differs byte-wise. No Python UDF: at 10^12 docs the extractor
    must live inside whole-stage codegen. Column callers wrap it in
    ``F.expr``."""
    return f"regexp_replace({lenient_utf8(html)}, '<[^>]+>', '')"
