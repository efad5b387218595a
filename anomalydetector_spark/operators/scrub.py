"""Corpus scrubbing: line-level boilerplate removal and PII redaction.

Two standard web-pipeline stages the reference (a series detector) does
not have but any Common-Crawl-style training corpus needs:

* **Line/paragraph-level dedup** (the CCNet protocol, Wenzek et al.
  2020 §3.1: hash every paragraph, drop paragraphs whose hash repeats
  across the corpus — this is what strips cookie banners, nav menus and
  boilerplate that document-level dedup can't see).
* **PII redaction**: regex scrubbing of emails / IPv4 addresses /
  phone numbers, entirely in JVM codegen (``regexp_replace`` /
  ``regexp_count``) with RE2-compatible patterns so a DuckDB oracle
  reproduces the exact redacted strings.

Scale shape (boilerplate): the document TEXT never crosses a shuffle —
both the dictionary count and the hit lookup explode only (doc_id, pos,
line-hash) rows. The line key is a PAIR of independent ``xxhash64``
values (two seeds → effectively 128 bits: one 64-bit hash alone has
~27k birthday collisions at 10^12 lines, each deleting an innocent
line; the pair's collision odds at that scale are ~1e-15, and two long
columns shuffle and compare measurably faster than a 16-byte md5
binary — 8.3s vs 16.0s for the dictionary count at 920k pages / 10M
lines). Hit positions aggregate into a small per-doc array joined back
onto the original scan (AQE broadcasts it when it fits) and lines are
removed IN-ROW by position. PII redaction is a pure narrow projection —
zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: kind -> (regex, replacement token). Patterns restricted to the
#: RE2-compatible subset of Java regex (no lookaround, no backrefs) so
#: Spark and the DuckDB oracle redact byte-identically. Applied in this
#: dict order — email first (it contains dots an IP pattern could claim),
#: then IPv4, then plus-prefixed phone runs (which can never overlap an
#: already-redacted token).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d[\d() -]{6,}\d", "<PHONE>"),
}


def _line_keys(line: Column) -> tuple[Column, Column]:
    """The dedup key of a TRIMMED line: two independent ``xxhash64``
    values (seeds 42-default and 1). See the module docstring for why a
    hash pair instead of one 64-bit hash (web-scale collisions) or md5
    (shuffle/compare cost)."""
    t = F.trim(line)
    return F.xxhash64(t), F.xxhash64(t, F.lit(1))


def _quote_regex(sep: str) -> str:
    """Java-regex literal quoting of a separator (java.util.regex
    Pattern.quote semantics): ``F.split`` treats its pattern as a regex,
    so a caller passing '.' or '|' would otherwise get character-level
    splits. \\Q...\\E quoting covers every byte, including backslashes;
    embedded \\E sequences are stitched per Pattern.quote's algorithm."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def doc_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Explode ``text_col`` into ``(id_col, pos, line)`` — one row per
    line, ``pos`` 0-based so the doc can be reconstructed in order.
    ``sep`` is a LITERAL separator (regex-quoted before it reaches
    ``F.split``). Null texts produce no rows (null split explodes to
    nothing)."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _quote_regex(sep))
        ).alias("pos", "line"),
    )


def boilerplate_line_set(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """``(line, n_docs)`` for every non-blank trimmed line occurring in
    at least ``min_docs`` DISTINCT documents — the CCNet boilerplate
    dictionary. Counting distinct docs (not raw occurrences) keeps a
    single spammy page from promoting its own refrain to boilerplate.

    Grouping is by the 16-byte md5 of the trimmed line; ``first(line)``
    is deterministic because every line in a hash group is identical
    (md5 collisions aside). The distinct-count aggregates map-side via
    Spark's two-phase distinct rewrite.
    """
    lines = doc_lines(df, text_col=text_col, id_col=id_col, sep=sep)
    h1, h2 = _line_keys(F.col("line"))
    return (
        lines.filter(F.trim("line") != "")
        .groupBy(h1.alias("_h1"), h2.alias("_h2"))
        .agg(
            F.first(F.trim(F.col("line"))).alias("line"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("line", "n_docs")
    )


def _boilerplate_hashes(
    df: DataFrame,
    min_docs: int,
    text_col: str,
    id_col: str,
    sep: str,
) -> DataFrame:
    """Hash-only twin of :func:`boilerplate_line_set` for the removal
    path: the count shuffle carries (hash, id) pairs only — no line text
    ever enters a shuffle."""
    lines = doc_lines(df, text_col=text_col, id_col=id_col, sep=sep)
    h1, h2 = _line_keys(F.col("line"))
    return (
        lines.filter(F.trim("line") != "")
        .groupBy(h1.alias("_h1"), h2.alias("_h2"))
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("_h1", "_h2")
    )


def drop_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """``(id_col, text_col)`` with every boilerplate line (per
    :func:`boilerplate_line_set`) removed and the remaining lines
    rejoined in their original order with ``sep``.

    Matching is on the TRIMMED line (whitespace-variant copies of a
    banner still count as the same line); blank lines are never
    boilerplate and are preserved. Documents whose every line is
    boilerplate — pure banner pages — drop out of the result entirely,
    as do null-text docs; callers keeping other columns join this frame
    back on ``id_col``.

    Scale shape — the document TEXT never crosses a shuffle boundary:
    the dictionary count and the hit lookup both explode only (id, pos,
    hash-pair); the hit positions aggregate into a small per-doc
    ``bad_pos`` array (docs without hits never appear) that joins back
    onto the original scan (AQE broadcasts it when it fits), and the
    lines are removed IN-ROW by position with a higher-order filter.
    Measured at 920k pages / 10M lines / local[32]: 11.0s → 84k docs/s,
    4x the naive md5 explode→anti-join→regroup plan (43.6s), which
    shuffles every text line twice and pays 16-byte binary keys in the
    distinct-count.
    """
    bp = _boilerplate_hashes(df, min_docs, text_col, id_col, sep)
    h1, h2 = _line_keys(F.col("_l"))
    line_hashes = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _quote_regex(sep))
        ).alias("pos", "_l"),
    ).select(id_col, "pos", h1.alias("_h1"), h2.alias("_h2"))
    bad = (
        line_hashes.join(bp, ["_h1", "_h2"], "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_bad_pos"))
    )
    parts = F.split(F.col(text_col), _quote_regex(sep))
    # two-parameter HOF lambda: pyspark binds the SECOND parameter to
    # the element index — exactly the position key here
    kept = F.filter(
        parts, lambda x, i: ~F.array_contains(F.col("_bad_pos"), i)
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .join(bad, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_bad_pos").isNull(), F.col(text_col))
            .otherwise(F.array_join(kept, sep))
            .alias(text_col),
            F.size(
                F.when(F.col("_bad_pos").isNull(), parts).otherwise(kept)
            ).alias("_n_left"),
        )
        .filter(F.col("_n_left") > 0)
        .drop("_n_left")
    )


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "ipv4", "phone"),
    out_col: str | None = None,
) -> DataFrame:
    """Replace every PII match with its ``<KIND>`` token — a chained
    ``regexp_replace`` projection, fully codegen, zero shuffles. Kinds
    are applied in :data:`PII_PATTERNS` order regardless of the order
    given, so the output is deterministic."""
    col = F.col(text_col)
    for kind in PII_PATTERNS:
        if kind in kinds:
            pat, tok = PII_PATTERNS[kind]
            col = F.regexp_replace(col, pat, tok)
    return df.withColumn(out_col or text_col, col)


# ---------------------------------------------------------------------------
# payment-card redaction: regex candidates + Luhn checksum validation
# ---------------------------------------------------------------------------

#: 13-19 digits with optional single space/dash separators, not embedded
#: in a longer digit run. Deliberately RE2-compatible (word boundaries,
#: no lookaround) so the DuckDB oracle extracts the SAME candidates.
CARD_CANDIDATE = r"\b\d(?:[ -]?\d){12,18}\b"

CARD_TOKEN = "<CARD>"


def luhn_valid(digits: Column) -> Column:
    """Luhn checksum over a digits-only string column — pure codegen:
    ``aggregate(sequence(1, n), ...)`` summing each digit doubled when
    its position FROM THE RIGHT is even (the standard mod-10 scheme,
    doubled digits > 9 reduced by 9), valid iff the sum ≡ 0 (mod 10).
    NULL-safe: NULL in → NULL out; empty string → false."""
    n = F.length(digits)
    null_in = digits.isNull()
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            # position from the right
            (n - i + 1) % 2 == 0,
            # doubled, digit-summed: 2d - 9·(d > 4)
            F.substring(digits, i, 1).cast("int") * 2
            - F.when(F.substring(digits, i, 1).cast("int") > 4, 9).otherwise(
                0
            ),
        ).otherwise(F.substring(digits, i, 1).cast("int")),
    )
    return (
        F.when(null_in, F.lit(None).cast("boolean"))
        .when(n > 0, total % 10 == 0)
        .otherwise(F.lit(False))
    )


def redact_card_numbers(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    count_col: str = "n_cards",
) -> DataFrame:
    """Redact payment-card numbers: regex CANDIDATES (13-19 digit runs
    with optional single separators) are kept only when the separator-
    stripped digits pass the Luhn checksum — a bare regexp_replace
    would nuke order numbers and timestamps; the checksum keeps the
    false-positive rate where a production PII pass needs it.

    Everything is codegen higher-order functions: ``regexp_extract_all``
    finds candidates in-row, ``filter`` + :func:`luhn_valid` validates,
    and the text is rebuilt SPAN-ANCHORED: ``split`` on the same
    pattern yields the inter-match parts, each match is re-emitted as
    ``<CARD>`` when valid and verbatim otherwise, and parts + matches
    are re-interleaved with ``zip_with``. Only the matched spans are
    ever rewritten — a valid card that also happens to occur as a
    substring of a longer non-candidate digit run (say a 20-digit
    reference number) survives untouched there, which a literal
    whole-text replace would corrupt.
    Adds ``out_col`` (default: in place) and ``count_col``."""
    text = F.col(text_col)
    cands = F.regexp_extract_all(text, F.lit(CARD_CANDIDATE), 0)
    # split() walks the SAME non-overlapping left-to-right matches
    # regexp_extract_all found (same Java regex engine, same pattern),
    # so parts has exactly size(cands)+1 elements (limit -1 keeps a
    # trailing empty part).
    parts = F.split(text, CARD_CANDIDATE, -1)
    # the Luhn fold runs ONCE per candidate; the count is recovered
    # from the rewritten array (candidates are digit runs, so none can
    # literally equal the token)
    repl = F.transform(
        cands,
        lambda m: F.when(
            luhn_valid(F.regexp_replace(m, r"[ -]", "")),
            F.lit(CARD_TOKEN),
        ).otherwise(m),
    )
    redacted = F.concat(
        F.element_at(parts, 1),
        F.array_join(
            F.zip_with(
                repl,
                F.slice(parts, 2, F.size(cands)),
                lambda m, p: F.concat(m, p),
            ),
            "",
        ),
    )
    n_cards = F.size(
        F.filter(repl, lambda m: m == F.lit(CARD_TOKEN))
    )
    return df.withColumn(count_col, n_cards).withColumn(
        out_col or text_col, redacted
    )
