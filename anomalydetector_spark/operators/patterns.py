"""Value-pattern (char-class signature) profiling + compliance — the
shape-of-the-string lens: ids, codes, dates and urls have a stable
character-class silhouette ("AA-9999", "9999-99-99") long before any
specific regex is written down. The profiler DISCOVERS the dominant
signatures, ``suggest_value_patterns`` freezes them into an allowed
set, and a check suite's ``pattern`` spec (plans/suite.py) enforces
that set with row-addressable violations — the same discover → suggest
→ enforce loop as the JSON key profiler.

Signature alphabet (ASCII classes; applied in this order so classes
never re-match their own output):

* ``[0-9]`` → ``9``, ``[A-Z]`` → ``A``, ``[a-z]`` → ``a``,
* THEN any remaining non-ASCII char → ``u`` (CJK text collapses to
  ``u+`` instead of exploding the signature space; ``u`` runs last so
  its lowercase placeholder cannot be re-classified),
* punctuation/space kept verbatim (it is usually the structure:
  ``9999-99-99`` keeps its dashes).

``collapsed=True`` (default) folds runs of the same class into
``<class>+`` (``A+-9+``) — the scale-robust form (a 6-digit and an
8-digit id share one signature); ``collapsed=False`` keeps exact
lengths (``AA-9999``) for fixed-width codes.

Everything is a pure-codegen ``regexp_replace`` chain (zero Python,
zero joins for the signature itself); the profile is one
map-side-combined groupBy whose shuffle moves signature-cardinality
partials. The DuckDB twin replays the same chain (RE2 and Java regex
agree on these explicit ASCII classes; DuckDB needs the ``'g'`` flag
Spark implies).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.operators.checks import sql_string

# (pattern, replacement) — order matters; shared with the SQL twin
SIGNATURE_STEPS: tuple[tuple[str, str], ...] = (
    (r"[0-9]", "9"),
    (r"[A-Z]", "A"),
    (r"[a-z]", "a"),
    (r"[^\x00-\x7F]", "u"),
)
COLLAPSE_STEPS: tuple[tuple[str, str], ...] = (
    (r"u{2,}", "u+"),
    (r"9{2,}", "9+"),
    (r"A{2,}", "A+"),
    (r"a{2,}", "a+"),
)


def signature_sql(column: str, collapsed: bool = True) -> str:
    """The char-class signature of string column ``column``, as SQL
    (NULL → NULL)."""
    out = f"`{column}`"
    steps = SIGNATURE_STEPS + (COLLAPSE_STEPS if collapsed else ())
    for pat, rep in steps:
        out = f"regexp_replace({out}, {sql_string(pat)}, {sql_string(rep)})"
    return out


def value_pattern_profile(
    df: DataFrame,
    column: str,
    part_cols: Sequence[str] = (),
    collapsed: bool = True,
) -> DataFrame:
    """Signature histogram per partition: ``(*part_cols, signature,
    n_values, share, rank)`` — rank 1 the dominant signature (ties:
    signature ascending), share of the partition's non-null values.
    NULLs excluded (completeness is its own check)."""
    from pyspark.sql import Window as W

    part = list(part_cols)
    sigs = df.filter(F.col(column).isNotNull()).select(
        *part, F.expr(f"{signature_sql(column, collapsed)} AS signature")
    )
    counts = sigs.groupBy(*part, "signature").agg(
        F.count(F.lit(1)).alias("n_values")
    )
    tot = W.partitionBy(*part) if part else W.partitionBy(F.lit(1))
    rank_w = (
        W.partitionBy(*part) if part else W.partitionBy(F.lit(1))
    ).orderBy(F.col("n_values").desc(), F.col("signature").asc())
    return counts.select(
        *part,
        "signature",
        F.col("n_values").cast("long").alias("n_values"),
        (
            F.col("n_values").cast("double")
            / F.sum("n_values").over(tot).cast("double")
        ).alias("share"),
        F.row_number().over(rank_w).alias("rank"),
    )


def suggest_value_patterns(
    profile: DataFrame, min_coverage: float = 0.99,
    max_patterns: int = 1000,
) -> list[str]:
    """Freeze the dominant signatures into an allowed set: the smallest
    rank-prefix of the GLOBAL profile (no part_cols) whose cumulative
    share reaches ``min_coverage``. The collect is by design (the
    result is a config literal for a suite's ``pattern`` check) but it
    is CAPPED at the ``max_patterns`` top-ranked signatures — a
    pathological free-text column can carry near-distinct signatures
    per row, and an uncapped collect of that profile would be
    data-sized. If coverage isn't reached within the cap, the top
    ``max_patterns`` signatures are returned (an allowed set looser
    than requested is the safe direction: fewer false violations)."""
    rows = (
        profile.select("signature", "share", "rank")
        .filter(F.col("rank") <= max_patterns)
        .orderBy("rank")
        .limit(max_patterns)
        .collect()
    )
    out, cum = [], 0.0
    for r in rows:
        out.append(r.signature)
        cum += r.share
        if cum >= min_coverage:
            break
    return out
