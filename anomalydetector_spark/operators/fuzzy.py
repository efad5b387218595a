"""Fuzzy key matching — edit-distance near-duplicate pairs over short
string keys (titles, product names, canonicalized URLs, author names):
the record-linkage primitive the hash-based dedup family can't express
(MinHash/SimHash see token/shingle overlap; a one-character typo in a
short key is invisible to both).

Blocking is the **deletion neighborhood** (FastSS / SymSpell): for
Levenshtein distance ≤ d, two strings ALWAYS share a common variant
obtainable by deleting ≤ d characters from each (delete the characters
touched by the edit script) — so candidate generation is an EQUI-JOIN
on deletion variants with ZERO false negatives, and the final
``levenshtein(a, b) ≤ d`` verification (a JVM builtin on both engines)
makes precision exact. No theta-join, no cartesian product, ever.

Scale shape: work happens per DISTINCT KEY (duplicates collapse first —
the per-distinct-shingle-set rule from the decontamination rework);
variant generation is one in-row codegen ``transform`` (O(L) variants at
d=1, O(L²) at d=2 — which is why ``max_len`` guards the explode);
the variant join's output is bounded by bucket sizes, and pairs are
``distinct``-ed before the levenshtein verify so each candidate pair is
scored once. Keys longer than ``max_len`` are EXCLUDED (documented
recall boundary — long-text near-dup belongs to the MinHash family, not
edit distance).

Output pairs are canonical (``key_a < key_b``) and carry the exact
distance; feed them to ``operators.components`` for transitive
clustering exactly like the MinHash pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _del1(s: Column) -> Column:
    """All single-character deletions of ``s`` (codegen): element i is
    ``s`` with character i+1 removed."""
    return F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - F.lit(1)),
            F.substr(s, i + F.lit(1)),
        ),
    )


def deletion_variants(s: Column, max_dist: int) -> Column:
    """The ≤ ``max_dist``-deletion neighborhood of ``s`` including ``s``
    itself, distinct, as one codegen array. d ∈ {1, 2}."""
    if max_dist == 1:
        return F.array_distinct(
            F.concat(F.array(s), _del1(s))
        )
    if max_dist == 2:
        one = _del1(s)
        two = F.flatten(F.transform(one, lambda v: _del1(v)))
        return F.array_distinct(
            F.concat(F.array(s), one, two)
        )
    raise ValueError("max_dist must be 1 or 2")


def fuzzy_key_pairs(
    df: DataFrame,
    key_col: str,
    max_dist: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """All DISTINCT key pairs within Levenshtein distance ``max_dist``:
    ``(key_a, key_b, distance)`` with ``key_a < key_b`` — exact (the
    deletion-neighborhood block has no false negatives; the levenshtein
    verify has no false positives). NULL keys and keys longer than
    ``max_len`` characters are excluded (see module docstring)."""
    k = F.col(key_col)
    keys = (
        df.filter(k.isNotNull() & (F.length(k) <= max_len))
        .select(k.alias("key"))
        .distinct()
    )
    var = keys.select(
        "key",
        F.explode(
            deletion_variants(F.col("key"), max_dist)
        ).alias("variant"),
    )
    a = var.select(F.col("key").alias("key_a"), "variant")
    b = var.select(F.col("key").alias("key_b"), "variant")
    cand = (
        a.join(b, "variant")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )
    dist = F.levenshtein("key_a", "key_b")
    return cand.withColumn("distance", dist).filter(
        F.col("distance") <= F.lit(int(max_dist))
    )
