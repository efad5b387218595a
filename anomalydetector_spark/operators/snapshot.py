"""Exact cross-snapshot diff for table-version validation.

The engine's Theta-sketch store (plans/sketches.py) estimates snapshot
churn without rescans — the right tool for the per-window drift series.
This operator is its EXACT complement: given two materialized snapshots
of a keyed table (two Iceberg snapshot reads), classify every key as

* ``added``     — key only in the new snapshot,
* ``removed``   — key only in the old snapshot,
* ``changed``   — key in both, compared content differs,
* ``unchanged`` — key in both, compared content identical,

the verdict a validation run needs before trusting an incremental
re-validation plan ("only re-check added ∪ changed").

Scale shape: each side is projected down to (key, 16-byte md5 of the
compared columns) BEFORE the shuffle — the full-outer join moves ~50
bytes/row regardless of row width, and Catalyst prunes everything else
from the scans. Content equality uses md5 (128-bit), not xxhash64: at
10^12 keys a 64-bit content hash silently mislabels ~27k genuinely
changed rows as unchanged (birthday bound), which is exactly the verdict
this operator exists to get right. The reference's analogue is its
timestamp-keyed series compare (per-url byte-identity invariant,
msanomalydetector/spectral_residual.py unique-key contract); this is the
same contract lifted to table versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _injective_tuple(df: DataFrame, cols: list[str]):
    """Injective string encoding of a column tuple: null sentinel +
    length prefix per part, so ('a', null) vs (null, 'a') and values
    containing the join delimiter never collapse into one key. Binary
    columns go through base64 (string reinterpretation is lossy on
    invalid UTF-8)."""
    from pyspark.sql.types import BinaryType

    binary_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, BinaryType)
    }

    def _as_text(c: str):
        return (
            F.base64(F.col(c)) if c in binary_cols else F.col(c).cast("string")
        )

    return F.concat(
        *[
            F.coalesce(
                F.concat(
                    F.length(_as_text(c)).cast("string"),
                    F.lit(":"),
                    _as_text(c),
                ),
                F.lit("<NULL>"),
            )
            for c in cols
        ]
    )


def _keyed_digest(df: DataFrame, key_col: str, compare_cols: list[str]) -> DataFrame:
    # concat_ws skips nulls, which would make ("a", null) == ("a", "");
    # each column is wrapped with an explicit null sentinel + length
    # prefix (_injective_tuple, binary via base64) and tagged with its
    # name's length, so the digest is injective over the tuple.
    parts = [
        F.concat(F.lit(f"{len(c)}:"), _injective_tuple(df, [c]))
        for c in compare_cols
    ]
    return df.select(
        F.col(key_col).alias("key"), F.md5(F.concat(*parts)).alias("digest")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key churn verdict between two snapshots → (key, status).

    ``compare_cols`` defaults to every shared non-key column. Duplicate
    keys within a snapshot violate the uniqueness contract this engine
    checks separately (operators/uniqueness); here the LAST-writer digest
    per key is taken deterministically (max digest) so the diff stays
    well-defined on dirty inputs instead of exploding the join.
    """
    if compare_cols is None:
        compare_cols = sorted(
            (set(old.columns) & set(new.columns)) - {key_col}
        )
    o = _keyed_digest(old, key_col, compare_cols).groupBy("key").agg(
        F.max("digest").alias("old_digest")
    )
    n = _keyed_digest(new, key_col, compare_cols).groupBy("key").agg(
        F.max("digest").alias("new_digest")
    )
    joined = o.join(n, "key", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("key").alias(key_col), status.alias("status"))


def snapshot_churn_stats(diff: DataFrame) -> DataFrame:
    """One-row churn summary with rates over the NEW snapshot size —
    the scalars a validation manifest records per (snapshot, partition)
    and the drift engine scores as a series across snapshots."""
    agg = diff.agg(
        F.sum((F.col("status") == "added").cast("long")).alias("n_added"),
        F.sum((F.col("status") == "removed").cast("long")).alias("n_removed"),
        F.sum((F.col("status") == "changed").cast("long")).alias("n_changed"),
        F.sum((F.col("status") == "unchanged").cast("long")).alias("n_unchanged"),
    )
    # nullif: an EMPTY new snapshot (everything removed) has no defined
    # rate — null, not a crash (ANSI mode throws DIVIDE_BY_ZERO even for
    # double division) and not a misleading 0
    new_size = F.nullif(
        (F.col("n_added") + F.col("n_changed") + F.col("n_unchanged")).cast(
            "double"
        ),
        F.lit(0.0),
    )
    return agg.select(
        "n_added", "n_removed", "n_changed", "n_unchanged",
        (F.col("n_added") / new_size).alias("added_rate"),
        (F.col("n_changed") / new_size).alias("changed_rate"),
    )


def revalidation_keys(diff: DataFrame, key_col: str = "url") -> DataFrame:
    """Keys an incremental run must re-validate: added ∪ changed."""
    return diff.filter(F.col("status").isin("added", "changed")).select(key_col)


def _hash_parts(df: DataFrame, compare_cols: list[str]) -> list:
    """``(isnull(c), c)`` per compare column, the argument list of one
    xxhash64 chain. xxhash64 skips NULL arguments, so the flag keeps
    NULL apart from ``''`` and ('a', NULL) apart from (NULL, 'a').
    Nested values hash through their string rendering: xxhash64 rejects
    MAP (``DATATYPE_MISMATCH.HASH_MAP_TYPE``) and skips NULL array
    elements and struct fields, so [NULL, 'a'] and ['a', NULL] would
    hash equal."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    nested = (ArrayType, MapType, StructType)
    parts = []
    for c in compare_cols:
        col = F.col(c)
        if isinstance(df.schema[c].dataType, nested):
            col = col.cast("string")
        parts += [F.isnull(F.col(c)), col]
    return parts


def partition_digests(
    df: DataFrame,
    partition_cols: list[str] | str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Order-insensitive per-PARTITION content digest — the granularity
    the checkpoint manifest resumes at, so an incremental run can decide
    "skip this partition, it is byte-identical to the validated snapshot"
    with one aggregation and NO per-key join.

    The digest is (row count, two sums of per-row 64-bit hashes as
    decimal(38,0)): a multiset digest, so row order and file layout
    never matter; SUM not XOR because identical duplicate rows (the
    dup-url regime) would cancel pairwise under XOR and a partition
    gaining two copies of a row would look unchanged. Sums are exact —
    decimal(38,0) holds 10^12 rows × 2^63 with headroom, and ANSI long
    overflow can never fire.

    Each per-row hash is a native ``xxhash64`` chain over
    ``(isnull(c), c)`` for every compare column; the two chains are
    seeded apart by a leading literal (1 and 2). No per-row string is
    built, so the pass costs about what reading the compare columns
    costs. An edit goes unnoticed only if the count and BOTH 64-bit sums
    match: ~2^-128 per changed partition for accidental edits. The
    question is per partition against its own previous digest, not a
    birthday bound over keys, so 2×64 bits stand where the md5 scheme
    this replaces kept 2×60 (the per-key ``snapshot_diff`` keeps md5).
    xxhash64 is not a cryptographic hash: digests guard against
    accidental change, not an adversary. Spark's hash normalises
    floating point, so ``-0.0``/``0.0`` and NaNs with different payloads
    hash equal (the md5 scheme's string rendering kept ``-0.0`` apart).
    Stores written under the md5 scheme carry another ``digest_meta``
    tag and read as absent (``incremental._digest_meta``).
    """
    if isinstance(partition_cols, str):
        partition_cols = [partition_cols]
    if compare_cols is None:
        compare_cols = sorted(set(df.columns) - set(partition_cols))
    # Injective partition key: a plain concat_ws would skip NULLs and
    # leave the delimiter unescaped, so multi-column tuples like
    # ('a', null) vs (null, 'a') — or values containing the delimiter —
    # would collapse into one partition and changed_partitions could
    # merge or mislabel them. Multi-column keys therefore use a
    # null-sentinel + length-prefix encoding (_injective_tuple).
    # A single partition column needs no concatenation, so its raw value
    # is kept (human-readable, oracle-matchable); a lone NULL maps to the
    # '<NULL>' sentinel so the changed_partitions full-outer join can
    # still match it across snapshots (null keys never join-match).
    if len(partition_cols) == 1:
        part_key = F.coalesce(
            F.col(partition_cols[0]).cast("string"), F.lit("<NULL>")
        )
    else:
        part_key = _injective_tuple(df, partition_cols)
    parts = _hash_parts(df, compare_cols)

    def _hash_sum(seed: int):
        return F.sum(F.xxhash64(F.lit(seed), *parts).cast("decimal(38,0)"))

    return df.groupBy(part_key.alias("partition")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        _hash_sum(1).alias("digest_sum_a"),
        _hash_sum(2).alias("digest_sum_b"),
    )


def changed_partitions(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-partition churn verdict from two :func:`partition_digests`
    frames → (partition, status) with the same status vocabulary as
    :func:`snapshot_diff`. An incremental validation re-runs exactly the
    partitions with status in (added, changed)."""
    o = old.select(
        "partition",
        F.col("n_rows").alias("_on"),
        F.col("digest_sum_a").alias("_oa"),
        F.col("digest_sum_b").alias("_ob"),
    )
    n = new.select(
        "partition",
        F.col("n_rows").alias("_nn"),
        F.col("digest_sum_a").alias("_na"),
        F.col("digest_sum_b").alias("_nb"),
    )
    joined = o.join(n, "partition", "full_outer")
    status = (
        F.when(F.col("_on").isNull(), F.lit("added"))
        .when(F.col("_nn").isNull(), F.lit("removed"))
        .when(
            (F.col("_on") == F.col("_nn"))
            & (F.col("_oa") == F.col("_na"))
            & (F.col("_ob") == F.col("_nb")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select("partition", status.alias("status"))
