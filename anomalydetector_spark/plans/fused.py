"""Fused check planning: TWO scans of the input feed every verdict and
every stat series.

The reference validates with one eager pass per rule over an in-memory
frame (aml_component/invoker.py:43-82) — free at 10^4 rows, fatal at
10^12. Catalyst cannot fuse our rules either: each verdict frame is its
own action, so without engine-level planning the pages table is scanned
once per check (measured: 6 scans for the default suite). This module is
the multi-query-sharing planner (SURVEY.md §4 item 2) that collapses the
suite to its information-theoretic minimum:

* **Scan A — the counts cube**: one ``groupBy(window_start,
  partition_key, len(text), lang, ref_ok).count()``. Every count-shaped
  statistic any check needs is a rollup of this cube: per-partition row
  counts (min-rows verdict), null-timestamp counts, dangling-reference
  counts, per-window doc counts / null rates / lang fractions, and EXACT
  length quantiles via inverse-CDF over the length histogram. The cube is
  windows × partitions × distinct-lengths × langs rows — O(thousands)
  regardless of input size — and aggregates map-side before its one
  shuffle (partial hash-agg in whole-stage codegen). The per-window
  series are derived from it (with the profile's distinct-key counts,
  :func:`drift_inputs`) inside drift.fused_drift's one grouped pandas
  pass per partition.

* **Scan B — the url profile**: the salted two-phase uniqueness
  aggregation (north rule) re-used three ways. Phase 1 groups by
  ``(partition_key, window_start, url, salt)`` so one pathological url
  cannot stall a reducer; phase 2 collapses salts. From the phase-2
  profile derive (a) duplicate keys + per-partition duplicate-row counts
  (the uniqueness verdict), and (b) EXACT per-window distinct-url counts
  (the ``distinct_url`` drift series) — the distinct-count shuffle is
  already paid for by the uniqueness check, so exactness is free and no
  HLL sketch is needed.

Violation-row extraction still reads the input (it must — the rows are
the output), but only in the violations DAG, which the caller
materializes separately.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_LANGS = ("en", "de", "fr", "zh", "es")

_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def duration_seconds(duration: str) -> int:
    """Parse ``'1 day'`` / ``'6 hours'`` style tumbling-window durations."""
    n, unit = duration.strip().split()
    unit = unit.rstrip("s")
    if unit not in _UNIT_SECONDS:
        raise ValueError(f"unsupported window duration: {duration!r}")
    return int(n) * _UNIT_SECONDS[unit]


def window_start_col(df: DataFrame, ts_col: str, duration: str) -> Column:
    """Tumbling-window start, arithmetically.

    Deliberately NOT ``F.window``: Spark's TimeWindowing rule injects an
    implicit ``IsNotNull(ts)`` filter, which would silently DROP
    null-timestamp rows from the shared scans — but the not-null check
    needs to count and extract exactly those rows. Epoch-floor bucketing
    aligns to the same 1970-epoch grid as ``F.window`` and maps null ts to
    a null bucket instead of dropping the row."""
    sec = duration_seconds(duration)
    # malformed timestamp values must surface as null-window rows (counted
    # by the not-null check), not ANSI cast errors — but the string
    # round-trip is only needed when the column isn't a timestamp already
    # (this expression runs inside the hot cube scan)
    dt = df.schema[ts_col].dataType.typeName()
    if dt in ("timestamp", "timestamp_ntz", "date"):
        epoch = F.col(ts_col).cast("timestamp").cast("double")
    else:
        epoch = F.col(ts_col).cast("string").try_cast("timestamp").cast("double")
    start = F.timestamp_seconds((F.floor(epoch / sec) * sec).cast("long"))
    return start.cast(df.schema[ts_col].dataType)


@dataclass
class FusedScans:
    """The two shared aggregates (callers should persist both: every
    verdict/stat frame below is a rollup of one of them)."""

    cube: DataFrame  # window_start, partition_key, _len, lang, _ok, _n
    profile: DataFrame  # partition_key, window_start, key, cnt
    has_ref: bool


def keyed_input(
    df: DataFrame,
    window_duration: str,
    partition_by: Column | str | None,
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Attach the two bucketing columns every fused consumer shares."""
    part = (
        F.lit("global")
        if partition_by is None
        else (
            F.col(partition_by).cast("string")
            if isinstance(partition_by, str)
            else partition_by.cast("string")
        )
    )
    return df.withColumn("partition_key", part).withColumn(
        "window_start", window_start_col(df, ts_col, window_duration)
    )


def build_fused_scans(
    keyed: DataFrame,
    ref_dim: DataFrame | None = None,
    ref_child_col: str = "domain",
    ref_parent_col: str = "domain",
    unique_key: str = "url",
    n_salts: int = 64,
    extra_cube_aggs: list[Column] | None = None,
    ref_strategy: str = "broadcast",
    ref_salts: int = 16,
) -> FusedScans:
    """Build (lazily) the two shared aggregates from a keyed input.

    ``extra_cube_aggs`` rides additional aggregate columns on the cube
    scan (e.g. per-row-assert violation counters from
    operators/asserts.row_assert_counts) — zero extra scans, zero extra
    cube rows, one extra long column each.

    ``ref_strategy`` picks the dimension-join ladder rung
    (operators/referential.dim_join): broadcast (default) / auto /
    shuffle / shuffle_salted; the salted rung salts on ``unique_key`` so
    the salt is deterministic under task retry."""
    if ref_dim is not None:
        from anomalydetector_spark.operators.referential import dim_join

        flagged = dim_join(
            keyed,
            ref_dim,
            ref_child_col,
            ref_parent_col,
            how="left",
            strategy=ref_strategy,
            salts=ref_salts,
            salt_on=F.col(unique_key),
        ).withColumn(
            "_ok", F.col(ref_child_col).isNull() | F.col("_known").isNotNull()
        )
    else:
        flagged = keyed.withColumn("_ok", F.lit(True))

    cube = flagged.groupBy(
        "window_start",
        "partition_key",
        F.length("text").alias("_len"),
        "lang",
        "_ok",
    ).agg(F.count(F.lit(1)).alias("_n"), *(extra_cube_aggs or []))

    return FusedScans(
        cube=cube,
        profile=url_profile(keyed, unique_key, n_salts=n_salts),
        has_ref=ref_dim is not None,
    )


def partition_rollup(cube: DataFrame) -> DataFrame:
    """Per-partition scalars for the cheap verdicts — one tiny rollup:
    ``(partition_key, rows_scanned, null_ts, dangling)`` plus, when the
    cube carries per-assert counters (``_assert_*``), their per-partition
    sums."""
    extra = [
        F.sum(c).alias(c) for c in cube.columns if c.startswith("_assert_")
    ]
    return cube.groupBy("partition_key").agg(
        F.sum("_n").alias("rows_scanned"),
        F.sum(F.when(F.col("window_start").isNull(), F.col("_n")).otherwise(0)).alias(
            "null_ts"
        ),
        F.sum(F.when(~F.col("_ok"), F.col("_n")).otherwise(0)).alias("dangling"),
        *extra,
    )


def profile_key_col(col: Column) -> Column:
    """The profile's shuffle key: 16-byte md5 of the key value.

    Shuffling the 128-bit digest instead of the raw url string cuts the
    profile exchange ~4× in bytes (measured 2.1× faster end-to-end at 4M
    rows) while keeping the uniqueness verdict exact for practical
    purposes: across 10^12 distinct keys the collision probability is
    ~(10^12)²/2^129 ≈ 1.5e-15 — far below any hardware error rate. (A
    64-bit hash would NOT do: ~27k expected birthday collisions at that
    cardinality, i.e. guaranteed false duplicates.) Null keys hash to
    null, preserving the join semantics of raw keys."""
    return F.unhex(F.md5(F.encode(col.cast("string"), "UTF-8")))


def url_profile(
    keyed: DataFrame, key_col: str, n_salts: int = 64, hash_key: bool = True
) -> DataFrame:
    """Two-phase salted key profile → ``(partition_key, window_start, key,
    cnt)`` with one row per distinct key per window per partition.

    The phase-1 salt is positional (``monotonically_increasing_id``), not
    content-derived: identical rows MUST land on different reducers —
    that's exactly the hot case being split (SURVEY.md §4 item 1).

    With ``hash_key`` (the scale default) the profile carries
    :func:`profile_key_col` digests; consumers that join back to the
    input must hash their side the same way.
    """
    key = F.col(key_col)
    if hash_key:
        key = profile_key_col(key)
    phase1 = (
        keyed.select("partition_key", "window_start", key.alias("key"))
        .withColumn(
            "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
        )
        .groupBy("partition_key", "window_start", "key", "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return phase1.groupBy("partition_key", "window_start", "key").agg(
        F.sum("_partial").alias("cnt")
    )


def dup_keys_from_profile(profile: DataFrame) -> DataFrame:
    """Globally duplicated keys ``(key, cnt)`` — cnt summed across windows
    and partitions, matching
    ``operators.uniqueness.duplicate_key_counts``."""
    return (
        profile.groupBy("key")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def per_partition_dup_counts(profile: DataFrame) -> DataFrame:
    """``(partition_key, violation_count)`` where violation_count is the
    number of rows in the partition whose key occurs more than once
    globally.

    Shape matters at 10^12 keys: the duplicate-key SET is small (it is a
    data-quality defect), so semi-joining the profile against its
    broadcast beats a ``Window.partitionBy(key)`` pass — the window
    variant shuffles AND SORTS the full profile; this is one sort-free
    hash aggregation plus a broadcast probe. Catalyst falls back to a
    shuffle join automatically if the dup set outgrows the broadcast
    threshold."""
    dups = dup_keys_from_profile(profile).select("key")
    return (
        profile.join(F.broadcast(dups), "key", "left_semi")
        .groupBy("partition_key")
        .agg(F.sum("cnt").alias("violation_count"))
    )


# log2 text-length bins for the length-histogram drift stats: bin
# ``min(floor(log2(len + 1)), 31)``, null text in bin 0 — heavy-tailed
# lengths get stable resolution at every magnitude, no (lo, hi) tuning
LEN_BINS = 32


def len_log2_bin(length: Column) -> Column:
    """The length-histogram bin of a text length, computed by Spark so the
    bin edges follow Spark's ``log2`` (not numpy's)."""
    return (
        F.least(
            F.floor(F.log2(F.coalesce(length, F.lit(0)) + 1)),
            F.lit(LEN_BINS - 1),
        )
        .cast("int")
    )


def drift_inputs(
    cube: DataFrame, profile: DataFrame, len_bins: bool = True
) -> tuple[DataFrame, DataFrame]:
    """The two tiny frames every drift stat series derives from.

    * the cube slice ``(partition_key, window_start, _w_us, _len, lang,
      _n[, _bin])`` — windowed rows only (null-timestamp rows carry no
      window; the not-null verdict surfaces them), pruned to the columns
      the series need; ``_w_us`` is the window start in epoch
      microseconds (window pairs step in epoch time: pandas sees
      session-local wall clocks, which skip or repeat an hour at a DST
      switch), ``_bin`` is :func:`len_log2_bin` of ``_len``;
    * ``(partition_key, window_start, _keys)`` — EXACT per-window
      distinct-key counts (one profile row per distinct key per window),
      the ``distinct_url`` series.
    """
    cols = [
        "partition_key",
        "window_start",
        # window_start keeps the input's timestamp type; NTZ (and date)
        # starts are session-local wall clocks, so the cast recovers
        # their instant (a no-op for TIMESTAMP input)
        F.unix_micros(F.col("window_start").cast("timestamp")).alias("_w_us"),
        "_len",
        "lang",
        "_n",
    ]
    if len_bins:
        cols.append(len_log2_bin(F.col("_len")).alias("_bin"))
    cube_slice = cube.filter(F.col("window_start").isNotNull()).select(*cols)
    # both frames descend from one keyed input: re-alias the grouping
    # columns so the cogroup's key attributes stay unambiguous
    keys = (
        profile.filter(F.col("window_start").isNotNull())
        .groupBy(
            F.col("partition_key").alias("partition_key"),
            F.col("window_start").alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("_keys"))
    )
    return cube_slice, keys


def seeded_rollup(roll: DataFrame) -> DataFrame:
    """Guarantee the rollup has at least one row: an EMPTY input produces
    no partition rows, which would silently skip the min-row-count
    failure the reference contractually raises on empty input
    (invoker.py:43-44 → NOT_ENOUGH_POINTS). The zero seed row survives
    the anti-join only when the rollup is empty."""
    key, *counters = roll.schema.fields
    # zero-fill every non-key column so the seed tracks whatever counters
    # the rollup carries (incl. per-suite `_assert_*` columns); a literal
    # projection of a one-row JVM range, so no Python RDD joins the plan
    seed = roll.sparkSession.range(0, 1, 1, 1).select(
        F.lit("global").cast(key.dataType).alias(key.name),
        *[F.lit(0).cast(f.dataType).alias(f.name) for f in counters],
    ).join(
        roll.select(F.lit(1).alias("_any")).limit(1), F.lit(True), "left_anti"
    )
    return roll.unionByName(seed)
