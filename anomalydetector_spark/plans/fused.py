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
  length quantiles via inverse-CDF over the length histogram. The cube
  has one row per (window, partition, exact text length, lang, ref_ok)
  combination that occurs, so it grows with the number of distinct text
  lengths per window: 31,521 rows for 50,000 pages over 48 daily windows
  in one partition. It aggregates map-side before its one shuffle
  (partial hash-agg in whole-stage codegen). The per-window series are
  derived from it (with the profile's distinct-key counts,
  :func:`drift_inputs`) inside drift.fused_drift's one grouped pandas
  pass per partition.

* **Scan B — the url profile**: the salted two-phase uniqueness
  aggregation (north rule) re-used three ways. Phase 1 groups by
  ``(partition_key, window_start, url, salt)`` so one pathological url
  cannot stall a reducer; phase 2 collapses salts on a shuffle by the
  key alone, so each key's rows share a task and the profile carries
  the key's input-wide count ``_key_cnt`` without another shuffle. From
  the profile derive (a) the duplicated keys and per-partition
  duplicate-row counts (the uniqueness verdict, :func:`dup_rows`) as
  filters of the cache, and (b) EXACT per-window distinct-url counts
  (the ``distinct_url`` drift series) — the distinct-count shuffle is
  already paid for by the uniqueness check, so exactness is free and no
  HLL sketch is needed.

Both ``engine.run_validation`` and ``plans/suite.run_suite`` compile
their checks onto these pieces through one compiler
(:func:`plans.suite.compile_checks`): every check's counter rides the
cube (or a key profile), :func:`partition_rollup` gathers every counter
per partition in one aggregation, and :func:`rollup_verdicts` turns it
into every verdict row in one projection.

Violation-row extraction still reads the input (it must — the rows are
the output), but once for all checks and only in the violations DAG,
which the caller materializes separately.

Planning runs on every validation, so the expressions here are mostly
SQL text: the JVM parses one in a single py4j call, where a Column chain
costs a round trip per method.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.operators import errors as E
from anomalydetector_spark.operators.checks import sql_string

DEFAULT_LANGS = ("en", "de", "fr", "zh", "es")

# the pages engine's extra cube groups: exact text length and lang, the
# grain every drift stat series is derived from
PAGES_GROUPS = ("length(text) AS _len", "lang")

# phase-1 salts of the salted key profile: one hot key's rows spread over
# this many groups (operators/uniqueness.duplicate_key_counts salts alike)
N_SALTS = 64

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


_TS_TYPES = ("timestamp", "timestamp_ntz", "date")


def timestamp_sql(df: DataFrame, ts_col: str) -> str:
    """Column ``ts_col`` as a TIMESTAMP, as SQL: NULL where the value is
    NULL or, for a non-timestamp column, does not parse as a timestamp.
    Malformed values surface as NULL (counted by the not-null check), not
    as ANSI cast errors; the string round-trip is only paid when the
    column isn't a timestamp already (this expression runs inside the hot
    cube scan)."""
    if df.schema[ts_col].dataType.typeName() in _TS_TYPES:
        return f"CAST(`{ts_col}` AS TIMESTAMP)"
    return f"try_cast(CAST(`{ts_col}` AS STRING) AS TIMESTAMP)"


def epoch_seconds_sql(df: DataFrame, ts_col: str) -> str:
    """Column ``ts_col`` as epoch seconds (:func:`timestamp_sql`), as
    SQL."""
    return f"CAST({timestamp_sql(df, ts_col)} AS DOUBLE)"


def null_ts_sql(df: DataFrame, ts_col: str) -> str:
    """SQL true where column ``ts_col`` is NULL or does not parse as a
    timestamp (where :func:`timestamp_sql` is NULL). A timestamp or date
    column is NULL-tested as is: its cast cannot fail."""
    if df.schema[ts_col].dataType.typeName() in _TS_TYPES:
        return f"`{ts_col}` IS NULL"
    return f"{timestamp_sql(df, ts_col)} IS NULL"


def window_start_col(df: DataFrame, ts_col: str, duration: str) -> Column:
    """Tumbling-window start, arithmetically.

    Deliberately NOT ``F.window``: Spark's TimeWindowing rule injects an
    implicit ``IsNotNull(ts)`` filter, which would silently DROP
    null-timestamp rows from the shared scans — but the not-null check
    needs to count and extract exactly those rows. Epoch-floor bucketing
    aligns to the same 1970-epoch grid as ``F.window`` and maps a null or
    unparseable ts (:func:`epoch_seconds_sql`) to a null bucket instead of
    dropping the row."""
    sec = duration_seconds(duration)
    epoch = epoch_seconds_sql(df, ts_col)
    return F.expr(
        f"CAST(timestamp_seconds(CAST(floor({epoch} / {sec}) * {sec} AS BIGINT))"
        f" AS {df.schema[ts_col].dataType.simpleString()})"
    )


def keyed_input(
    df: DataFrame,
    window_duration: str | None,
    partition_by: Column | str | None,
    ts_col: str = "warc_ts",
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """Attach the two bucketing columns every fused consumer shares (and
    any ``extra`` derived columns) in one projection. With no
    ``window_duration`` every row's ``window_start`` is NULL: a frame
    keyed so has one window, for checks that read no series."""
    part = (
        F.lit("global")
        if partition_by is None
        else (
            F.col(partition_by).cast("string")
            if isinstance(partition_by, str)
            else partition_by.cast("string")
        )
    )
    return df.withColumns(
        {
            "partition_key": part,
            "window_start": F.expr("CAST(NULL AS TIMESTAMP)")
            if window_duration is None
            else window_start_col(df, ts_col, window_duration),
            **(extra or {}),
        }
    )


def ref_flag(
    keyed: DataFrame,
    dim: DataFrame,
    child_col: str,
    parent_col: str,
    strategy: str = "broadcast",
    salts: int = 16,
    salt_on: Column | str | None = None,
    known: str = "_known",
) -> tuple[DataFrame, str]:
    """``keyed`` with a ``known`` column (True where ``child_col``'s value
    is a key of ``dim[parent_col]``, NULL otherwise) under the chosen
    dimension-join rung (operators/referential.dim_join), and the SQL of
    the row's referential verdict: true unless a non-null value dangles.
    Several flags ride one frame under distinct ``known`` names."""
    from anomalydetector_spark.operators.referential import dim_join

    flagged = dim_join(
        keyed,
        dim,
        child_col,
        parent_col,
        strategy=strategy,
        salts=salts,
        salt_on=salt_on,
        known=known,
    )
    return flagged, f"`{child_col}` IS NULL OR {known} IS NOT NULL"


def counts_cube(
    flagged: DataFrame,
    ok: str = "true",
    groups: tuple[str, ...] = (),
    aggs: list[Column] | None = None,
) -> DataFrame:
    """The counts cube: row counts ``_n`` grouped by ``(window_start,
    partition_key, *groups, _ok)``, ``groups`` and the referential flag
    ``ok`` as SQL, and the ``aggs`` counters after ``_n``. The pages
    engine groups by :data:`PAGES_GROUPS` for its drift series; a check
    suite over any table groups by none. Either way the checks' counters
    ride along as ``aggs``."""
    return flagged.groupBy(
        "window_start",
        "partition_key",
        *[F.expr(g) for g in groups],
        F.expr(f"{ok} AS _ok"),
    ).agg(F.expr("count(1) AS _n"), *(aggs or []))


def partition_rollup(
    cube: DataFrame,
    extra: list[DataFrame] | tuple[DataFrame, ...] = (),
    partitioned: bool = True,
) -> DataFrame:
    """Per-partition counters for the cheap verdicts in ONE aggregation:
    ``(partition_key, rows_scanned, null_ts, dangling)``, the cube's
    counters after ``_n`` (e.g. the checks' ``count_if`` counters), and
    every counter column of the ``extra`` frames (``partition_key`` plus
    counters, e.g. duplicate rows per partition). A counter is summed, 0
    where a partition has none; a BIGINT counter whose name starts with
    ``_max`` (a newest epoch-microsecond timestamp, say) is combined by
    ``max`` and stays NULL where a partition has no value. The frames
    are unioned and grouped once, not joined, so a NULL
    ``partition_key`` keeps every one of its counts.

    The result has at least one row: an EMPTY input has no partitions,
    yet must fail min-row-count (reference contract, invoker.py:43-44 →
    NOT_ENOUGH_POINTS), so an empty result becomes one all-zero
    ``global`` row. Unpartitioned (every row's key is ``global``), a zero
    row rides the union; partitioned, the grouped rows are gathered into
    one array (one row per partition) and the zero row replaces an empty
    array."""
    cols = cube.columns
    counted = cols[cols.index("_n") + 1 :]
    base = cube.selectExpr(
        "partition_key",
        "_n AS rows_scanned",
        "CASE WHEN window_start IS NULL THEN _n ELSE 0 END AS null_ts",
        "CASE WHEN _ok THEN 0 ELSE _n END AS dangling",
        *counted,
    )
    frames = [base, *extra]
    if not partitioned:
        # a literal projection of a one-row JVM range: no Python RDD
        frames.append(
            cube.sparkSession.range(0, 1, 1, 1).selectExpr(
                "'global' AS partition_key"
            )
        )
    counters = [c for f in frames for c in f.columns if c != "partition_key"]
    roll = (
        reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
        .groupBy("partition_key")
        .agg(
            *[
                F.expr(
                    f"max(`{c}`) AS `{c}`"
                    if c.startswith("_max")
                    else f"CAST(coalesce(sum(`{c}`), 0) AS BIGINT) AS `{c}`"
                )
                for c in counters
            ]
        )
    )
    if not partitioned:
        return roll
    zero = ", ".join(
        f"'{c}', " + ("CAST(NULL AS BIGINT)" if c.startswith("_max") else "0L")
        for c in counters
    )
    return roll.agg(F.expr("collect_list(struct(*)) AS _rows")).selectExpr(
        "inline(CASE WHEN size(_rows) > 0 THEN _rows ELSE "
        f"array(named_struct('partition_key', 'global', {zero})) END)"
    )


def rollup_verdicts(
    roll: DataFrame, checks: list[tuple[str, str, str, str]]
) -> DataFrame:
    """Every rollup-derived verdict as ONE projection of the
    :func:`partition_rollup` frame: an ``inline(array(<struct per check>))``
    generator, so the verdicts plan has one branch and one rollup shuffle
    however many checks run. Catalyst optimization and codegen are paid
    per fresh plan (every run builds new scans), so plan size is real
    per-run time. Each check is ``(check_name, failed, message,
    violations)``, the last three SQL over the rollup's columns (so a
    message can quote a count); the rows have the verdict frame's
    columns in its order. The structs are SQL text: the JVM parses each
    in one call, where a Column chain costs a py4j round trip per
    method."""
    structs = [
        f"named_struct('check_name', {sql_string(name)}, "
        "'partition_key', partition_key, "
        f"'passed', NOT ({failed}), "
        f"'error_message', CASE WHEN {failed} THEN {message} END, "
        f"'violation_count', CAST({viol} AS BIGINT), "
        "'rows_scanned', rows_scanned)"
        for name, failed, message, viol in checks
    ]
    return roll.selectExpr(f"inline(array({', '.join(structs)}))")


def count_check(
    name: str, counter: str, message: str
) -> tuple[str, str, str, str]:
    """A :func:`rollup_verdicts` check that fails when the rollup column
    ``counter`` is positive and reports it as the violation count, with
    the fixed ``message``."""
    return name, f"{counter} > 0", sql_string(message), counter


def min_rows_check(min_points: int) -> tuple[str, str, str, str]:
    """The min-row-count :func:`rollup_verdicts` check: a partition with
    fewer than ``min_points`` rows fails, its row count the violation
    count (invoker.py:43-44)."""
    short = f"rows_scanned < {int(min_points)}"
    return (
        "min_row_count",
        short,
        sql_string(E.NOT_ENOUGH_POINTS.format(min_points)),
        f"CASE WHEN {short} THEN rows_scanned ELSE 0 END",
    )


def profile_key_col(col: str) -> Column:
    """The profile's shuffle key: 16-byte md5 of the key value.

    Shuffling the 128-bit digest instead of the raw url string cuts the
    profile exchange ~4× in bytes (measured 2.1× faster end-to-end at 4M
    rows) while keeping the uniqueness verdict exact for practical
    purposes: across 10^12 distinct keys the collision probability is
    ~(10^12)²/2^129 ≈ 1.5e-15 — far below any hardware error rate. (A
    64-bit hash would NOT do: ~27k expected birthday collisions at that
    cardinality, i.e. guaranteed false duplicates.) Null keys hash to
    null, preserving the join semantics of raw keys. ``col`` names the
    key column."""
    return F.expr(f"unhex(md5(encode(CAST(`{col}` AS STRING), 'UTF-8')))")


def url_profile(keyed: DataFrame, key_col: str) -> DataFrame:
    """Two-phase salted key profile → ``(partition_key, window_start, key,
    cnt, _key_cnt)`` with one row per distinct key per window per
    partition; ``_key_cnt`` is the key's count over the whole input.

    The phase-1 salt is positional (``monotonically_increasing_id``), not
    content-derived: identical rows MUST land on different reducers —
    that's exactly the hot case being split (SURVEY.md §4 item 1).
    Phase 2 shuffles by the key alone (at most windows × partitions ×
    salts rows per key): its aggregation and the per-key window sum that
    yields ``_key_cnt`` run on that one shuffle, and the cached profile
    keeps the key partitioning.

    ``key`` is the :func:`profile_key_col` digest of the key column;
    consumers that join back to the input hash their side the same way.
    """
    phase1 = (
        keyed.select(
            "partition_key",
            "window_start",
            profile_key_col(key_col).alias("key"),
            F.expr(f"pmod(monotonically_increasing_id(), {N_SALTS}) AS _salt"),
        )
        .groupBy("partition_key", "window_start", "key", "_salt")
        .agg(F.expr("count(1) AS _partial"))
    )
    return (
        phase1.repartition("key")
        .groupBy("partition_key", "window_start", "key")
        .agg(F.expr("sum(_partial) AS cnt"))
        .withColumn("_key_cnt", F.expr("sum(cnt) OVER (PARTITION BY key)"))
    )


def dup_rows(profile: DataFrame) -> DataFrame:
    """Profile rows of the keys that occur more than once in the whole
    input (NULL keys never match a key, so never count): summing ``cnt``
    per partition gives the uniqueness verdict's violation count
    (:func:`dup_counts`), and the ``key`` column holds the duplicate-key
    set (a key once per window and partition it occurs in), which
    :func:`is_dup_key` probes for the violation rows. A filter of the
    cached profile — no shuffle."""
    return profile.filter("key IS NOT NULL AND _key_cnt > 1")


def dup_counts(profile: DataFrame, name: str) -> DataFrame:
    """``(partition_key, <name>)`` rows whose per-partition sum is the
    uniqueness verdict's violation count: a :func:`partition_rollup`
    contribution."""
    return dup_rows(profile).selectExpr("partition_key", f"cnt AS `{name}`")


def is_dup_key(col: str, profile: DataFrame) -> Column:
    """True where column ``col``'s value is a duplicated key of
    ``profile`` (hashed as the profile hashes it), NULL or false
    otherwise: a probe against the broadcast duplicate-key column."""
    return profile_key_col(col).isin(F.broadcast(dup_rows(profile).select("key")))


# log2 text-length bins for the length-histogram drift stats: bin
# ``min(floor(log2(len + 1)), 31)``, null text in bin 0 — heavy-tailed
# lengths get stable resolution at every magnitude, no (lo, hi) tuning
LEN_BINS = 32


def len_log2_bin(length: str) -> str:
    """The length-histogram bin of the text-length column ``length``, as
    SQL: computed by Spark so the bin edges follow Spark's ``log2`` (not
    numpy's)."""
    return (
        f"CAST(least(floor(log2(coalesce({length}, 0) + 1)), {LEN_BINS - 1}) "
        "AS INT)"
    )


def drift_inputs(
    cube: DataFrame, profile: DataFrame, len_bins: bool = True
) -> DataFrame:
    """The one tiny frame every drift stat series derives from: the union
    of

    * the cube slice ``(partition_key, window_start, _w_us, _len, lang,
      _n[, _bin])`` — windowed rows only (null-timestamp rows carry no
      window; the not-null verdict surfaces them), pruned to the columns
      the series need; ``_w_us`` is the window start in epoch
      microseconds (window pairs step in epoch time: pandas sees
      session-local wall clocks, which skip or repeat an hour at a DST
      switch), ``_bin`` is :func:`len_log2_bin` of ``_len``;
    * ``(partition_key, window_start, _w_us, _keys)`` — EXACT per-window
      distinct-key counts (one profile row per distinct key per window),
      the ``distinct_url`` series.

    A row is a key-count row iff its ``_keys`` is not NULL; the other
    side's columns are NULL.
    """
    # window_start keeps the input's timestamp type; NTZ (and date)
    # starts are session-local wall clocks, so the cast recovers their
    # instant (a no-op for TIMESTAMP input)
    w_us = "unix_micros(CAST(window_start AS TIMESTAMP)) AS _w_us"
    cols = ["partition_key", "window_start", w_us, "_len", "lang", "_n"]
    if len_bins:
        cols.append(f"{len_log2_bin('_len')} AS _bin")
    cube_slice = cube.filter("window_start IS NOT NULL").selectExpr(*cols)
    keys = (
        profile.filter("window_start IS NOT NULL")
        .groupBy("partition_key", "window_start")
        .agg(F.expr("count(1) AS _keys"))
        .selectExpr("partition_key", "window_start", w_us, "_keys")
    )
    return cube_slice.unionByName(keys, allowMissingColumns=True)
