"""Gap-based sessionization — the standard log-analytics primitive the
reference's evaluation layer implies but never names (its segment
reconstruction in ``msanomalydetector/util.py`` and the adjusted-F1
scan both reason about runs of nearby timestamps; sessionization is the
same "split on a gap" rule promoted to a first-class operator over an
event stream).

**Rule** (industry standard, same as every web-analytics engine): order
a key's events by time; a new session starts at the first event and at
every event whose distance from its predecessor is STRICTLY greater
than ``gap``. Two events exactly ``gap`` apart share a session. All
arithmetic runs in integer microseconds (``unix_micros``), so the
boundary is exact and the DuckDB oracle (``epoch_us``) agrees bit-wise.

Both boundary conventions exist in the wild, so both are offered:
``closed="inclusive"`` (default — distance == gap merges, the
analytics-industry reading of "MORE than 30 minutes apart starts a new
session") and ``closed="exclusive"`` (distance == gap splits — the strict reading
some pipelines standardize on). Spark's native ``session_window``
merges at exactly ``gap`` (pinned in tests/test_sessions.py), so the
INCLUSIVE default is also the mode whose sessions equal a
``session_window`` aggregation's.

Plan shape: ONE shuffle on the key. ``lag`` and the running sum of
new-session flags share a single Window node (same partition + order),
so the whole assignment is one exchange + one sort — the minimum any
engine needs for this rule.

Skew: a window partition serializes per key, so one user owning half
the events owns half the wall clock. :func:`sessionize_bucketed` is the
exact-equality mitigation (the same design as
``temporal.asof_join_bucketed``): assign LOCAL sessions within
(key, time-bucket) partitions, then repair the bucket boundaries on a
per-(key, bucket) rollup that is bounded by construction — only the
first and last local session of a bucket can merge across an edge, and
the merge test is precisely the raw rule applied to the two boundary
events, so equality with :func:`sessionize` is exact (pytest-proven,
including sessions chaining through many buckets and a 50%-hot key).

Null timestamps are dropped (documented contract): a null ``ts`` has no
position on the time axis, and surfacing it is the P4
timestamp-parseable check's job, not the sessionizer's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_US = 1_000_000


def _micros(ts_col: str):
    """Integer microseconds, NTZ-tolerant: parquet timestamps frequently
    load as TIMESTAMP_NTZ, which ``unix_micros`` rejects; with the
    engine's fixed UTC session timezone the cast is a pure reinterpret,
    and only DIFFERENCES feed the gap rule anyway."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def _gap_us(gap_seconds) -> int:
    gap_us = int(round(gap_seconds * _US))
    if gap_us < 0:
        raise ValueError(f"gap_seconds must be >= 0, got {gap_seconds}")
    return gap_us


def _splits(diff_us, gap_us: int, closed: str):
    """True when ``diff_us`` ends the session under the convention."""
    if closed == "inclusive":
        return diff_us > F.lit(gap_us)
    if closed == "exclusive":
        return diff_us >= F.lit(gap_us)
    raise ValueError(f"closed must be inclusive|exclusive, got {closed!r}")


def sessionize(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    gap_seconds,
    tiebreak_cols: list[str] | None = None,
    out_col: str = "session_index",
    closed: str = "inclusive",
) -> DataFrame:
    """Assign a 1-based ``out_col`` per key: every input row (null
    ``ts_col`` rows dropped) + its session index. One shuffle.

    ``tiebreak_cols`` makes the order total when timestamps repeat —
    equal-timestamp rows always share a session (their distance is 0),
    but a total order keeps the plan deterministic run-to-run.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    gap_us = _gap_us(gap_seconds)
    tiebreak = tiebreak_cols or []

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    us = _micros(ts_col)
    prev_us = F.lag(us).over(w)
    is_new = (prev_us.isNull() | _splits(us - prev_us, gap_us, closed)).cast("int")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn(out_col, F.sum(is_new).over(run).cast("long"))
    )


def sessionize_bucketed(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    gap_seconds,
    bucket: str = "1 day",
    tiebreak_cols: list[str] | None = None,
    out_col: str = "session_index",
    closed: str = "inclusive",
) -> DataFrame:
    """Hot-key-safe :func:`sessionize`, exactly equal by construction.

    1. LOCAL pass: the plain rule inside (key, bucket) window
       partitions — a hot key's events split across its buckets, so no
       task owns more than one bucket of it.
    2. BOUNDARY repair on the per-(key, bucket) rollup (first event ts,
       last event ts, local session count — ONE row per key × bucket,
       bounded by construction): bucket ``b``'s first local session
       merges backward iff the first event of ``b`` is within ``gap``
       of the last event of the PREVIOUS bucket in the rollup order —
       which is literally the raw rule on those two (globally
       consecutive) events. A bucket-spanning session chains because
       each link is tested pairwise.
    3. Renumber: ``global = prefix(b) + local - merge_back(b)`` where
       ``prefix(b)`` is the running sum of ``locals - merge_back`` over
       earlier buckets — a window on the tiny rollup — joined back on
       (key, bucket).

    Three shuffles (events on (key, bucket); the rollup on key; the
    repair join) versus one for the plain form: worth it exactly when a
    hot key would otherwise serialize.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    gap_us = _gap_us(gap_seconds)
    tiebreak = tiebreak_cols or []

    base = df.filter(F.col(ts_col).isNotNull()).withColumn(
        "__bkt", F.window(F.col(ts_col), bucket)["start"]
    )
    us = _micros(ts_col)

    wl = Window.partitionBy(*key_cols, "__bkt").orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    prev_us = F.lag(us).over(wl)
    is_new = (prev_us.isNull() | _splits(us - prev_us, gap_us, closed)).cast("int")
    local = base.withColumn(
        "__local",
        F.sum(is_new)
        .over(wl.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )

    # Rollup: one row per (key, bucket). first/last EVENT timestamps
    # are exactly the boundary sessions' endpoints.
    roll = local.groupBy(*key_cols, "__bkt").agg(
        F.min(us).alias("__first_us"),
        F.max(us).alias("__last_us"),
        F.max("__local").alias("__n_local"),
    )
    wr = Window.partitionBy(*key_cols).orderBy(F.col("__bkt").asc())
    merge_back = ~_splits(
        F.col("__first_us") - F.lag("__last_us").over(wr), gap_us, closed
    ) & F.lag("__last_us").over(wr).isNotNull()
    repaired = roll.withColumn(
        "__merge_back",
        F.coalesce(merge_back, F.lit(False)).cast("long"),
    )
    # prefix(b) = global sessions started strictly before bucket b.
    wrun = wr.rowsBetween(Window.unboundedPreceding, -1)
    repaired = repaired.withColumn(
        "__prefix",
        F.coalesce(
            F.sum(F.col("__n_local") - F.col("__merge_back")).over(wrun),
            F.lit(0),
        ),
    ).select(*key_cols, "__bkt", "__prefix", "__merge_back")

    out = local.join(repaired, on=[*key_cols, "__bkt"], how="inner")
    return out.withColumn(
        out_col,
        (F.col("__prefix") + F.col("__local") - F.col("__merge_back")).cast(
            "long"
        ),
    ).drop("__bkt", "__local", "__prefix", "__merge_back")


def session_stats(
    sessions: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    session_col: str = "session_index",
    value_col: str | None = None,
    type_col: str | None = None,
) -> DataFrame:
    """One row per (key, session): start/end timestamps, integer
    ``duration_us`` (exact — no float time math), event count, and
    optionally distinct-type count and a 6-dp value sum (the repo's
    standard cross-engine float contract).

    GroupBy on (key, session) after :func:`sessionize` adds NO shuffle:
    the events are already hash-partitioned on the key, and clustering
    on a superset column set is satisfied by the existing exchange.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    us = _micros(ts_col)
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.max(us) - F.min(us)).alias("duration_us"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if type_col is not None:
        aggs.append(F.countDistinct(type_col).alias("n_types"))
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias("sum_value"))
    return sessions.groupBy(*key_cols, session_col).agg(*aggs)
