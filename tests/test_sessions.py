"""Gap-based sessionization: parity vs a pure-Python reference rule,
exact equality of the bucketed hot-key-safe twin, boundary exactness at
the gap, and the one-shuffle plan shape."""

import datetime as dt
import io
import random
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators.sessions import (
    session_stats,
    sessionize,
    sessionize_bucketed,
)

T0 = dt.datetime(2024, 1, 1)
GAP_S = 4 * 3600


def _py_sessionize(rows, gap_us):
    """Reference rule: per key, order by (ts, event_id); new session on
    first event or strict-gap exceedance. Returns {event_id: index}."""
    by_key = {}
    for eid, key, ts in rows:
        if ts is not None:
            by_key.setdefault(key, []).append((ts, eid))
    out = {}
    for key, evs in by_key.items():
        evs.sort()
        idx = 0
        prev = None
        for ts, eid in evs:
            # naive-datetime integer microseconds: only DIFFERENCES are
            # used, so any fixed epoch works and no tz conversion leaks in
            us = (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
            if prev is None or us - prev > gap_us:
                idx += 1
            out[eid] = idx
            prev = us
    return out


def _random_rows(n, n_keys, seed, with_nulls=False, hot_frac=0.0):
    rng = random.Random(seed)
    rows = []
    for eid in range(n):
        if hot_frac and rng.random() < hot_frac:
            key = 0
        else:
            key = rng.randrange(n_keys)
        if with_nulls and rng.random() < 0.05:
            ts = None
        else:
            # spread over ~20 days with microsecond jitter; duplicate
            # timestamps happen by collision at this density
            ts = T0 + dt.timedelta(
                seconds=rng.randrange(20 * 86400), microseconds=rng.randrange(4)
            )
        rows.append((eid, key, ts))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")


def test_matches_python_rule(spark):
    rows = _random_rows(3000, 25, seed=7, with_nulls=True)
    want = _py_sessionize(rows, GAP_S * 1_000_000)
    got = {
        r["event_id"]: r["session_index"]
        for r in sessionize(
            _df(spark, rows), "user_id", "ts", GAP_S, tiebreak_cols=["event_id"]
        ).collect()
    }
    assert got == want  # null-ts rows absent from BOTH sides


def test_exact_gap_boundary(spark):
    """Distance == gap shares a session; gap + 1 microsecond splits."""
    rows = [
        (1, 0, T0),
        (2, 0, T0 + dt.timedelta(seconds=GAP_S)),
        (3, 0, T0 + dt.timedelta(seconds=2 * GAP_S, microseconds=1)),
        (4, 0, T0 + dt.timedelta(seconds=2 * GAP_S, microseconds=1)),
    ]
    got = {
        r["event_id"]: r["session_index"]
        for r in sessionize(_df(spark, rows), "user_id", "ts", GAP_S).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2}
    strict = {
        r["event_id"]: r["session_index"]
        for r in sessionize(
            _df(spark, rows), "user_id", "ts", GAP_S, closed="exclusive"
        ).collect()
    }
    assert strict == {1: 1, 2: 2, 3: 3, 4: 3}  # == gap splits


def test_native_session_window_merges_at_exact_gap(spark):
    """Spark's own ``session_window`` groups like the INCLUSIVE default:
    distance == gap merges, gap + 1 microsecond splits. The
    operators/sessions.py docstring cites this pin."""
    rows = [
        (1, 0, T0),
        (2, 0, T0 + dt.timedelta(seconds=GAP_S)),
        (3, 0, T0 + dt.timedelta(seconds=2 * GAP_S, microseconds=1)),
        (4, 0, T0 + dt.timedelta(seconds=2 * GAP_S, microseconds=1)),
    ]
    df = _df(spark, rows)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    native = df.groupBy(
        "user_id", F.session_window("ts", f"{GAP_S} seconds")
    ).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    batch = session_stats(sessionize(df, "user_id", "ts", GAP_S), "user_id", "ts")
    got = sorted(map(tuple, native.select(cols).collect()))
    assert got == sorted(map(tuple, batch.select(cols).collect()))
    assert got == [(0, rows[0][2], rows[1][2], 2), (0, rows[2][2], rows[2][2], 2)]


@pytest.mark.parametrize(
    "bucket,seed,hot,closed",
    [
        ("1 day", 11, 0.0, "inclusive"),
        ("6 hours", 13, 0.5, "inclusive"),
        ("6 hours", 19, 0.5, "exclusive"),
    ],
)
def test_bucketed_equals_plain(spark, bucket, seed, hot, closed):
    """Exact frame equality incl. a 50%-hot key, sessions chaining
    across bucket edges (gap 4h vs 6h buckets forces multi-bucket
    chains), and both boundary conventions."""
    rows = _random_rows(4000, 30, seed=seed, hot_frac=hot)
    df = _df(spark, rows)
    plain = sessionize(
        df, "user_id", "ts", GAP_S, tiebreak_cols=["event_id"], closed=closed
    )
    bucketed = sessionize_bucketed(
        df, "user_id", "ts", GAP_S, bucket=bucket,
        tiebreak_cols=["event_id"], closed=closed,
    )
    a = {(r["event_id"], r["session_index"]) for r in plain.collect()}
    b = {(r["event_id"], r["session_index"]) for r in bucketed.collect()}
    assert a == b


def test_bucketed_session_spanning_many_buckets(spark):
    """One dense run of events 1h apart over 5 days is ONE session even
    with 1-day buckets (the boundary merge must chain), and an isolated
    later event is session 2."""
    rows = [(i, 0, T0 + dt.timedelta(hours=i)) for i in range(120)]
    rows.append((999, 0, T0 + dt.timedelta(days=30)))
    got = {
        r["event_id"]: r["session_index"]
        for r in sessionize_bucketed(
            _df(spark, rows), "user_id", "ts", GAP_S, bucket="1 day"
        ).collect()
    }
    assert {got[i] for i in range(120)} == {1}
    assert got[999] == 2


def test_session_stats_exact_duration(spark):
    rows = [
        (1, 0, T0),
        (2, 0, T0 + dt.timedelta(seconds=10, microseconds=3)),
        (3, 0, T0 + dt.timedelta(seconds=GAP_S * 3)),
    ]
    sess = sessionize(_df(spark, rows), "user_id", "ts", GAP_S)
    out = {
        r["session_index"]: r
        for r in session_stats(sess, "user_id", "ts").collect()
    }
    assert out[1]["duration_us"] == 10_000_003
    assert out[1]["n_events"] == 2
    assert out[2]["duration_us"] == 0
    assert out[2]["n_events"] == 1


def test_one_shuffle_for_sessionize_plus_stats(spark):
    """sessionize + session_stats = ONE hashpartitioning exchange: the
    groupBy on (key, session) reuses the window's key partitioning."""
    rows = _random_rows(500, 10, seed=3)
    # repartition(8): a single-partition local relation satisfies every
    # clustering for free — spread it so the window's exchange is real
    sess = sessionize(_df(spark, rows).repartition(8), "user_id", "ts", GAP_S)
    out = session_stats(sess, "user_id", "ts")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain()  # simple mode: node + arguments share a line
    plan = buf.getvalue()
    n_ex = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "Reused" not in line
    )
    assert n_ex == 1, plan
    assert "pythonUDF" not in plan.lower()
