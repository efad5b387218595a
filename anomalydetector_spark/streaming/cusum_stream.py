"""Streaming CUSUM: the sustained-level-shift walk over a STREAM of
finalized stat windows, bit-for-bit equal to the batch operator's
REFERENCE mode (:func:`~anomalydetector_spark.operators.trend.
series_cusum` with a frozen ``(mu, sigma)`` frame) on the windows it
emits.

Why reference mode is the streaming contract: the batch default
standardizes against the FULL series mean/σ — a future window changes
every past z retroactively, which is incompatible with append-mode
emission. With a frozen reference (an in-control/training period, the
standard online-CUSUM setup), the walk ``S⁺_t = max(0, S⁺_{t−1} + z_t −
k)`` is a pure left-to-right function of the prefix, so the stream can
carry O(1) state per series and each emitted row is final.

State per (partition_key, stat_name) — constant size, forever::

    (version, last_ts_us, cp_q, cn_q, minp_q, minn_q,
     anchor_pos_us, anchor_neg_us, buf_ts_us[], buf_vals[])

``cp_q``/``cn_q`` are the cumulative sums Σ(±zq − kq) in exact integer
micro-z units (the same quantization as the batch: ``zq = round(z·1e6)``
with Spark's HALF_UP double rounding replicated via shortest-repr
BigDecimal); ``minp/minn`` their strict running minima;
``anchor_*_us`` the timestamp at the running-min argmin (the
changepoint estimate — NULL until the walk first dips below zero,
matching the batch argmin-encoding convention bit for bit).

Ordering: CUSUM is ORDER-SENSITIVE, so unlike the pair machine this
stream cannot skip a window and go on — it maintains a small reorder
buffer and CONSUMES the oldest buffered window only when it is
contiguous with the last consumed one (the fast path) or when
``buffer_windows`` newer windows have accumulated behind it (the
near-sorted horizon has passed — any still-missing older window is
declared lost and will be DROPPED on late arrival, the same
drop-beyond-horizon rule as the incremental SR scorer). Replayed
windows at or before the consume pointer are dropped by the pointer
itself — exactly-once without a ledger.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from anomalydetector_spark.kernel.window_drift import (
    half_up_micro as _half_up_micro,
)
from anomalydetector_spark.streaming.pairs import (
    ORDERED_NONE as _NONE,
    duration_us as _duration_us,
    ordered_drain,
)

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("cp_q", LongType()),
        StructField("cn_q", LongType()),
        StructField("minp_q", LongType()),
        StructField("minn_q", LongType()),
        StructField("anchor_pos_us", LongType()),
        StructField("anchor_neg_us", LongType()),
        StructField("buf_ts_us", ArrayType(LongType())),
        StructField("buf_vals", ArrayType(DoubleType())),
    ]
)

STATE_VERSION = 1

CUSUM_SCHEMA = (
    "partition_key string, stat_name string, window_start timestamp, "
    "value double, z double, s_pos double, s_neg double, "
    "alarm_pos boolean, alarm_neg boolean, alarm boolean, "
    "cp_pos timestamp, cp_neg timestamp"
)


def _make_walk_fn(
    refs: dict, k: float, h: float, dur_us: int, buffer_windows: int,
    trust_first: bool = False,
):
    kq = round(k * 1e6)
    hq = round(h * 1e6)

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        new = pd.concat(list(pdfs), ignore_index=True)
        ref = refs.get(tuple(key))
        mu, sigma = (ref if ref else (None, None))
        degenerate = sigma is None or not sigma > 0

        if state.exists:
            (
                _ver, last_ts, cp_q, cn_q, minp_q, minn_q,
                anch_p, anch_n, buf_ts, buf_vals,
            ) = state.get
            buf = dict(zip((int(t) for t in buf_ts), buf_vals))
        else:
            last_ts, cp_q, cn_q = _NONE, 0, 0
            minp_q = minn_q = 0
            anch_p = anch_n = _NONE
            buf = {}

        ts_us = (
            new["window_start"].astype("datetime64[us]").astype("int64")
        )
        for t, v in zip(ts_us.tolist(), new["value"].tolist()):
            # pointer IS the ledger: consumed windows never re-enter;
            # NULL/NaN values are excluded like the batch filter
            if last_ts != _NONE and t <= last_ts:
                continue
            if v is None or v != v:
                continue
            buf.setdefault(int(t), float(v))

        out_rows = []
        consumed, last_ts = ordered_drain(
            buf, last_ts, dur_us, buffer_windows, trust_first
        )
        for t0, v in consumed:
            if degenerate:
                out_rows.append(
                    (t0, v, None, None, None, False, False, False,
                     None, None)
                )
                continue
            z = (v - mu) / sigma
            zq = _half_up_micro(z * 1e6)
            cp_q += zq - kq
            cn_q += -zq - kq
            # strict-min argmin == the batch's encoded min (earliest
            # index at the minimum: a tie keeps the earlier anchor)
            if cp_q < minp_q:
                minp_q, anch_p = cp_q, t0
            if cn_q < minn_q:
                minn_q, anch_n = cn_q, t0
            s_pos = float(cp_q - min(0, minp_q)) / 1e6
            s_neg = float(cn_q - min(0, minn_q)) / 1e6
            a_p = s_pos > hq / 1e6
            a_n = s_neg > hq / 1e6
            out_rows.append(
                (
                    t0, v, z, s_pos, s_neg, a_p, a_n, a_p or a_n,
                    anch_p if minp_q < 0 else None,
                    anch_n if minn_q < 0 else None,
                )
            )

        kept = sorted(buf)
        state.update(
            (
                STATE_VERSION,
                int(last_ts), int(cp_q), int(cn_q),
                int(minp_q), int(minn_q), int(anch_p), int(anch_n),
                [int(t) for t in kept],
                [float(buf[t]) for t in kept],
            )
        )
        if not out_rows:
            return iter(())
        out = pd.DataFrame(
            out_rows,
            columns=[
                "_ts", "value", "z", "s_pos", "s_neg",
                "alarm_pos", "alarm_neg", "alarm", "_cp_p", "_cp_n",
            ],
        )
        out.insert(0, "partition_key", key[0])
        out.insert(1, "stat_name", key[1])
        out["window_start"] = pd.to_datetime(out.pop("_ts"), unit="us")
        out["cp_pos"] = pd.to_datetime(
            out.pop("_cp_p"), unit="us", errors="coerce"
        )
        out["cp_neg"] = pd.to_datetime(
            out.pop("_cp_n"), unit="us", errors="coerce"
        )
        out = out[
            [
                "partition_key", "stat_name", "window_start", "value",
                "z", "s_pos", "s_neg", "alarm_pos", "alarm_neg",
                "alarm", "cp_pos", "cp_neg",
            ]
        ]
        return iter((out,))

    return fn


def cusum_walk_stream(
    stat_series_stream: DataFrame,
    reference: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    window_duration: str = "1 day",
    buffer_windows: int = 8,
    trust_first: bool = False,
) -> DataFrame:
    """Walk a STREAM of finalized stat windows ``(partition_key,
    stat_name, window_start, value)`` through the two-sided CUSUM with
    a frozen per-series ``reference`` frame ``(partition_key, stat_name,
    mu, sigma)`` (a bounded BATCH frame — typically
    :func:`~anomalydetector_spark.operators.trend.cusum_reference` over
    the training period, collected once to the driver and shipped in
    the state-function closure).

    Output schema and values match batch ``series_cusum(...,
    reference=...)`` bit for bit on every emitted window (pinned by
    test across micro-batch boundaries and kill/resume). A series
    absent from the reference emits NULL z/walks with ``alarm=false``
    (the batch inner-join drops them instead — the stream surfaces them
    loudly; filter on ``z IS NOT NULL`` for strict parity).

    COLD-START HORIZON: the ordered-drain consume rule has no anchor
    before the first consumed window, so a fresh series emits nothing
    until MORE than ``buffer_windows`` windows (default 8) have
    accumulated — a series with ≤ 8 total windows never emits, and the
    first emission lags ~9 window durations. Pass ``trust_first=True``
    for sources known to deliver windows in order: the first window
    seen anchors the walk immediately (an even-earlier window arriving
    later is then dropped).
    """
    ref_rows = reference.select(
        "partition_key", "stat_name", "mu", "sigma"
    ).collect()
    refs = {
        (r.partition_key, r.stat_name): (r.mu, r.sigma) for r in ref_rows
    }
    dur = _duration_us(window_duration)
    return stat_series_stream.groupBy(
        "partition_key", "stat_name"
    ).applyInPandasWithState(
        _make_walk_fn(refs, k, h, dur, buffer_windows, trust_first),
        outputStructType=CUSUM_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
