"""Streaming seasonal volume expectation — the same-phase-history
check (:func:`~anomalydetector_spark.operators.trend.
seasonal_expectation`) as a stream, bit-for-bit equal to the batch
operator on every emitted window.

The check at row t needs only the values at row-index lags
``season_lag, 2·season_lag, … n_seasons·season_lag`` — so state per
series is a ring of the last ``season_lag·n_seasons`` micro-quantized
values plus the row counter: O(lag·seasons) forever (28 longs for the
weekly default). Arithmetic is the batch contract exactly: exact
integer ``(m·vq − s)`` numerators, the same pinned double chains, the
same zero-history / all-zero-history conventions.

Ordering/exactly-once: the shared ``ordered_drain`` consume rule with
the consume pointer as the ledger — the row-index walk is
order-sensitive by definition.
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

SEASONAL_STATE_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("rn", LongType()),
        StructField("hist_vq", ArrayType(LongType())),
        StructField("buf_ts_us", ArrayType(LongType())),
        StructField("buf_vals", ArrayType(DoubleType())),
    ]
)

STATE_VERSION = 1

SEASONAL_SCHEMA = (
    "partition_key string, stat_name string, window_start timestamp, "
    "value double, expected double, rel_dev double, flagged boolean, "
    "n_history int"
)


def _make_seasonal_fn(
    season_lag: int,
    n_seasons: int,
    tolerance: float,
    dur_us: int,
    buffer_windows: int,
    trust_first: bool = False,
):
    depth = season_lag * n_seasons

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        new = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            _ver, last_ts, rn, hist, buf_ts, buf_vals = state.get
            hist = list(hist)
            buf = dict(zip((int(t) for t in buf_ts), buf_vals))
        else:
            last_ts, rn, hist, buf = _NONE, 0, [], {}

        ts_us = (
            new["window_start"].astype("datetime64[us]").astype("int64")
        )
        for t, v in zip(ts_us.tolist(), new["value"].tolist()):
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
            vq = _half_up_micro(v * 1e6)
            # history lookups: hist[-j*season_lag] for j = 1..n_seasons
            lags = []
            for j in range(1, n_seasons + 1):
                idx = len(hist) - j * season_lag
                if idx >= 0:
                    lags.append(hist[idx])
            m = len(lags)
            if m == 0:
                out_rows.append((t0, v, None, None, False, 0))
            else:
                s = sum(lags)
                expected = float(s) / float(m) / 1e6
                if s != 0:
                    # |s| denominator — matches the batch operator's
                    # negative-history-sum handling (trend.py)
                    rel = float(m * vq - s) / float(abs(s))
                    flagged = abs(rel) > tolerance
                else:
                    rel = None
                    flagged = vq != 0
                out_rows.append((t0, v, expected, rel, flagged, m))
            hist.append(vq)
            if len(hist) > depth:
                hist = hist[-depth:]
            rn += 1

        kept = sorted(buf)
        state.update(
            (
                STATE_VERSION,
                int(last_ts), int(rn),
                [int(x) for x in hist],
                [int(t) for t in kept],
                [float(buf[t]) for t in kept],
            )
        )
        if not out_rows:
            return iter(())
        out = pd.DataFrame(
            out_rows,
            columns=[
                "_ts", "value", "expected", "rel_dev", "flagged",
                "n_history",
            ],
        )
        out.insert(0, "partition_key", key[0])
        out.insert(1, "stat_name", key[1])
        out["window_start"] = pd.to_datetime(out.pop("_ts"), unit="us")
        for col in ("expected", "rel_dev"):
            out[col] = pd.array(out[col].tolist(), dtype="Float64")
        out["n_history"] = out["n_history"].astype("int32")
        out = out[
            [
                "partition_key", "stat_name", "window_start", "value",
                "expected", "rel_dev", "flagged", "n_history",
            ]
        ]
        return iter((out,))

    return fn


def seasonal_expectation_stream(
    stat_series_stream: DataFrame,
    season_lag: int = 7,
    n_seasons: int = 4,
    tolerance: float = 0.5,
    window_duration: str = "1 day",
    buffer_windows: int = 8,
    trust_first: bool = False,
) -> DataFrame:
    """Seasonal-expectation-check a STREAM of finalized stat windows
    ``(partition_key, stat_name, window_start, value)``. Emitted rows
    are bit-equal to the batch operator on the same consumed prefix
    (pinned by test). No reference frame is needed — the seasonal
    history IS the state.

    COLD-START HORIZON: nothing emits for a fresh series until more
    than ``buffer_windows`` windows (default 8) have buffered — ≤ 8
    total windows never emit, first emission lags ~9 window durations.
    ``trust_first=True`` anchors on the first window seen (in-order
    sources only; see ``ordered_drain``)."""
    dur = _duration_us(window_duration)
    return stat_series_stream.groupBy(
        "partition_key", "stat_name"
    ).applyInPandasWithState(
        _make_seasonal_fn(
            season_lag, n_seasons, tolerance, dur, buffer_windows,
            trust_first,
        ),
        outputStructType=SEASONAL_SCHEMA,
        stateStructType=SEASONAL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
