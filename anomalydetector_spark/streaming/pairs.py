"""Shared consecutive-window pairing state machine for stage-2 drift
streams.

Shape drift (:mod:`~anomalydetector_spark.streaming.shape_stream`)
consumes a stream of FINALIZED per-window vectors (a lang-fraction
distribution) and emits one comparison row per contiguous (previous,
current) window pair, exactly once; the order-sensitive seasonal walk
(:mod:`~anomalydetector_spark.streaming.seasonal_stream`) shares the
window-duration parsing and :func:`ordered_drain`.  The pairing
mechanics:

* Stage 1 finalizes windows in event-time order, but its commit writes
  several unordered part files and the stage-2 file source replays them
  in discovery order — so windows arrive NEAR-sorted, not sorted.  State
  per partition is a small reorder BUFFER (the last ``buffer_windows``
  window vectors) plus the emitted-window LEDGER (every emitted window's
  timestamp, 8 bytes each): a window's row is emitted in whatever
  micro-batch first sees BOTH the window and its predecessor, exactly
  once — the ledger outlives the vector buffer, so even a stage-1
  restart that replays windows far older than the buffer horizon cannot
  double-emit.  A window whose predecessor never arrives inside the
  buffer horizon is skipped — the same omit-after-gap semantics as the
  batch operators (operators/divergence.py).

State layout (``PAIR_STATE_SCHEMA``): flattened row-major vector buffer
keyed by window timestamp, plus the ledger.  The explicit ``version``
field exists purely to make a pre-ledger (v1) checkpoint fail LOUDLY on
resume: Spark's state-schema compatibility check compares field TYPES
only, and v1's per-slot emitted-flags column was also ``array<long>`` —
without the extra field a v1 checkpoint would resume silently, its 0/1
flags misread as ledger timestamps, and already-emitted buffered windows
would double-emit.  The field-count mismatch forces the rejection the
upgrade needs; re-drive stage 2 from the stat parquet (the source of
truth) with a fresh checkpoint.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

PAIR_STATE_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("ts_us", ArrayType(LongType())),
        StructField("vecs_flat", ArrayType(DoubleType())),
        StructField("emitted_ts", ArrayType(LongType())),
    ]
)

STATE_VERSION = 2

# ledger cap: a pathological-granularity backstop, not a tuning knob —
# a decade of daily windows is ~29 KB of ledger
EMITTED_RETENTION = 1_000_000

_UNIT_US = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
}


def duration_us(duration: str) -> int:
    """Multi-unit duration strings Spark accepts ('1 day 12 hours')."""
    parts = duration.strip().split()
    if len(parts) % 2 != 0 or not parts:
        raise ValueError(f"cannot parse window duration {duration!r}")
    total = 0
    for n, unit in zip(parts[::2], parts[1::2]):
        total += int(n) * _UNIT_US[unit.rstrip("s").lower()]
    return total


def window_pairs(
    state,
    ts_us: np.ndarray,
    vecs: np.ndarray,
    n_vec: int,
    dur_us: int,
    buffer_windows: int,
) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """Merge this micro-batch's ``(ts_us[i], vecs[i])`` finalized windows
    into the reorder buffer, return every NEWLY completed
    ``(window_ts_us, prev_vec, cur_vec)`` pair in timestamp order
    (exactly once across the stream's lifetime), and persist the trimmed
    buffer + ledger back to ``state``."""
    buf: dict[int, np.ndarray] = {}
    emitted: set[int] = set()
    if state.exists:
        _ver, s_ts, s_flat, s_em = state.get
        arr = np.asarray(s_flat, dtype="float64").reshape(
            len(s_ts), n_vec
        )
        buf = {int(t): arr[i] for i, t in enumerate(s_ts)}
        emitted = {int(t) for t in s_em}
    for i, t in enumerate(ts_us):
        # finalized windows are immutable — keep the first copy
        buf.setdefault(int(t), vecs[i])

    out = []
    for t in sorted(buf):
        prev = buf.get(t - dur_us)
        # the ledger (not a buffer-slot flag) decides emission, so a
        # stage-1 restart replaying windows OLDER than the vector buffer
        # horizon still cannot double-emit them
        if t in emitted or prev is None:
            continue
        out.append((t, prev, buf[t]))
        emitted.add(t)

    kept = sorted(buf)[-buffer_windows:]
    ledger = sorted(emitted)[-EMITTED_RETENTION:]
    state.update(
        (
            STATE_VERSION,
            [int(t) for t in kept],
            [float(x) for t in kept for x in buf[t]],
            [int(t) for t in ledger],
        )
    )
    return out


ORDERED_NONE = -(1 << 62)  # "no window consumed yet" sentinel


def ordered_drain(
    buf: dict, last_ts: int, dur_us: int, horizon: int,
    trust_first: bool = False,
) -> tuple[list, int]:
    """Consume rule for ORDER-SENSITIVE walks (the seasonal stream):
    pop buffered ``{ts_us: value}`` windows in strict timestamp order —
    the oldest window is consumable when it is contiguous with the last
    consumed one (``last_ts + dur_us``, the fast path) or when more
    than ``horizon`` newer windows have accumulated behind it (the
    near-sorted horizon has passed; a still-missing older window is
    declared lost and the caller's pointer will drop it on late
    arrival). Returns the consumed ``[(ts, value), ...]`` and the
    advanced pointer.

    COLD START: before anything has been consumed (``last_ts ==
    ORDERED_NONE``) the contiguous fast path has no anchor, so nothing
    drains until MORE than ``horizon`` windows are buffered — a series
    with ≤ ``horizon`` total windows never emits, and first results
    lag ~``horizon + 1`` window durations. ``trust_first=True`` opts
    out: the oldest buffered window is declared the stream's first and
    consumed immediately — correct for sources known to deliver in
    order, but an earlier window arriving later is then dropped."""
    out = []
    while buf:
        t0 = min(buf)
        cold = last_ts == ORDERED_NONE
        contiguous = (not cold and t0 == last_ts + dur_us) or (
            cold and trust_first
        )
        if not contiguous and len(buf) <= horizon:
            break
        out.append((t0, buf.pop(t0)))
        last_ts = t0
    return out, last_ts
