"""Distributed Bloom-filter seen-set: build + membership probe.

The crawl-frontier problem at web scale: "have we ever fetched this
URL?" against 10^12 seen URLs, where an exact seen-set join rescans or
reshuffles the full history for every new batch. A Bloom filter (Bloom
1970 — public method) answers with NO false negatives (a URL reported
unseen is definitely new, so nothing is ever lost) and a tunable
false-positive rate (a few genuinely-new URLs skipped — the standard
frontier trade-off). Same role as the Theta/HLL sketches in
`plans/sketches.py`, but for MEMBERSHIP rather than cardinality.

Scale shape (10^12 keys):

* **The bitmap is a DataFrame, not driver state**: ``(chunk, bits)``
  rows, one 32-bit word per chunk (32-bit words keep ``1 << (pos % 32)``
  inside BIGINT range on every SQL engine — DuckDB errors on
  ``1 << 63``). Build is one explode (k positions per key) → hash
  ``groupBy(chunk)`` with map-side partial ``bit_or`` — each task
  collapses its key stream to at most ``m/32`` partial words before the
  shuffle, so the shuffle moves bitmap-sized partials, never the key
  stream (the `vocab_top_k` shape with OR instead of SUM).
* **Probing broadcasts the bitmap** (``m/32`` rows — 10 bits/key at
  10^9 keys is ~1.25 GB of words; shard by key-range above that) onto
  the k-exploded probe stream; the per-key AND-reduction
  partial-combines map-side (a key's k probes never span tasks after
  the explode). Zero Python anywhere.
* **Sizing** (standard formulas): ``m = -n·ln(p) / ln(2)²`` bits for n
  keys at false-positive rate p; ``k = (m/n)·ln(2)`` hashes.
  :func:`bloom_params` computes both.

Determinism: positions come from the repo's cross-engine md5-long
pattern (``('0x' || substr(md5(key || ':b<seed>:<i>'), 1, 15))::BIGINT
% m``), so the filter — including its false positives — is bit-exactly
reproducible in DuckDB; the driver query is hash-oracled, not
invariant-gated.
"""

from __future__ import annotations

import math
from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.functions import md5_long


def bloom_params(n_keys: int, fp_rate: float = 0.01) -> Tuple[int, int]:
    """Standard sizing: (m_bits, n_hashes) for ``n_keys`` at
    ``fp_rate``. m rounds up to a multiple of 32 (whole words)."""
    if not 0.0 < fp_rate < 1.0:
        raise ValueError("fp_rate must be in (0, 1)")
    if n_keys <= 0:
        raise ValueError("n_keys must be positive")
    m = max(32, -n_keys * math.log(fp_rate) / (math.log(2) ** 2))
    m_bits = int(math.ceil(m / 32.0) * 32)
    n_hashes = max(1, round(m_bits / n_keys * math.log(2)))
    return m_bits, n_hashes


def _position(key: Column, m_bits: int, seed: int, i: int) -> Column:
    """The key's i-th bit position in [0, m_bits) — the single hash
    expression both the build and every probe (array-based or scalar)
    derive from, so they can never drift."""
    return F.pmod(
        md5_long(F.concat(key.cast("string"), F.lit(f":b{seed}:{i}"))),
        F.lit(m_bits),
    )


def _positions(key: Column, m_bits: int, n_hashes: int, seed: int) -> Column:
    """Array of the key's ``n_hashes`` bit positions in [0, m_bits)."""
    return F.array(
        *[_position(key, m_bits, seed, i) for i in range(n_hashes)]
    )


def build_bloom(
    keys: DataFrame,
    key_col: str = "url",
    m_bits: int = 1 << 20,
    n_hashes: int = 7,
    seed: int = 0,
) -> DataFrame:
    """Build the bitmap: ``(chunk bigint, bits bigint)`` — one row per
    NON-ZERO 32-bit word (absent chunks are zero). NULL keys are
    ignored (NULL is not a member of anything)."""
    pos = keys.filter(F.col(key_col).isNotNull()).select(
        F.explode(
            _positions(F.col(key_col), m_bits, n_hashes, seed)
        ).alias("p")
    )
    return (
        pos.select(
            (F.col("p") / 32).cast("long").alias("chunk"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("p") % 32).cast("int")
            ).alias("mask"),
        )
        .groupBy("chunk")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_contains(
    probes: DataFrame,
    bloom: DataFrame,
    key_col: str = "url",
    m_bits: int = 1 << 20,
    n_hashes: int = 7,
    seed: int = 0,
) -> DataFrame:
    """Membership verdict per DISTINCT probe key: ``(key_col,
    maybe_present)``. ``maybe_present = false`` is definitive (no false
    negatives); ``true`` is probabilistic at the filter's FP rate.
    ``m_bits``/``n_hashes``/``seed`` must match the build — they are
    part of the filter's identity. NULL probe keys are dropped."""
    probe_pos = (
        probes.select(key_col)
        .filter(F.col(key_col).isNotNull())
        .distinct()
        .select(
            F.col(key_col),
            F.explode(
                _positions(F.col(key_col), m_bits, n_hashes, seed)
            ).alias("p"),
        )
        .select(
            key_col,
            (F.col("p") / 32).cast("long").alias("chunk"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("p") % 32).cast("int")
            ).alias("mask"),
        )
    )
    joined = probe_pos.join(F.broadcast(bloom), "chunk", "left")
    return joined.groupBy(key_col).agg(
        F.bool_and(
            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
            == F.col("mask")
        ).alias("maybe_present")
    )
