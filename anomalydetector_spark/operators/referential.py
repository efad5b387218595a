"""Dimension membership under a physical-strategy ladder (north rule;
SURVEY.md §2.2 referential note): :func:`dim_join` flags each fact row
whose key exists in a dimension. The referential verdicts and violation
rows of the pages engine and of the check suite are built on that flag
(plans/fused.ref_flag).

The strategy is chosen by dimension size:

* ``broadcast`` (default, the north rule's stated shape): the dimension
  (domains, allowed langs, …) is small relative to the fact table, so
  the join is forced broadcast — no shuffle of the 10^12-row side, each
  task streams its split against an in-memory hash set. The key column
  ships as is: a membership probe needs no distinct (and so no shuffle
  stage in front of the broadcast).
* ``auto``: no hint. Catalyst picks from statistics and AQE re-plans at
  runtime (a sort-merge join whose built side turns out under
  ``spark.sql.adaptive.autoBroadcastJoinThreshold`` is promoted to
  broadcast after the shuffle materializes). The right setting when the
  dimension's size is unknown at plan time.
* ``shuffle``: explicit ``shuffle_hash`` hint — for dimensions that can
  never broadcast (say 10^9 distinct keys): both sides hash-partition on
  the key, no sort, no driver-side collect of the dim.
* ``shuffle_salted``: ``shuffle`` plus explicit hot-key spreading — the
  fact side gets a per-row salt, the dimension is replicated once per
  salt, and the join key becomes (key, salt), so a domain owning half
  the corpus splits across ``salts`` tasks instead of serializing into
  one. Exact: the replicated dimension contains every salt for every
  key, so match/no-match per fact row is unchanged. (AQE's skew-join
  splitting only applies to sort-merge joins, hence the explicit salt.)
* ``shuffle_bloom``: semi-join reduction for dimensions too big to
  broadcast but whose MISSES dominate (or whose hits do — either way
  most rows are decidable without the join). The dim's Bloom bitmap
  (``operators/bloom``, sized for a 1 % false-positive rate) rides as a
  broadcast 1-row map column; every fact row gets a pure-codegen
  membership probe, and only bloom-POSITIVE rows enter the shuffle
  join. No false negatives by construction, so bloom-negative rows are
  DEFINITE non-members and skip the join — exact, with shuffled bytes
  cut to (hit rate + FP rate) of the fact. The bitmap must fit a
  broadcast row (~1.2 MB per 10^6 dim keys at 1% FP) — for 10^9-key
  dims stay on ``shuffle``/``salted``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

REF_STRATEGIES = (
    "broadcast",
    "auto",
    "shuffle",
    "shuffle_salted",
    "shuffle_bloom",
)

# false-positive rate the shuffle_bloom rung sizes its bitmap for
BLOOM_FP = 0.01


def _salt_expr(salt_on: Column | str | None, salts: int) -> Column:
    """Deterministic-when-possible per-row salt in [0, salts). Pass a
    high-cardinality column (the fact's unique key) for a salt that is
    stable under task retry; the fallback varies per retry, which is
    still exact here because the replicated dim carries every salt."""
    src = (
        F.monotonically_increasing_id()
        if salt_on is None
        else (F.col(salt_on) if isinstance(salt_on, str) else salt_on)
    )
    return F.pmod(F.xxhash64(src), F.lit(salts)).cast("int")


def _dim_keys(parent: DataFrame, parent_col: str, child_col: str) -> DataFrame:
    return parent.select(F.col(parent_col).alias(child_col)).distinct()


def dim_join(
    fact: DataFrame,
    parent: DataFrame,
    child_col: str,
    parent_col: str | None = None,
    strategy: str = "broadcast",
    salts: int = 16,
    salt_on: Column | str | None = None,
    known: str = "_known",
) -> DataFrame:
    """``fact`` with a ``known`` column: True where ``child_col``'s value
    is a key of ``parent[parent_col]``, NULL otherwise, under the chosen
    physical strategy. Every rung keeps each fact row once, whether or
    not the parent repeats a key."""
    if strategy not in REF_STRATEGIES:
        raise ValueError(
            f"strategy must be one of {REF_STRATEGIES}, got {strategy!r}"
        )
    parent_col = parent_col or child_col
    if strategy == "broadcast":
        # membership probes against the broadcast key column: an IN
        # subquery plans as a broadcast ExistenceJoin, so duplicate
        # dimension keys never multiply fact rows and need no distinct
        # (a shuffle stage in front of every broadcast)
        keys = F.broadcast(
            parent.selectExpr(f"`{parent_col}` AS `{child_col}`")
        )
        return fact.withColumn(
            known, F.when(F.col(child_col).isin(keys), F.lit(True))
        )

    dim = _dim_keys(parent, parent_col, child_col).withColumn(
        known, F.lit(True)
    )
    if strategy == "auto":
        return fact.join(dim, child_col, "left")
    if strategy == "shuffle":
        return fact.join(dim.hint("shuffle_hash"), child_col, "left")

    if strategy == "shuffle_bloom":
        return _bloom_reduced_join(fact, dim, child_col, known)

    # shuffle_salted: spread each hot fact key across `salts` tasks
    fact_s = fact.withColumn("_ref_salt", _salt_expr(salt_on, salts))
    dim_s = dim.withColumn(
        "_ref_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    ).hint("shuffle_hash")
    return fact_s.join(dim_s, [child_col, "_ref_salt"], "left").drop(
        "_ref_salt"
    )


def _bloom_probe(key: Column, m_bits: int, n_hashes: int, seed: int) -> Column:
    """Pure-codegen membership probe against the broadcast ``_bloom``
    map column: every one of the key's bit positions must be set. Uses
    the same scalar position expression the build uses."""
    from anomalydetector_spark.operators.bloom import _position

    out = None
    for i in range(n_hashes):
        p = _position(key, m_bits, seed, i)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(32)).cast("int")
        )
        word = F.coalesce(
            F.element_at(F.col("_bloom"), (p / 32).cast("long")),
            F.lit(0).cast("long"),
        )
        c = word.bitwiseAND(mask) == mask
        out = c if out is None else (out & c)
    return out


def _bloom_reduced_join(
    fact: DataFrame, dim: DataFrame, child_col: str, known: str
) -> DataFrame:
    """Semi-join reduction: probe every fact row against the dim's
    broadcast Bloom bitmap in codegen; only bloom-positive rows (true
    members + the FP fraction) reach the shuffle join. Bloom-negative
    rows are definite non-members and get a NULL ``known`` flag directly
    — exact because the filter has no false negatives. ``dim`` carries
    ``known`` = True."""
    from anomalydetector_spark.operators.bloom import bloom_params, build_bloom

    n_keys = dim.count()  # dim is already distinct; bounded action
    m_bits, n_hashes = bloom_params(max(n_keys, 1), BLOOM_FP)
    bloom_row = F.broadcast(
        build_bloom(dim, child_col, m_bits=m_bits, n_hashes=n_hashes).agg(
            F.map_from_entries(
                F.collect_list(F.struct("chunk", "bits"))
            ).alias("_bloom")
        )
    )
    probed = fact.crossJoin(bloom_row).withColumn(
        "_maybe",
        F.col(child_col).isNotNull()
        & _bloom_probe(F.col(child_col), m_bits, n_hashes, seed=0),
    )
    candidates = probed.filter(F.col("_maybe")).drop("_bloom", "_maybe")
    negatives = probed.filter(~F.col("_maybe")).drop("_bloom", "_maybe")
    joined = candidates.join(dim.hint("shuffle_hash"), child_col, "left")
    return joined.unionByName(
        negatives.withColumn(known, F.lit(None).cast("boolean"))
    )
