"""Incremental re-validation: validate ONLY the partitions that changed
between two table snapshots, carrying unchanged partitions' verdicts
forward in the checkpoint manifest.

The 100-TB shape (a daily Common-Crawl-style append): re-running the full
engine over 10^12 docs because 2% of partitions changed wastes 98% of the
scan. Instead:

1. one aggregation pass per snapshot builds order-insensitive per-
   partition content digests (``operators/snapshot.partition_digests`` —
   row count + two differently seeded sums of native per-row xxhash64
   values, no per-row string and no per-key join, so the pass costs
   about what reading the compare columns costs; it is the job's only
   full-input read, so at 10^12 docs it is the whole per-document
   cost),
2. the tiny digest frames full-outer join into added/removed/changed/
   unchanged statuses (``changed_partitions``),
3. the NEW snapshot is filtered to added ∪ changed partitions — the
   collected partition list is bounded by #partitions (not rows) and the
   ``IN``/``IS NULL`` predicate pushes into the scan, so a table laid out
   by the partition column prunes untouched data entirely,
4. ``engine.run_validation`` runs on the subset with
   ``partition_by = partition_column``, so verdicts / manifest rows align
   with churn granularity,
5. unchanged partitions' manifest rows are re-labelled to the new
   snapshot id (a copy of a tiny frame) — the merged manifest view covers
   EVERY partition of the new snapshot: fresh verdicts for churned ones,
   carried lineage (stats digest + metrics) for untouched ones.

On an Iceberg catalog, step 1's old-side scan is replaceable by snapshot
metadata (the manifest files record per-data-file partition values and
row counts); the parquet path digests both sides because plain
directories carry no trustworthy lineage. Either way steps 2-5 are
identical.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from anomalydetector_spark.engine import (
    ValidationConfig,
    ValidationResult,
    run_validation,
)
from anomalydetector_spark.operators.snapshot import (
    changed_partitions,
    partition_digests,
)

# partition_digests maps a NULL single-column partition value to this
# sentinel so the full-outer join can match it across snapshots. Known
# edge: a partition whose STRING value is literally '<NULL>' is
# indistinguishable from the null partition at churn granularity (both
# then churn/validate together — over-validation, never under).
NULL_PART = "<NULL>"


def churned_partition_condition(
    parts: list[str], partition_column: str, dtype=None
) -> Column:
    """Filter predicate selecting the given partition-key values on the
    raw table — ``IN`` plus ``IS NULL`` when the sentinel is present,
    both pushdown-friendly. Empty list → FALSE (nothing churned).

    Pass the column's ``dtype`` (``df.schema[col].dataType``) for
    non-string partition columns: the stringified digest keys are then
    cast back to typed LITERALS (constant-folded), keeping the column
    bare so the ``In`` predicate still reaches the scan —
    ``cast(col as string) IN (...)`` would block row-group/partition
    pruning for int/date columns, defeating the incremental win."""
    from pyspark.sql.types import StringType

    vals = [p for p in parts if p != NULL_PART]
    cond = F.lit(False)
    if vals:
        col = F.col(partition_column)
        if dtype is not None and not isinstance(dtype, StringType):
            cond = col.isin(*[F.lit(v).cast(dtype) for v in vals])
        else:
            # identity cast on a string column — Catalyst removes it
            cond = col.cast("string").isin(vals)
    if NULL_PART in parts:
        cond = cond | F.col(partition_column).isNull()
    return cond


@dataclass
class IncrementalResult:
    # (partition, status) for every partition of either side — PERSISTED
    # (it is read for the todo list, the sink, and the manifest carry)
    churn: DataFrame
    todo: list[str]  # added ∪ changed partition keys (bounded: #partitions)
    result: ValidationResult | None  # None when nothing churned
    # the NEW snapshot's partition digests — PERSISTED; store them (see
    # write_partition_digests) so the NEXT incremental run never rescans
    # this snapshot's content
    new_digests: DataFrame | None = None

    def unpersist(self) -> None:
        self.churn.unpersist()
        if self.new_digests is not None:
            self.new_digests.unpersist()
        if self.result is not None:
            self.result.unpersist()


def incremental_validate(
    old: DataFrame | None,
    new: DataFrame,
    partition_column: str,
    domains: DataFrame | None = None,
    config: ValidationConfig | None = None,
    compare_cols: list[str] | None = None,
    old_digests: DataFrame | None = None,
) -> IncrementalResult:
    """Validate only the added/changed partitions of ``new`` vs ``old``.

    ``config.partition_by`` is forced to ``partition_column`` so the
    engine's verdicts (and manifest rows) land at churn granularity.
    Returns ``result=None`` when no partition churned — the caller keeps
    the previous snapshot's verdicts wholesale (carry them forward with
    :func:`carry_forward_manifest`).

    Pass ``old_digests`` (the previous run's ``new_digests``, stored via
    :func:`write_partition_digests`) to skip the old-side content scan
    entirely — the steady-state daily job then scans yesterday's data
    ZERO times: one digest pass over the new snapshot plus the engine on
    the churned subset. Without it, ``old`` is digested here (cold
    start). ``compare_cols`` must match the stored digests' columns."""
    cfg = dataclasses.replace(
        config or ValidationConfig(), partition_by=partition_column
    )
    # canonical column order: digest sums are order-sensitive, so both
    # sides (and any stored digests) must hash the same sorted list
    compare_cols = resolve_compare_cols(new, partition_column, compare_cols)
    if old_digests is None:
        if old is None:
            raise ValueError("need either old or old_digests")
        old_digests = partition_digests(old, partition_column, compare_cols)
    new_digests = partition_digests(
        new, partition_column, compare_cols
    ).persist()
    churn = changed_partitions(old_digests, new_digests).persist()
    todo = sorted(
        r.partition
        for r in churn.filter(
            F.col("status").isin("added", "changed")
        ).collect()
    )
    if not todo:
        return IncrementalResult(churn, [], None, new_digests)
    subset = new.filter(
        churned_partition_condition(
            todo, partition_column, new.schema[partition_column].dataType
        )
    )
    res = run_validation(subset, domains, cfg)
    # the daily job collects these verdicts and then appends them as
    # manifest rows (verdicts_to_manifest_rows, run_with_resume):
    # persisted, the append reads the cache instead of re-running the
    # verdict DAG. run_validation leaves its verdicts unpersisted: a
    # plain validation reads them once, and the cache fill would cost it
    # ~0.2 CPU-s a run.
    res.cached.append(res.verdicts.persist())
    return IncrementalResult(churn, todo, res, new_digests)


def resolve_compare_cols(
    df: DataFrame, partition_column: str, compare_cols: list[str] | None
) -> list[str]:
    """Canonical compare-column list for a digest run: caller's list
    SORTED (digest sums concatenate per-column encodings, so order
    changes the hash — canonicalizing makes ['a','b'] and ['b','a']
    produce identical, comparable digests), or every non-partition
    column of ``df`` resolved CONCRETELY (so schema drift between
    snapshots changes the provenance tag and forces an honest cold
    start instead of marking every partition changed)."""
    if compare_cols:
        return sorted(compare_cols)
    return sorted(set(df.columns) - {partition_column})


# Digest scheme version, the first field of every stored digest_meta
# tag: sums written under another per-row hash (the md5 scheme stored
# untagged "<partition>|<columns>" strings) never compare equal to these.
DIGEST_SCHEME = "xxh64x2"

# Stored digest rows; reads give the schema so that no schema-inference
# job runs, and a store without a digest_meta column reads it as NULL.
DIGEST_STORE_SCHEMA = (
    "partition string, n_rows bigint, digest_sum_a decimal(38,0), "
    "digest_sum_b decimal(38,0), digest_meta string, snapshot_id string"
)


def _digest_meta(partition_column: str | None, compare_cols) -> str:
    """Digest-provenance tag: digests are only comparable when computed
    by the same scheme over the same partition column AND compare
    columns. Callers should pass a RESOLVED column list
    (resolve_compare_cols)."""
    cc = "*" if not compare_cols else ",".join(sorted(compare_cols))
    return f"{DIGEST_SCHEME}|{partition_column or '*'}|{cc}"


def write_partition_digests(
    digests: DataFrame,
    path: str,
    snapshot_id: str,
    partition_column: str | None = None,
    compare_cols: list[str] | None = None,
) -> None:
    """Append a snapshot's partition digests to the digest store (a
    parquet directory beside the manifest, partitioned by snapshot so the
    next run's read prunes to one snapshot's rows — #partitions, tiny).
    The (partition column, compare columns) provenance is stored with the
    rows so a later read with different settings cannot silently compare
    apples to oranges."""
    digests.withColumn(
        "digest_meta", F.lit(_digest_meta(partition_column, compare_cols))
    ).withColumn("snapshot_id", F.lit(snapshot_id)).write.mode(
        "append"
    ).partitionBy("snapshot_id").parquet(path)


def read_partition_digests(
    spark: SparkSession,
    path: str,
    snapshot_id: str,
    partition_column: str | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame | None:
    """Load one snapshot's stored digests, or None if absent OR computed
    with a different digest scheme, partition column or compare-column
    set (a mismatched reuse would mark every partition 'changed' — full
    revalidation silently masquerading as incremental). Absence covers
    every shape: no store yet, an empty first write (_SUCCESS only), a
    store written before the scheme tag or before ``digest_meta``
    existed, or an object-store path — all read errors degrade to a
    cold start, never a wedged pipeline. The read gives
    :data:`DIGEST_STORE_SCHEMA`, so the only Spark job is the presence
    probe."""
    try:
        stored = spark.read.schema(DIGEST_STORE_SCHEMA).parquet(path)
    except Exception:
        return None
    meta = _digest_meta(partition_column, compare_cols)
    stored = stored.filter(
        (F.col("snapshot_id") == snapshot_id) & (F.col("digest_meta") == meta)
    ).drop("digest_meta", "snapshot_id")
    if not stored.head(1):
        return None
    return stored


def commit_digest_store(
    spark: SparkSession,
    path: str,
    snapshot_id: str,
    digests: DataFrame,
    partition_column: str,
    compare_cols: list[str] | None,
) -> bool:
    """Idempotent store commit: append ``digests`` under ``snapshot_id``
    unless matching-provenance digests are already stored. The single
    home for the check-then-write pattern (the CLI's seed path and the
    incremental commit path must never diverge)."""
    if read_partition_digests(
        spark, path, snapshot_id, partition_column, compare_cols
    ) is None:
        write_partition_digests(
            digests, path, snapshot_id, partition_column, compare_cols
        )
        return True
    return False


def carry_forward_manifest(
    spark: SparkSession,
    manifest_path: str,
    old_snapshot: str,
    new_snapshot: str,
    churn: DataFrame,
) -> DataFrame:
    """Re-label the latest manifest rows of UNCHANGED partitions from the
    old snapshot to the new one (lineage: stats digest + metrics carried,
    ``completed_at`` refreshed so ``latest_verdicts`` prefers them over
    stale rows), append, and return the appended rows. The frames involved
    are manifest-sized (partitions × checks), never input-sized."""
    from anomalydetector_spark import manifest as M

    manifest = M.read_manifest(spark, manifest_path)
    # churn keys stringify a NULL partition value to the '<NULL>'
    # sentinel, but the engine's partition_key (and so the manifest's
    # partition_spec) keeps SQL NULL — translate back and join null-safe,
    # or an unchanged null partition would silently lose its coverage
    unchanged = churn.filter(F.col("status") == "unchanged").select(
        F.when(F.col("partition") == NULL_PART, F.lit(None))
        .otherwise(F.col("partition"))
        .alias("_unchanged_spec")
    )
    latest = M.latest_verdicts(manifest, old_snapshot)
    carried = (
        latest.join(
            F.broadcast(unchanged),
            latest["partition_spec"].eqNullSafe(F.col("_unchanged_spec")),
        )
        .drop("_unchanged_spec")
        .withColumn("snapshot_id", F.lit(new_snapshot))
        .withColumn("completed_at", F.current_timestamp())
    )
    M.append_manifest(carried, manifest_path)
    return carried
