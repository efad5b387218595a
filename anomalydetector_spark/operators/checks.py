"""Constraint checks — the validation front-end (SURVEY.md §2.2 P1-P13).

Each check is a declarative DataFrame program that produces

* **verdict rows**: ``(check_name, partition_key, passed, error_message,
  violation_count, rows_scanned)`` — one per partition, the engine's
  generalization of the reference's whole-job ``raise``
  (aml_component/invoker.py:43-82), and
* **violation rows**: the offending input rows tagged with the check name,
  for violation-row recall scoring.

Design rules for 10^12-doc scale:
* every check is a single aggregation or window pass over pruned columns
  (never reads ``html`` unless the check targets it),
* the count-shaped and row-predicate verdicts (min rows, nulls,
  finiteness, bounds, float castability, patterns, JSON schema, text
  byte identity against the html's extraction, row asserts, freshness,
  uniqueness, referential integrity, functional dependencies) are not
  here: they compile onto the shared scans, one rollup and one
  violation scan (plans/suite.compile_checks), for the pages engine and
  for any table's check suite alike,
* violations are lazily-evaluated DataFrames — only materialized when the
  caller sinks them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anomalydetector_spark.kernel.sr import MIN_POINTS
from anomalydetector_spark.operators import errors

VERDICT_COLS = [
    "check_name",
    "partition_key",
    "passed",
    "error_message",
    "violation_count",
    "rows_scanned",
]


@dataclass
class CheckResult:
    """A check's two outputs; ``violations`` may be None for checks whose
    failures aren't row-addressable (e.g. min-row-count)."""

    verdicts: DataFrame
    violations: DataFrame | None = None


def _part(df: DataFrame, partition_by: Column | str | None) -> DataFrame:
    if partition_by is None:
        return df.withColumn("partition_key", F.lit("global"))
    col = F.col(partition_by) if isinstance(partition_by, str) else partition_by
    return df.withColumn("partition_key", col.cast("string"))


def _verdict_from_violation_count(
    counted: DataFrame, check_name: str, message: str
) -> DataFrame:
    return counted.select(
        F.lit(check_name).alias("check_name"),
        "partition_key",
        (F.col("violation_count") == 0).alias("passed"),
        F.when(F.col("violation_count") > 0, F.lit(message)).alias("error_message"),
        "violation_count",
        "rows_scanned",
    )


def _violation_rows(
    df: DataFrame, predicate: Column, check_name: str, keep: list[str]
) -> DataFrame:
    return df.filter(predicate).select(
        F.lit(check_name).alias("check_name"), "partition_key", *keep
    )


def _metadata_verdict(
    spark, check_name: str, message: str | None, violations: int
) -> DataFrame:
    """One ``global`` verdict row for a scan-free (schema-only) check, as
    a literal projection of a one-row JVM range: a ``createDataFrame``
    list would compile to a Python RDD and start Python workers on every
    action over the unioned verdicts."""
    return spark.range(0, 1, 1, 1).selectExpr(
        f"{sql_string(check_name)} AS check_name",
        "'global' AS partition_key",
        f"{violations == 0} AS passed",
        f"CAST({'NULL' if message is None else sql_string(message)} AS STRING)"
        " AS error_message",
        f"CAST({int(violations)} AS BIGINT) AS violation_count",
        "CAST(0 AS BIGINT) AS rows_scanned",
    )


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (for expressions built as SQL
    text, which the JVM parses in one call)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def check_column_presence(
    df: DataFrame, required: list[str], check_name: str = "column_presence"
) -> CheckResult:
    """P3 — schema check: required columns exist (invoker.py:49-53).
    Purely metadata: no scan at all."""
    missing = [c for c in required if c not in df.columns]
    return CheckResult(
        _metadata_verdict(
            df.sparkSession,
            check_name,
            errors.COLUMN_NOT_FOUND.format(missing[0]) if missing else None,
            len(missing),
        )
    )


def check_schema_types(
    df: DataFrame,
    expected: dict[str, str],
    check_name: str = "schema_types",
    allow_extra: bool = True,
) -> CheckResult:
    """Schema-evolution check: every expected column exists WITH the
    expected Spark simple type (``string``, ``timestamp``, ``binary``,
    ``bigint``, …). Like P3 this is purely metadata — no scan — but it
    catches the silent killer P3 misses: a column that still exists after
    a snapshot rewrite but changed type (``lang`` string → int, ``html``
    binary → string), which every downstream expression would then
    miscompute on. With ``allow_extra=False`` unexpected columns also
    fail (locked-schema mode)."""
    spark = df.sparkSession
    actual = dict(df.dtypes)
    problems = []
    for col, typ in expected.items():
        if col not in actual:
            problems.append(f"{col}: missing")
        elif actual[col] != typ:
            problems.append(f"{col}: expected {typ}, got {actual[col]}")
    if not allow_extra:
        problems += [f"{c}: unexpected column" for c in actual if c not in expected]
    return CheckResult(
        _metadata_verdict(
            spark,
            check_name,
            "; ".join(problems) if problems else None,
            len(problems),
        )
    )


def check_strictly_ascending(
    df: DataFrame,
    ts_col: str,
    partition_by: Column | str | None = None,
    keep: list[str] | None = None,
) -> CheckResult:
    """P5 + P6 — per-partition strict ordering of a series' timestamps
    (invoker.py:27-35): descending pair → order violation, equal pair →
    duplicate-timestamp violation. One window pass computes both."""
    p = _part(df, partition_by)
    w = Window.partitionBy("partition_key").orderBy(F.col(ts_col))
    lagged = p.withColumn("_prev_ts", F.lag(ts_col).over(w))
    dup = F.col("_prev_ts").isNotNull() & (F.col(ts_col) == F.col("_prev_ts"))
    # after sorting, "descending input" is unobservable; the reference's
    # order check is meaningful only for pre-ordered frames, so here the
    # violation class that survives a shuffle is duplication. Order checks
    # against a stated file/order column use check_ascending_by below.
    counted = lagged.groupBy("partition_key").agg(
        F.sum(dup.cast("long")).alias("violation_count"),
        F.count(F.lit(1)).alias("rows_scanned"),
    )
    name = f"unique_ts_{ts_col}"
    return CheckResult(
        _verdict_from_violation_count(
            counted, name, errors.DUPLICATE_SERIES_TIMESTAMP
        ),
        _violation_rows(lagged, dup, name, keep or [ts_col]),
    )


def check_ascending_by(
    df: DataFrame,
    ts_col: str,
    order_col: str,
    partition_by: Column | str | None = None,
    keep: list[str] | None = None,
) -> CheckResult:
    """P5 — timestamps ascend along an explicit physical order column
    (row id / file offset), the distributed analog of the reference's
    pairwise scan over frame order (invoker.py:27-35)."""
    p = _part(df, partition_by)
    w = Window.partitionBy("partition_key").orderBy(F.col(order_col))
    lagged = p.withColumn("_prev_ts", F.lag(ts_col).over(w))
    bad = F.col("_prev_ts").isNotNull() & (F.col(ts_col) < F.col("_prev_ts"))
    counted = lagged.groupBy("partition_key").agg(
        F.sum(bad.cast("long")).alias("violation_count"),
        F.count(F.lit(1)).alias("rows_scanned"),
    )
    name = f"ascending_{ts_col}"
    return CheckResult(
        _verdict_from_violation_count(counted, name, errors.INVALID_SERIES_ORDER),
        _violation_rows(lagged, bad, name, keep or [ts_col, order_col]),
    )


def validate_batch_size(batch_size: int, min_points: int = MIN_POINTS) -> None:
    """P2 — config validation, driver-side (invoker.py:46-47)."""
    if 0 < batch_size < min_points:
        raise ValueError(errors.INVALID_BATCH_SIZE.format(min_points))


def fd_cols(side: str | list[str] | tuple) -> list[str]:
    """Normalize one side of a functional dependency to a column list."""
    return [side] if isinstance(side, str) else list(side)


def fd_label(side: str | list[str] | tuple) -> str:
    """Human/check-name label for one FD side: single column keeps its
    bare name (stable check names for existing suites), composites join
    with '+'."""
    cols = fd_cols(side)
    return cols[0] if len(cols) == 1 else "+".join(cols)


def check_functional_dependency(
    df: DataFrame,
    determinant: str | list[str],
    dependent: str | list[str],
    partition_by: Column | str | None = None,
) -> CheckResult:
    """Generic functional-dependency check: every fully-non-null
    ``determinant`` value must map to exactly one ``dependent`` value
    (generalizes check_key_text_consistency to any column pair — url →
    domain, snapshot_id → partition_spec, …). Either side may be a LIST
    of columns: a composite determinant groups on the column tuple
    directly (no key concatenation — no delimiter/null hazard), a
    composite dependent hashes the struct of all its columns; rows with
    ANY determinant column null are skipped, matching the single-column
    non-null rule.

    Scale shape: the dependent is collapsed per row to a 256-bit hash of
    its JSON encoding BEFORE the shuffle (``to_json(struct(cols))`` is
    injective per type, handles any column type incl. binary via base64,
    and encodes NULL distinctly — so a determinant mapping to {x, NULL}
    counts as two values), one hash-aggregate on the determinant, then a
    tiny per-partition rollup. Violations are the offending DETERMINANT
    keys (callers semi-join for full rows)."""
    dets, deps = fd_cols(determinant), fd_cols(dependent)
    det_l, dep_l = fd_label(determinant), fd_label(dependent)
    name = f"fd_{det_l}_{dep_l}"
    p = _part(df, partition_by)
    for c in dets:
        p = p.filter(F.col(c).isNotNull())
    enc = F.sha2(F.to_json(F.struct(*[F.col(c) for c in deps])), 256)
    per_key = p.groupBy("partition_key", *dets).agg(
        F.count_distinct(enc).alias("_nv"),
        F.count(F.lit(1)).alias("_rows"),
    )
    counted = per_key.groupBy("partition_key").agg(
        F.sum((F.col("_nv") > 1).cast("long")).alias("violation_count"),
        F.sum("_rows").alias("rows_scanned"),
    )
    bad_keys = per_key.filter(F.col("_nv") > 1).select(
        F.lit(name).alias("check_name"), "partition_key", *dets
    )
    return CheckResult(
        _verdict_from_violation_count(
            counted, name, errors.FD_VIOLATION.format(det_l, dep_l)
        ),
        bad_keys,
    )


def check_key_text_consistency(
    df: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    partition_by: Column | str | None = None,
) -> CheckResult:
    """North-rule invariant — all rows sharing a key (url) must carry
    byte-identical text. One hash-aggregate on the key; text bytes are
    first collapsed to a 256-bit hash per row so the shuffle carries 32
    bytes, never the document body. Violations are the offending KEYS
    (row extraction would force a second scan; callers can semi-join)."""
    name = f"consistent_text_{key_col}"
    p = _part(df, partition_by).filter(F.col(text_col).isNotNull())
    per_key = p.groupBy("partition_key", key_col).agg(
        F.count_distinct(F.sha2(F.encode(F.col(text_col), "UTF-8"), 256)).alias(
            "_nv"
        ),
        F.count(F.lit(1)).alias("_rows"),
    )
    counted = per_key.groupBy("partition_key").agg(
        F.sum((F.col("_nv") > 1).cast("long")).alias("violation_count"),
        F.sum("_rows").alias("rows_scanned"),
    )
    bad_keys = per_key.filter(F.col("_nv") > 1).select(
        F.lit(name).alias("check_name"), "partition_key", key_col
    )
    return CheckResult(
        _verdict_from_violation_count(
            counted, name, errors.INCONSISTENT_KEY_TEXT.format(key_col)
        ),
        bad_keys,
    )


def check_robust_outliers(
    df: DataFrame,
    column: str,
    partition_by: Column | str | None = None,
    k: float = 5.0,
    max_outlier_frac: float = 0.0,
    keep: list[str] | None = None,
) -> CheckResult:
    """Data-derived magnitude gate: flag values with ``|x - median| >
    k * MAD`` of their partition (operators/robust — exact type-1
    estimators on the counts cube, never a per-partition sort). Where
    P9's ``bounds`` needs caller-supplied limits, this one derives them
    robustly from the column itself; the estimator has a 50% breakdown
    point, so the outliers it hunts cannot drag it.

    ``max_outlier_frac`` tolerates heavy-but-expected tails: the
    partition passes while ``violation_count <= max_outlier_frac *
    rows_scanned`` (default 0 — any outlier fails, matching the other
    checks' semantics). Null values are never outliers (P4/P8 own
    nulls); a partition whose MAD is 0 (over half its values identical)
    flags EVERY deviating value — the estimator's documented
    quantized-data bite, deliberate here: a validation check SHOULD
    scream when a near-constant column suddenly varies.
    """
    from anomalydetector_spark.operators.robust import mad_outliers

    name = f"robust_outliers_{column}"
    p = _part(df, partition_by)
    flagged = mad_outliers(p, column, by=("partition_key",), k=k)
    bad = F.coalesce(F.col("is_outlier"), F.lit(False))
    counted = flagged.groupBy("partition_key").agg(
        F.sum(bad.cast("long")).alias("violation_count"),
        F.count(F.lit(1)).alias("rows_scanned"),
    )
    message = errors.ROBUST_OUTLIERS.format(column, k)
    verdicts = counted.select(
        F.lit(name).alias("check_name"),
        "partition_key",
        (
            F.col("violation_count").cast("double")
            <= F.lit(max_outlier_frac) * F.col("rows_scanned").cast("double")
        ).alias("passed"),
        F.when(
            F.col("violation_count").cast("double")
            > F.lit(max_outlier_frac) * F.col("rows_scanned").cast("double"),
            F.lit(message),
        ).alias("error_message"),
        "violation_count",
        "rows_scanned",
    )
    return CheckResult(
        verdicts,
        _violation_rows(flagged, bad, name, keep or [column]),
    )


def json_schema_reason(column: str, required: dict[str, str]) -> str:
    """SQL of a row's JSON-schema violation reason (NULL = compliant)
    for a check suite's ``json_schema`` spec: every non-null value of
    ``column`` must be (a) parseable JSON, and (b) carry each key in
    ``required`` (a ``{json_key: spark_type}`` mapping, e.g.
    ``{"k": "bigint"}``) with a value castable to the declared type.

    Entirely JVM-side codegen: ``try_parse_json`` probes validity (the
    VARIANT parser — no Python, no UDF), ``get_json_object`` extracts,
    ``try_cast`` type-checks. Pinned conventions:

    * a NULL column value is NOT a violation (nullability is P4's job);
    * a JSON ``null`` value for a required key counts as MISSING —
      ``get_json_object`` surfaces JSON null and absent identically,
      and a required key whose value is null fails either way;
    * each violating row reports ONE reason — the first failure in
      declaration order: ``malformed``, then ``missing:<key>`` /
      ``type:<key>`` per key — so the violation rows are deterministic;
    * keys are used verbatim in the JSONPath (``$.<key>``) — keys
      containing ``.``/quotes/brackets are rejected loudly.
    """
    for k in required:
        if any(ch in k for ch in ".[]'\""):
            raise ValueError(f"unsupported character in JSON key: {k!r}")
    col = f"`{column}`"
    branches = [
        f"WHEN {col} IS NULL THEN NULL",
        f"WHEN try_parse_json({col}) IS NULL THEN 'malformed'",
    ]
    for k, typ in required.items():
        raw = f"get_json_object({col}, {sql_string('$.' + k)})"
        branches += [
            f"WHEN {raw} IS NULL THEN {sql_string('missing:' + k)}",
            f"WHEN try_cast({raw} AS {typ}) IS NULL "
            f"THEN {sql_string('type:' + k)}",
        ]
    return f"CASE {' '.join(branches)} END"
