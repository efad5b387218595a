"""Declarative check suites — the engine's user-facing "query language".

The reference hard-codes its validation gauntlet as sequential imperative
checks with whole-job raises (aml_component/invoker.py:43-82). Here a
suite is DATA: a list of :class:`CheckSpec`, compiled onto the minimal
set of scans:

* count-shaped specs (``min_rows``, ``not_null``, ``referential``) ride
  the shared counts-cube rollup (plans/fused.py) — one scan total no
  matter how many of them the suite contains;
* ``unique`` rides the salted url-profile scan;
* value-shaped specs (``finite``, ``bounds``, ``float_castable``,
  ``ascending``) compile to the single-aggregation programs in
  operators/checks.py — one scan each, still never a collect.

``engine.run_validation`` does not go through this compiler. It reads the
same fused scans (plans/fused.py), but builds its own verdicts for the
fixed pages-table checks as one ``inline(array(struct))`` projection over
the cube rollup, and its violation rows from one tagged scan.
:func:`run_suite` is the general surface for arbitrary tables.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.kernel.sr import MIN_POINTS
from anomalydetector_spark.operators import checks as C
from anomalydetector_spark.operators import errors as E
from anomalydetector_spark.plans import fused

CUBE_KINDS = {"min_rows", "not_null_ts", "referential"}


@dataclass(frozen=True)
class CheckSpec:
    """One declarative check. ``kind`` ∈ {min_rows, not_null_ts,
    not_null, unique, referential, finite, bounds, float_castable,
    ascending, column_presence, robust_outliers, freshness, benford, pattern,
    json_schema}."""

    kind: str
    column: str | None = None
    dim: DataFrame | None = None
    dim_column: str | None = None
    min_points: int = MIN_POINTS
    lower: float | None = None
    upper: float | None = None
    order_col: str | None = None
    required: tuple[str, ...] = ()
    # robust_outliers only
    k: float = 5.0
    max_outlier_frac: float = 0.0
    # freshness only: explicit reference instant (ISO string — explicit
    # for determinism) + max allowed lag of max(ts) behind it
    max_lag_seconds: int = 0
    reference_ts: str | None = None
    # json_schema only: ((json_key, spark_type), ...) requirement pairs
    json_keys: tuple = ()
    # benford only: Nigrini MAD ceiling (0.015 = nonconformity edge)
    max_mad: float = 0.015
    # pattern only: allowed char-class signatures + collapse mode
    allowed: tuple[str, ...] = ()
    collapsed: bool = True
    # referential only: dimension-join ladder rung + salt count
    # (operators/referential.dim_join)
    strategy: str = "broadcast"
    salts: int = 16


# -- spec constructors (the public vocabulary) ------------------------------

def min_rows(min_points: int = MIN_POINTS) -> CheckSpec:
    return CheckSpec("min_rows", min_points=min_points)


def not_null_ts(ts_col: str) -> CheckSpec:
    """Null/unparseable timestamp check, cube-routed (invoker.py:55-59)."""
    return CheckSpec("not_null_ts", column=ts_col)


def not_null(column: str) -> CheckSpec:
    return CheckSpec("not_null", column=column)


def unique(key_col: str) -> CheckSpec:
    return CheckSpec("unique", column=key_col)


def referential(
    column: str,
    dim: DataFrame,
    dim_column: str | None = None,
    strategy: str = "broadcast",
    salts: int = 16,
) -> CheckSpec:
    return CheckSpec("referential", column=column, dim=dim,
                     dim_column=dim_column or column,
                     strategy=strategy, salts=salts)


def finite(column: str) -> CheckSpec:
    return CheckSpec("finite", column=column)


def bounds(column: str, lower: float, upper: float) -> CheckSpec:
    return CheckSpec("bounds", column=column, lower=lower, upper=upper)


def float_castable(column: str) -> CheckSpec:
    return CheckSpec("float_castable", column=column)


def ascending(ts_col: str, order_col: str) -> CheckSpec:
    return CheckSpec("ascending", column=ts_col, order_col=order_col)


def column_presence(*required: str) -> CheckSpec:
    return CheckSpec("column_presence", required=tuple(required))


def robust_outliers(
    column: str, k: float = 5.0, max_outlier_frac: float = 0.0
) -> CheckSpec:
    """Data-derived magnitude gate: |x - median| > k*MAD per partition
    (checks.check_robust_outliers — exact counts-cube estimators)."""
    return CheckSpec("robust_outliers", column=column, k=k,
                     max_outlier_frac=max_outlier_frac)


def benford(
    column: str, max_mad: float = 0.015
) -> CheckSpec:
    return CheckSpec(kind="benford", column=column, max_mad=max_mad)


def pattern(
    column: str, allowed: list[str] | tuple[str, ...], collapsed: bool = True
) -> CheckSpec:
    return CheckSpec(
        kind="pattern", column=column,
        allowed=tuple(allowed), collapsed=collapsed,
    )


def freshness(
    ts_col: str, max_lag_seconds: int, reference_ts: str | None = None
) -> CheckSpec:
    """Staleness gate: per-partition max(ts) must lag ``reference_ts``
    by ≤ ``max_lag_seconds`` (checks.check_freshness; pass an explicit
    reference for deterministic verdicts)."""
    return CheckSpec("freshness", column=ts_col,
                     max_lag_seconds=max_lag_seconds,
                     reference_ts=reference_ts)


def json_schema(column: str, required: dict[str, str]) -> CheckSpec:
    """JSON payload validation: every non-null value of ``column`` must
    parse and carry each required key castable to its declared Spark
    type (checks.check_json_schema)."""
    return CheckSpec("json_schema", column=column,
                     json_keys=tuple(required.items()))


@dataclass
class SuiteResult:
    verdicts: DataFrame
    violations: DataFrame | None
    cached: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.cached:
            df.unpersist()


def _union(frames: list[DataFrame]) -> DataFrame | None:
    frames = [f for f in frames if f is not None]
    if not frames:
        return None
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def run_suite(
    df: DataFrame,
    specs: list[CheckSpec],
    partition_by: str | None = None,
    window_duration: str = "1 day",
    persist_scans: bool = True,
) -> SuiteResult:
    """Compile and lazily build the suite's verdict + violation frames.

    The cube/profile scans are built at most once regardless of how many
    specs route onto them; value-shaped specs fall back to per-check
    single-aggregation programs.
    """
    verdicts: list[DataFrame] = []
    violations: list[DataFrame] = []
    cached: list[DataFrame] = []

    cube_specs = [s for s in specs if s.kind in CUBE_KINDS]
    uniq_specs = [s for s in specs if s.kind == "unique"]

    ref = next((s for s in cube_specs if s.kind == "referential"), None)
    ts_spec = next((s for s in cube_specs if s.kind == "not_null_ts"), None)

    if cube_specs or uniq_specs:
        ts_col = ts_spec.column if ts_spec else None
        keyed = df.withColumns(
            {
                "partition_key": F.lit("global")
                if partition_by is None
                else F.col(partition_by).cast("string"),
                "window_start": fused.window_start_col(
                    df, ts_col, window_duration
                )
                if ts_col
                else F.lit(None).cast("timestamp"),
            }
        )
        key_col = uniq_specs[0].column if uniq_specs else None

        if ref is not None:
            from anomalydetector_spark.operators.referential import dim_join

            flagged = dim_join(
                keyed,
                ref.dim,
                ref.column,
                ref.dim_column,
                how="left",
                strategy=ref.strategy,
                salts=ref.salts,
                salt_on=F.col(key_col) if key_col else None,
            ).withColumn(
                "_ok",
                F.col(ref.column).isNull() | F.col("_known").isNotNull(),
            )
        else:
            flagged = keyed.withColumn("_ok", F.lit(True))

        cube = flagged.groupBy("window_start", "partition_key", "_ok").agg(
            F.count(F.lit(1)).alias("_n")
        )
        if persist_scans:
            cube = cube.persist()
            cached.append(cube)
        profiles = []
        for s in uniq_specs:
            profile = fused.url_profile(keyed, s.column)
            if persist_scans:
                profile = profile.persist()
                cached.append(profile)
            profiles.append(profile)
        # one rollup: the cube's counters + each unique spec's duplicate
        # rows per partition (_dup_<i>)
        roll = fused.partition_rollup(
            cube,
            [fused.dup_counts(p, f"_dup_{i}") for i, p in enumerate(profiles)],
            partitioned=partition_by is not None,
        )

        for s in cube_specs:
            if s.kind == "min_rows":
                verdicts.append(
                    roll.select(
                        F.lit("min_row_count").alias("check_name"),
                        "partition_key",
                        (F.col("rows_scanned") >= s.min_points).alias("passed"),
                        F.when(
                            F.col("rows_scanned") < s.min_points,
                            F.lit(E.NOT_ENOUGH_POINTS.format(s.min_points)),
                        ).alias("error_message"),
                        F.when(
                            F.col("rows_scanned") < s.min_points,
                            F.col("rows_scanned"),
                        ).otherwise(F.lit(0)).alias("violation_count"),
                        "rows_scanned",
                    )
                )
            elif s.kind == "not_null_ts":
                verdicts.append(
                    C._verdict_from_violation_count(
                        roll.withColumn("violation_count", F.col("null_ts")),
                        f"not_null_{s.column}",
                        E.INVALID_TIMESTAMPS,
                    )
                )
                violations.append(
                    keyed.filter(F.col(s.column).isNull()).select(
                        F.lit(f"not_null_{s.column}").alias("check_name"),
                        "partition_key",
                    )
                )
            elif s.kind == "referential":
                verdicts.append(
                    C._verdict_from_violation_count(
                        roll.withColumn("violation_count", F.col("dangling")),
                        f"ref_{s.column}",
                        E.DANGLING_REFERENCE.format(s.column, s.dim_column),
                    )
                )
                violations.append(
                    flagged.filter(~F.col("_ok")).select(
                        F.lit(f"ref_{s.column}").alias("check_name"),
                        "partition_key",
                        s.column,
                    )
                )

        for i, (s, profile) in enumerate(zip(uniq_specs, profiles)):
            name = f"unique_{s.column}"
            verdicts.append(
                C._verdict_from_violation_count(
                    roll.withColumn("violation_count", F.col(f"_dup_{i}")),
                    name,
                    E.DUPLICATE_KEY.format(s.column),
                )
            )
            violations.append(
                keyed.filter(fused.is_dup_key(s.column, profile)).select(
                    F.lit(name).alias("check_name"), "partition_key", s.column
                )
            )

    # value-shaped / metadata specs — per-check programs
    for s in specs:
        if s.kind in CUBE_KINDS or s.kind == "unique":
            continue
        if s.kind == "column_presence":
            r = C.check_column_presence(df, list(s.required))
        elif s.kind == "not_null":
            r = C.check_not_null(df, s.column, partition_by)
        elif s.kind == "finite":
            r = C.check_finite(df, s.column, partition_by)
        elif s.kind == "bounds":
            r = C.check_value_bounds(
                df, s.column, partition_by, lower=s.lower, upper=s.upper
            )
        elif s.kind == "float_castable":
            r = C.check_float_castable(df, s.column, partition_by)
        elif s.kind == "ascending":
            r = C.check_ascending_by(df, s.column, s.order_col, partition_by)
        elif s.kind == "json_schema":
            r = C.check_json_schema(
                df, s.column, dict(s.json_keys), partition_by
            )
        elif s.kind == "freshness":
            r = C.check_freshness(
                df, s.column, s.max_lag_seconds,
                reference_ts=s.reference_ts, partition_by=partition_by,
            )
        elif s.kind == "pattern":
            from anomalydetector_spark.operators.patterns import (
                check_value_pattern,
            )

            r = check_value_pattern(
                df, s.column, list(s.allowed), partition_by,
                collapsed=s.collapsed,
            )
        elif s.kind == "benford":
            from anomalydetector_spark.operators.conformity import (
                check_benford,
            )

            r = check_benford(
                df, s.column, partition_by, max_mad=s.max_mad
            )
        elif s.kind == "robust_outliers":
            r = C.check_robust_outliers(
                df, s.column, partition_by,
                k=s.k, max_outlier_frac=s.max_outlier_frac,
            )
        else:
            raise ValueError(f"unknown check kind: {s.kind!r}")
        verdicts.append(r.verdicts)
        if r.violations is not None:
            violations.append(r.violations)

    return SuiteResult(_union(verdicts), _union(violations), cached)


def specs_from_json(
    spec_list, spark=None, base_dir: str | None = None
) -> list[CheckSpec]:
    """Translate a JSON list of check objects into :class:`CheckSpec`s,
    validating every kind and field LOUDLY (the reviewed-file CI
    workflow, for ANY table — the generic-table twin of the pages
    suite's ValidationConfig spec). ``referential`` checks declare
    ``dim_path`` (parquet path, resolved against ``base_dir``) +
    ``dim_column``; ``spark`` is required iff one is present."""
    import dataclasses as _dc
    import os as _os

    if not isinstance(spec_list, list):
        raise ValueError("check suite must be a JSON array of objects")
    allowed_fields = {f.name for f in _dc.fields(CheckSpec)} - {"dim"}
    allowed_fields |= {"dim_path"}
    out = []
    for i, obj in enumerate(spec_list):
        if not isinstance(obj, dict) or "kind" not in obj:
            raise ValueError(f"checks[{i}] must be an object with a 'kind'")
        bad = sorted(set(obj) - allowed_fields)
        if bad:
            raise ValueError(
                f"checks[{i}] ({obj['kind']}): unknown field(s) {bad}; "
                f"valid: {sorted(allowed_fields)}"
            )
        kw = dict(obj)
        kind = kw.pop("kind")
        dim_path = kw.pop("dim_path", None)
        if "required" in kw:
            kw["required"] = tuple(kw["required"])
        if "allowed" in kw:
            kw["allowed"] = tuple(kw["allowed"])
        if "json_keys" in kw:
            kw["json_keys"] = tuple(
                (k, v) for k, v in dict(kw["json_keys"]).items()
            )
        dim = None
        if kind == "referential":
            if dim_path is None:
                raise ValueError(
                    f"checks[{i}]: referential needs 'dim_path'"
                )
            if spark is None:
                raise ValueError("spark session required for dim_path")
            p = (
                dim_path
                if _os.path.isabs(dim_path) or base_dir is None
                else _os.path.join(base_dir, dim_path)
            )
            dim = spark.read.parquet(p)
        try:
            out.append(CheckSpec(kind=kind, dim=dim, **kw))
        except TypeError as e:
            raise ValueError(f"checks[{i}] ({kind}): {e}") from None
    return out
