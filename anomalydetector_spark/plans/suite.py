"""Declarative check suites — the engine's user-facing "query language".

The reference hard-codes its validation gauntlet as sequential imperative
checks with whole-job raises (aml_component/invoker.py:43-82). Here a
suite is DATA: a list of :class:`CheckSpec`, compiled onto the minimal
set of scans:

* count-shaped specs (``min_rows``, ``not_null_ts``, ``referential``,
  ``unique``) compile through the same planner as
  ``engine.run_validation`` (plans/fused.py): each spec's counter rides
  one counts cube (every dimension flag on one keyed frame) or, for
  ``unique``, a salted key profile; one per-partition rollup gathers
  them, and one ``inline(array(struct))`` projection of it
  (:func:`fused.rollup_verdicts`) yields every one of their verdicts;
* value-shaped specs (``finite``, ``bounds``, ``float_castable``,
  ``ascending``, …) compile to the single-aggregation programs in
  operators/checks.py — one scan each, still never a collect.
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

# the kinds compiled onto the shared cube, key profiles and rollup
ROLLUP_KINDS = {"min_rows", "not_null_ts", "referential", "unique"}


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
    persist_scans: bool = True,
) -> SuiteResult:
    """Compile and lazily build the suite's verdict + violation frames.

    The count-shaped specs share one cube and one rollup however many of
    them the suite holds, plus one key profile per ``unique`` spec;
    value-shaped specs fall back to per-check single-aggregation
    programs. ``persist_scans`` caches the cube and the profiles (worth
    it when the verdicts and the violations are both read).
    """
    verdicts: list[DataFrame] = []
    violations: list[DataFrame] = []
    cached: list[DataFrame] = []

    rolled = [s for s in specs if s.kind in ROLLUP_KINDS]
    if rolled:
        checks, rows, cached = _compile_rollup(
            df, rolled, partition_by, persist_scans
        )
        verdicts.append(checks)
        violations += rows

    # value-shaped / metadata specs — per-check programs
    for s in specs:
        if s.kind in ROLLUP_KINDS:
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


def _compile_rollup(
    df: DataFrame,
    specs: list[CheckSpec],
    partition_by: str | None,
    persist_scans: bool,
) -> tuple[DataFrame, list[DataFrame], list[DataFrame]]:
    """``(verdicts, violation frames, cached frames)`` of the count-shaped
    specs. Each spec gets its own counter: ``_v<i>``, a cube aggregate
    for ``not_null_ts`` and ``referential`` (one dimension flag per
    referential spec on the one flagged frame), a profile contribution
    for ``unique``; ``min_rows`` reads ``rows_scanned``. A table has no
    stat series here, so the keyed frame has no windows."""
    keyed = fused.keyed_input(df, None, partition_by)
    # the salted referential rung salts on a unique key when the suite
    # has one (deterministic under task retry)
    salt_on = next((s.column for s in specs if s.kind == "unique"), None)
    flagged = keyed
    aggs: list[Column] = []
    contributions: list[DataFrame] = []
    checks: list[tuple[str, str, str, str]] = []
    violations: list[DataFrame] = []
    cached: list[DataFrame] = []
    # cube-counted specs first: the unioned violation frame's columns come
    # in order of first appearance
    for i, s in enumerate(sorted(specs, key=lambda s: s.kind == "unique")):
        counter = f"_v{i}"
        if s.kind == "min_rows":
            checks.append(fused.min_rows_check(s.min_points))
            continue
        if s.kind == "not_null_ts":
            name, message = f"not_null_{s.column}", E.INVALID_TIMESTAMPS
            bad = f"{fused.epoch_seconds_sql(df, s.column)} IS NULL"
            aggs.append(F.expr(f"count_if({bad}) AS {counter}"))
            violations.append(
                keyed.filter(bad).selectExpr(
                    f"{C.sql_string(name)} AS check_name", "partition_key"
                )
            )
        elif s.kind == "referential":
            name = f"ref_{s.column}"
            message = E.DANGLING_REFERENCE.format(s.column, s.dim_column)
            flagged, ok = fused.ref_flag(
                flagged,
                s.dim,
                s.column,
                s.dim_column,
                strategy=s.strategy,
                salts=s.salts,
                salt_on=salt_on,
                known=f"_known{i}",
            )
            aggs.append(F.expr(f"count_if(NOT ({ok})) AS {counter}"))
            violations.append(
                flagged.filter(f"NOT ({ok})").selectExpr(
                    f"{C.sql_string(name)} AS check_name",
                    "partition_key",
                    f"`{s.column}`",
                )
            )
        else:  # unique
            name = f"unique_{s.column}"
            message = E.DUPLICATE_KEY.format(s.column)
            profile = fused.url_profile(keyed, s.column)
            if persist_scans:
                profile = profile.persist()
                cached.append(profile)
            contributions.append(fused.dup_counts(profile, counter))
            violations.append(
                keyed.filter(fused.is_dup_key(s.column, profile)).selectExpr(
                    f"{C.sql_string(name)} AS check_name",
                    "partition_key",
                    f"`{s.column}`",
                )
            )
        checks.append(fused.count_check(name, counter, message))

    cube = fused.counts_cube(flagged, aggs=aggs)
    if persist_scans:
        cube = cube.persist()
        cached.append(cube)
    roll = fused.partition_rollup(
        cube, contributions, partitioned=partition_by is not None
    )
    return fused.rollup_verdicts(roll, checks), violations, cached


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
