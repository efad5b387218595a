"""Declarative check suites — the engine's user-facing "query language".

The reference hard-codes its validation gauntlet as sequential imperative
checks with whole-job raises (aml_component/invoker.py:43-82). Here a
suite is DATA: a list of :class:`CheckSpec`, compiled by
:func:`compile_checks` — the compiler ``engine.run_validation`` uses for
its own checks too — onto the minimal set of scans:

* every count-shaped and row-predicate spec (``min_rows``,
  ``not_null_ts``, ``not_null``, ``finite``, ``bounds``,
  ``float_castable``, ``pattern``, ``json_schema``,
  ``text_extraction``, ``freshness``, ``referential``, ``unique``), row
  assert and functional dependency is a counter: a ``count_if`` on ONE
  counts cube (``freshness``: a newest-timestamp ``max``), or for
  ``unique`` a duplicate-row count of a salted key profile. One
  per-partition rollup gathers the counters and one
  ``inline(array(struct))`` projection of it
  (:func:`fused.rollup_verdicts`) yields every verdict;
* every row-addressable spec tags the rows it rejects on ONE scan of the
  input (``filter(array(tags))`` + ``explode``): a suite reads its table
  once for its violation rows however many specs it holds. A row-local
  spec's tag (:func:`row_tag`) is also the quarantine split's
  (operators/quarantine.tag_rows);
* ``ascending``, ``benford`` and ``robust_outliers`` (window and
  per-partition-estimator programs) and the scan-free
  ``column_presence`` keep their own programs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.kernel.sr import MIN_POINTS
from anomalydetector_spark.operators import checks as C
from anomalydetector_spark.operators import errors as E
from anomalydetector_spark.operators.asserts import (
    ROW_ASSERT_FAILED,
    RowAssert,
)
from anomalydetector_spark.operators.checks import sql_string
from anomalydetector_spark.plans import fused

# each kind's check_name; ``{}`` is the spec's column
CHECK_NAMES = {
    "min_rows": "min_row_count",
    "not_null_ts": "not_null_{}",
    "not_null": "not_null_{}",
    "unique": "unique_{}",
    "referential": "ref_{}",
    "finite": "finite_{}",
    "bounds": "value_bounds_{}",
    "float_castable": "float_castable_{}",
    "pattern": "pattern_{}",
    "json_schema": "json_schema_{}",
    "freshness": "freshness_{}",
    "ascending": "ascending_{}",
    "benford": "benford_{}",
    "robust_outliers": "robust_outliers_{}",
    "column_presence": "column_presence",
    "text_extraction": "text_extraction",
}

# the kinds whose violation is a predicate of one row alone (with
# row asserts, the specs :func:`row_tag` tags)
ROW_KINDS = {
    "not_null_ts", "not_null", "finite", "bounds", "float_castable",
    "pattern", "json_schema", "text_extraction",
}

# the kinds that keep their own programs instead of compiling onto the
# shared cube and violation scan
OWN_PROGRAM_KINDS = {
    "ascending", "benford", "robust_outliers", "column_presence"
}

@dataclass(frozen=True)
class CheckSpec:
    """One declarative check. ``kind`` ∈ {min_rows, not_null_ts,
    not_null, unique, referential, finite, bounds, float_castable,
    ascending, column_presence, robust_outliers, freshness, benford, pattern,
    json_schema, text_extraction}."""

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

    def __post_init__(self) -> None:
        # a missing limit would compare against NULL: the check could
        # never fail
        if self.kind == "bounds" and (self.lower is None or self.upper is None):
            raise ValueError(
                f"bounds check on {self.column!r} needs both 'lower' and "
                "'upper'"
            )


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
    """Every non-null value's char-class signature
    (operators/patterns.signature_sql) is in ``allowed``; a violation row
    carries its ``signature``."""
    return CheckSpec(
        kind="pattern", column=column,
        allowed=tuple(allowed), collapsed=collapsed,
    )


def freshness(
    ts_col: str, max_lag_seconds: int, reference_ts: str | None = None
) -> CheckSpec:
    """Staleness gate (dbt source-freshness, Deequ ``Maximum(ts)``): per
    partition, the newest ``ts_col`` value must lag ``reference_ts`` by
    ≤ ``max_lag_seconds``. Pass an explicit reference (an ISO string)
    for retry-stable verdicts; ``None`` reads ``current_timestamp()``.
    The lag is exact integer microseconds floored to whole seconds; a
    newest value after the reference (clock skew) passes, and a
    partition without any non-null timestamp fails: an absent feed must
    not read as fresh. Verdict-only: staleness is not row-addressable."""
    return CheckSpec("freshness", column=ts_col,
                     max_lag_seconds=max_lag_seconds,
                     reference_ts=reference_ts)


def text_extraction(text_col: str = "text") -> CheckSpec:
    """North-rule byte identity: every non-null ``text_col`` value is
    byte-identical (UTF-8) to ``functions.extract_text`` of the row's
    ``html``; html that is not valid UTF-8 extracts to NULL, which a
    non-null text violates. Reads the ``html`` binary, so the pages
    engine runs it only under ``verify_text_extraction``."""
    return CheckSpec("text_extraction", column=text_col)


def json_schema(column: str, required: dict[str, str]) -> CheckSpec:
    """JSON payload validation: every non-null value of ``column`` must
    parse and carry each required key castable to its declared Spark
    type; a violation row carries its first failure as ``json_reason``
    (checks.json_schema_reason)."""
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


def check_name(spec) -> str:
    """The verdict ``check_name`` of a spec: a :class:`CheckSpec`, a
    :class:`~anomalydetector_spark.operators.asserts.RowAssert` or a
    ``(determinant, dependent)`` functional-dependency pair."""
    if isinstance(spec, RowAssert):
        return f"assert_{spec.name}"
    if isinstance(spec, tuple):
        det, dep = spec
        return f"fd_{C.fd_label(det)}_{C.fd_label(dep)}"
    if spec.kind not in CHECK_NAMES:
        raise ValueError(f"unknown check kind: {spec.kind!r}")
    return CHECK_NAMES[spec.kind].format(spec.column)


def reject_repeats(specs) -> None:
    """Raise ``ValueError`` naming every check that occurs twice: two
    specs of one name would emit its verdicts and violation rows twice."""
    names = [check_name(s) for s in specs]
    repeated = sorted({n for n in names if names.count(n) > 1})
    if repeated:
        raise ValueError(
            f"duplicate check(s) {repeated}: each check may appear once in "
            "a suite (a repeat would emit its verdicts and violation rows "
            "twice)"
        )


def _own_program(spec) -> bool:
    return isinstance(spec, CheckSpec) and spec.kind in OWN_PROGRAM_KINDS


def _row_local(spec) -> bool:
    return isinstance(spec, RowAssert) or (
        isinstance(spec, CheckSpec) and spec.kind in ROW_KINDS
    )


@dataclass
class CompiledChecks:
    """What :func:`compile_checks` builds, all lazily."""

    verdicts: DataFrame  # every check's verdict rows: one rollup projection
    tagged: DataFrame  # the keyed input plus every probe column
    tags: list[Column]  # `CASE WHEN <violated> THEN <check_name> END` each
    # violation column -> (check_name, SQL of its value), one per check
    # that owns the column
    owned: dict[str, list[tuple[str, str]]]
    cube: DataFrame
    profiles: dict[str, DataFrame]  # key column -> its key profile
    # persisted frames: the cube, then the key profiles and the
    # functional dependencies' violating keys in spec order
    cached: list[DataFrame]

    def hits(self) -> Column:
        """The names of the checks a tagged row violates, as an array."""
        return F.filter(F.array(*self.tags), lambda t: t.isNotNull())

    def violation_rows(self) -> DataFrame | None:
        """One row per (input row, violated check): ``check_name``,
        ``partition_key`` and the violation columns, each set only on the
        rows of the checks that own it (NULL on the others)."""
        if not self.tags:
            return None
        cols = [
            "CASE "
            + " ".join(
                f"WHEN check_name = {sql_string(n)} THEN {e}"
                for n, e in owners
            )
            + f" END AS `{col}`"
            for col, owners in self.owned.items()
        ]
        return self.tagged.select(
            F.explode(self.hits()).alias("check_name"), "*"
        ).selectExpr("check_name", "partition_key", *cols)


_INF = "CAST('Infinity' AS DOUBLE)"


def _double(v: float) -> str:
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _row_predicate(
    s: CheckSpec | RowAssert, df: DataFrame, counter: str
) -> tuple[str, str, str, tuple[tuple[str, str], ...]]:
    """``(violated, failed, message, owned)`` of a row-local spec (a
    :data:`ROW_KINDS` spec or a row assert): the SQL of a row's
    violation, the verdict's failure condition and message as SQL (over
    the spec's rollup column ``counter``) and its violation columns as
    ``(name, SQL)``. A value that does not parse as a double is
    ``float_castable``'s violation only, and a non-finite one
    ``finite``'s only: each check owns one violation class."""
    failed = f"{counter} > 0"
    if isinstance(s, RowAssert):
        frac = float(s.max_violation_fraction)
        return (
            s.violation,
            f"{counter} > rows_scanned * CAST({frac!r} AS DOUBLE)",
            sql_string(ROW_ASSERT_FAILED.format(s.name, s.expr)),
            (),
        )
    c = f"`{s.column}`"
    x = f"try_cast(CAST({c} AS STRING) AS DOUBLE)"
    own = ((s.column, c),)
    if s.kind == "not_null_ts":
        bad = fused.null_ts_sql(df, s.column)
        return bad, failed, sql_string(E.INVALID_TIMESTAMPS), ()
    if s.kind == "not_null":
        return f"{c} IS NULL", failed, sql_string(E.INVALID_TIMESTAMPS), ()
    if s.kind == "float_castable":
        message = E.INVALID_VALUE_FORMAT.format(s.column)
        bad = f"{c} IS NOT NULL AND {x} IS NULL"
        return bad, failed, sql_string(message), own
    if s.kind == "finite":
        message = E.INVALID_SERIES_VALUE.format(s.column)
        bad = f"{x} IS NOT NULL AND (isnan({x}) OR abs({x}) = {_INF})"
        return bad, failed, sql_string(message), own
    if s.kind == "bounds":
        message = E.VALUE_OVERFLOW.format(s.column)
        bad = (
            f"{x} IS NOT NULL AND NOT isnan({x}) AND abs({x}) != {_INF} AND "
            f"({x} < {_double(s.lower)} OR {x} > {_double(s.upper)})"
        )
        return bad, failed, sql_string(message), own
    if s.kind == "text_extraction":
        from anomalydetector_spark.functions import extract_text

        # malformed-UTF-8 html extracts to NULL: with a non-null text
        # that is a violation, not a skip. Bytes are compared, not
        # strings, so a lossy decode cannot mask a mismatch.
        ex = extract_text("`html`")
        bad = (
            f"{c} IS NOT NULL AND ({ex} IS NULL OR "
            f"encode({ex}, 'UTF-8') != encode({c}, 'UTF-8'))"
        )
        message = E.TEXT_EXTRACTION_MISMATCH.format(s.column, "html")
        return bad, failed, sql_string(message), own
    if s.kind == "pattern":
        from anomalydetector_spark.operators.patterns import signature_sql

        if not s.allowed:
            raise ValueError("allowed signature set must not be empty")
        sig = signature_sql(s.column, s.collapsed)
        allowed = ", ".join(sql_string(a) for a in s.allowed)
        fmt = (
            "%d value(s) of %s match none of the "
            f"{len(s.allowed)} allowed signature(s)"
        )
        message = (
            f"format_string({sql_string(fmt)}, {counter}, "
            f"{sql_string(s.column)})"
        )
        bad = f"{c} IS NOT NULL AND NOT ({sig} IN ({allowed}))"
        return bad, failed, message, (*own, ("signature", sig))
    if s.kind == "json_schema":
        reason = C.json_schema_reason(s.column, dict(s.json_keys))
        message = E.JSON_SCHEMA_VIOLATION.format(s.column)
        owns = (("json_reason", reason),)
        return f"{reason} IS NOT NULL", failed, sql_string(message), owns
    raise ValueError(f"unknown check kind: {s.kind!r}")


def _tag(name: str, bad: str) -> Column:
    return F.expr(f"CASE WHEN {bad} THEN {sql_string(name)} END")


def row_tag(spec, df: DataFrame) -> Column:
    """``CASE WHEN <violated> THEN <check_name> END`` of a row-local spec
    (a :data:`ROW_KINDS` spec or a row assert) over ``df``: the tag
    :func:`compile_checks` puts on the violation scan. A spec that needs
    an aggregate or a join (``unique``, ``referential``, a functional
    dependency, ``freshness``, ``min_rows``, ...) raises ``ValueError``."""
    name = check_name(spec)
    if not _row_local(spec):
        raise ValueError(
            f"{name} needs an aggregate or a join: only row-local checks "
            "tag a row by itself"
        )
    return _tag(name, _row_predicate(spec, df, "_v")[0])


def _freshness_check(s: CheckSpec, newest: str) -> tuple[str, str, str, str]:
    """The :func:`fused.rollup_verdicts` check of a freshness spec over
    the rollup column ``newest``: the partition's newest timestamp in
    epoch microseconds (``unix_micros`` through TIMESTAMP: it rejects
    TIMESTAMP_NTZ, and with the session pinned to UTC the cast is a
    reinterpretation). Lag arithmetic is exact integer microseconds."""
    ref = (
        "current_timestamp()"
        if s.reference_ts is None
        else f"CAST({sql_string(s.reference_ts)} AS TIMESTAMP)"
    )
    lag = (
        f"CAST(floor((unix_micros(CAST({ref} AS TIMESTAMP)) - {newest}) "
        "/ 1000000.0D) AS BIGINT)"
    )
    max_lag = int(s.max_lag_seconds)
    fresh = f"{newest} IS NOT NULL AND {lag} <= {max_lag}"
    stale = (
        E.STALE_PARTITION.replace("{0}", s.column)
        .replace("{1}", "%d")
        .replace("{2}", str(max_lag))
    )
    message = (
        f"CASE WHEN {newest} IS NULL "
        f"THEN {sql_string(E.NO_TIMESTAMPS.format(s.column))} "
        f"ELSE format_string({sql_string(stale)}, {lag}) END"
    )
    return (
        check_name(s),
        f"NOT ({fresh})",
        message,
        f"CASE WHEN {fresh} THEN 0 ELSE 1 END",
    )


def compile_checks(
    keyed: DataFrame,
    specs: list,
    partitioned: bool,
    groups: tuple[str, ...] = (),
    window_ts: str | None = None,
    persist: bool = True,
) -> CompiledChecks:
    r"""Compile ``specs`` onto one counts cube, one key profile per
    ``unique`` spec, one rollup and one tagged violation scan of the
    keyed input (:func:`fused.keyed_input`).

    ``specs`` holds :class:`CheckSpec`\ s of the compiled kinds (not
    :data:`OWN_PROGRAM_KINDS`), row asserts
    (:class:`~anomalydetector_spark.operators.asserts.RowAssert`: a
    ``count_if`` counter and a tag, failing beyond its tolerated
    fraction) and ``(determinant, dependent)`` functional-dependency
    pairs (one hash aggregate each, its violating keys persisted, counted
    in the rollup and broadcast back onto the violation scan). Probe
    columns and tags come in spec order. ``groups`` are the cube's extra
    group columns (the pages engine's :data:`fused.PAGES_GROUPS`);
    ``window_ts`` names the column the input's windows were keyed on,
    whose ``not_null_ts`` count the cube's NULL windows already hold.
    The first referential spec's flag is the cube's ``_ok`` group column
    (counted as the rollup's ``dangling``); later ones count their own.
    """
    reject_repeats(specs)
    salt_on = next(
        (s.column for s in specs
         if isinstance(s, CheckSpec) and s.kind == "unique"),
        None,
    )
    used: set[str] = set()

    def slot(base: str, i: int) -> str:
        """``base`` for the first spec that asks, ``base<i>`` after."""
        name = base if base not in used else f"{base}{i}"
        used.add(name)
        return name

    flagged, ok, tagged = keyed, "true", keyed
    aggs: list[Column] = []
    rollups: list[DataFrame] = []
    checks: list[tuple[str, str, str, str]] = []
    tags: list[Column] = []
    owned: dict[str, list[tuple[str, str]]] = {}
    profiles: dict[str, DataFrame] = {}
    cached: list[DataFrame] = []
    for i, s in enumerate(specs):
        name, counter = check_name(s), f"_v{i}"
        bad, owns = None, ()
        if isinstance(s, tuple):
            det, dep = s
            det_cols = C.fd_cols(det)
            keys = [f"_fd_k_{i}_{j}" for j in range(len(det_cols))]
            bad_keys = C.check_functional_dependency(
                keyed, det, dep, partition_by=F.col("partition_key")
            ).violations.select(
                "partition_key",
                *[F.col(c).alias(k) for c, k in zip(det_cols, keys)],
            )
            if persist:
                bad_keys = bad_keys.persist()
                cached.append(bad_keys)
            rollups.append(
                bad_keys.selectExpr("partition_key", f"1 AS {counter}")
            )
            # the join is per (partition_key, determinant tuple): a key may
            # violate in one partition and not another (a NULL
            # partition_key is a partition too, hence the null-safe match)
            bad = f"_fd_hit_{i}"
            cond = F.col("partition_key").eqNullSafe(F.col(f"_fd_pk_{i}"))
            for c, k in zip(det_cols, keys):
                cond = cond & (F.col(c) == F.col(k))
            probe = bad_keys.select(
                F.col("partition_key").alias(f"_fd_pk_{i}"),
                *keys,
                F.lit(True).alias(bad),
            )
            tagged = tagged.join(F.broadcast(probe), cond, "left").drop(
                f"_fd_pk_{i}", *keys
            )
            owns = tuple((c, f"`{c}`") for c in det_cols)
            message = E.FD_VIOLATION.format(C.fd_label(det), C.fd_label(dep))
            checks.append(fused.count_check(name, counter, message))
        elif _row_local(s):
            if (
                isinstance(s, CheckSpec)
                and s.kind == "not_null_ts"
                and s.column == window_ts
            ):
                counter = "null_ts"
            bad, failed, message, owns = _row_predicate(s, keyed, counter)
            if counter != "null_ts":
                aggs.append(F.expr(f"count_if({bad}) AS {counter}"))
            checks.append((name, failed, message, counter))
        elif s.kind == "min_rows":
            checks.append(fused.min_rows_check(s.min_points))
        elif s.kind == "freshness":
            counter = f"_max_v{i}"
            ts = fused.timestamp_sql(keyed, s.column)
            aggs.append(F.expr(f"max(unix_micros({ts})) AS {counter}"))
            checks.append(_freshness_check(s, counter))
        elif s.kind == "unique":
            profile = fused.url_profile(keyed, s.column)
            if persist:
                profile = profile.persist()
                cached.append(profile)
            profiles[s.column] = profile
            counter = slot("_dup_rows", i)
            rollups.append(fused.dup_counts(profile, counter))
            dup = slot("_is_dup", i)
            tagged = tagged.withColumn(
                dup, fused.is_dup_key(s.column, profile)
            )
            bad = f"`{dup}`"
            owns = ((s.column, f"`{s.column}`"),)
            message = E.DUPLICATE_KEY.format(s.column)
            checks.append(fused.count_check(name, counter, message))
        elif s.kind == "referential":
            known = slot("_known", i)

            def flag(frame: DataFrame) -> tuple[DataFrame, str]:
                return fused.ref_flag(
                    frame, s.dim, s.column, s.dim_column, strategy=s.strategy,
                    salts=s.salts, salt_on=salt_on, known=known,
                )

            flagged, ref_ok = flag(flagged)
            tagged, _ = flag(tagged)
            if ok == "true":
                ok, counter = ref_ok, "dangling"
            else:
                aggs.append(F.expr(f"count_if(NOT ({ref_ok})) AS {counter}"))
            bad = f"NOT ({ref_ok})"
            owns = ((s.column, f"`{s.column}`"),)
            message = E.DANGLING_REFERENCE.format(s.column, s.dim_column)
            checks.append(fused.count_check(name, counter, message))
        else:
            raise ValueError(f"{name} runs its own program, not a compiled one")
        if bad is not None:
            tags.append(_tag(name, bad))
        for col, sql in owns:
            owned.setdefault(col, []).append((name, sql))

    cube = fused.counts_cube(flagged, ok, groups, aggs)
    if persist:
        cube = cube.persist()
        cached.insert(0, cube)
    roll = fused.partition_rollup(cube, rollups, partitioned=partitioned)
    return CompiledChecks(
        verdicts=fused.rollup_verdicts(roll, checks),
        tagged=tagged,
        tags=tags,
        owned=owned,
        cube=cube,
        profiles=profiles,
        cached=cached,
    )


def _union(frames: list[DataFrame | None]) -> DataFrame | None:
    frames = [f for f in frames if f is not None]
    if not frames:
        return None
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def run_suite(
    df: DataFrame,
    specs: list,
    partition_by: str | None = None,
    persist_scans: bool = True,
) -> SuiteResult:
    r"""Compile and lazily build the suite's verdict + violation frames.

    ``specs`` holds :class:`CheckSpec`\ s, row asserts and
    ``(determinant, dependent)`` functional-dependency pairs. Every spec
    but the :data:`OWN_PROGRAM_KINDS` compiles through
    :func:`compile_checks` onto one cube and one rollup (plus one key
    profile per ``unique`` spec), and all their violation rows come from
    one tagged scan of ``df``; the other kinds run their own programs,
    unioned after. ``persist_scans`` caches the cube and the profiles
    (worth it when the verdicts and the violations are both read; the
    violation scan then reads the cached profiles, not the input again).
    Violation rows of row asserts, ``not_null`` and ``not_null_ts`` own
    no column, so they carry no row identity; ``quarantine.tag_rows``
    is the row-addressable view of those checks. A repeated check
    raises ``ValueError``.
    """
    reject_repeats(specs)
    verdicts: list[DataFrame] = []
    violations: list[DataFrame | None] = []
    cached: list[DataFrame] = []
    shared = [s for s in specs if not _own_program(s)]
    if shared:
        c = compile_checks(
            fused.keyed_input(df, None, partition_by),
            shared,
            partitioned=partition_by is not None,
            persist=persist_scans,
        )
        verdicts.append(c.verdicts)
        violations.append(c.violation_rows())
        cached = c.cached
    for s in filter(_own_program, specs):
        if s.kind == "column_presence":
            r = C.check_column_presence(df, list(s.required))
        elif s.kind == "ascending":
            r = C.check_ascending_by(df, s.column, s.order_col, partition_by)
        elif s.kind == "benford":
            from anomalydetector_spark.operators.conformity import (
                check_benford,
            )

            r = check_benford(df, s.column, partition_by, max_mad=s.max_mad)
        else:
            r = C.check_robust_outliers(
                df, s.column, partition_by,
                k=s.k, max_outlier_frac=s.max_outlier_frac,
            )
        verdicts.append(r.verdicts)
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
        except (TypeError, ValueError) as e:
            raise ValueError(f"checks[{i}] ({kind}): {e}") from None
    reject_repeats(out)
    return out
