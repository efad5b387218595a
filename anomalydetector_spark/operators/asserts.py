"""User-defined constraint checks: row-level SQL predicates and
aggregate-metric assertions, declared as data.

The reference hard-codes its validation gauntlet (aml_component/
invoker.py:43-82 — a fixed list of Python checks). A validation engine's
users need the opposite: arbitrary table-specific constraints declared in
the suite file, the Great-Expectations / Deequ / dbt-test workflow. Two
shapes cover that space:

* :class:`RowAssert` — a boolean SQL expression evaluated per row
  (``"value >= 0 OR event_type = 'refund'"``). Semantics follow the SQL
  ``CHECK`` constraint: a row VIOLATES only when the predicate is FALSE;
  NULL (unknown) passes — assert non-nullness explicitly with
  ``IS NOT NULL`` where it matters. An optional
  ``max_violation_fraction`` turns the hard gate into a tolerance gate
  (pass while violations / rows <= fraction), the "mostly" knob.
* :class:`AggAssert` — a SQL aggregate expression computed once per
  partition (``metric = "avg(length(text))"``) plus a boolean predicate
  over the scalar ``metric`` (``"metric between 100 and 10000"``).
  An unknown (NULL) metric FAILS: a metric that cannot be computed —
  e.g. ``avg`` of an all-null column — is itself a red flag, unlike a
  row-level unknown which only concerns one row.

Scale contract (10^12 rows):

* ALL row asserts of a suite ride the engine's existing fused counts-cube
  scan as extra ``count_if`` counters (plans/suite.compile_checks) —
  adding a row assert never adds a scan, a shuffle, or cube rows.
* ALL agg asserts of a suite share ONE additional aggregation pass
  (Deequ's analyzer-batching model): one ``groupBy(partition_key)``
  computing every metric, map-side partial, output bounded by
  partitions × metrics.
* Violation rows for row asserts ride the engine's single shared
  violation-extraction scan as extra tag expressions.

ANSI note: Spark 4 runs ANSI-on here, so a predicate like
``cast(props as int) > 0`` THROWS on malformed rows instead of returning
NULL. Write defensive expressions with ``try_cast`` / ``try_divide`` —
the engine deliberately does not mask user-expression errors.

Standalone use (outside the engine): row asserts are specs of any
table's check suite (plans/suite.run_suite — one cube scan for the
verdicts, one tagged scan for the violation rows) and of the quarantine
split (operators/quarantine.tag_rows); agg asserts run in one scan via
:func:`check_agg_asserts`. A row assert's violation rows in
``run_suite`` carry ``(check_name, partition_key)`` only, no row
identity: ``tag_rows`` (or the engine's ``row_status``) is the
row-addressable view.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.operators.checks import CheckResult

ROW_ASSERT_FAILED = "row assert {!r} violated: {}"
AGG_ASSERT_FAILED = "agg assert {!r} violated: {}"
AGG_ASSERT_UNKNOWN = "agg assert {!r} violated: {} (metric is NULL)"


@dataclass(frozen=True)
class RowAssert:
    """A named per-row constraint. ``expr`` is any boolean Spark-SQL
    expression over the input columns; violation iff it is FALSE."""

    name: str
    expr: str
    max_violation_fraction: float = 0.0

    def __post_init__(self) -> None:
        if not self.name or not self.expr:
            raise ValueError("RowAssert needs a non-empty name and expr")
        if not 0.0 <= self.max_violation_fraction <= 1.0:
            raise ValueError(
                f"max_violation_fraction must be in [0, 1], got "
                f"{self.max_violation_fraction}"
            )

    @property
    def violation(self) -> str:
        """SQL true iff the predicate is FALSE (SQL CHECK semantics)."""
        return f"NOT coalesce(({self.expr}), true)"


@dataclass(frozen=True)
class AggAssert:
    """A named per-partition metric gate. ``metric`` is a SQL aggregate
    expression; ``expr`` is a boolean predicate over the scalar
    ``metric``. NULL metric or NULL predicate FAILS."""

    name: str
    metric: str
    expr: str

    def __post_init__(self) -> None:
        if not self.name or not self.metric or not self.expr:
            raise ValueError("AggAssert needs non-empty name, metric and expr")


def _check_names_unique(asserts) -> None:
    names = [a.name for a in asserts]
    dup = sorted({n for n in names if names.count(n) > 1})
    if dup:
        raise ValueError(f"duplicate assert name(s): {dup}")


def check_agg_asserts(
    df: DataFrame,
    asserts: tuple[AggAssert, ...] | list[AggAssert],
    partition_by: Column | str | None = None,
) -> CheckResult:
    """ALL agg asserts in one ``groupBy(partition_key)`` pass; the
    predicates run on the bounded metrics frame. ``metric_value`` rides
    the verdict frame (as a column, not formatted into the message, so
    downstream consumers keep full float precision)."""
    asserts = tuple(asserts)
    _check_names_unique(asserts)
    from anomalydetector_spark.operators.checks import _part

    keyed = _part(df, partition_by)
    metrics = keyed.groupBy("partition_key").agg(
        F.count(F.lit(1)).alias("rows_scanned"),
        *[
            F.expr(a.metric).cast("double").alias(f"_metric_{i}")
            for i, a in enumerate(asserts)
        ],
    )
    frames = []
    for i, a in enumerate(asserts):
        # project this assert's metric under the name the predicate uses
        per = metrics.select(
            "partition_key",
            "rows_scanned",
            F.col(f"_metric_{i}").alias("metric"),
        )
        m = F.col("metric")
        passed = F.coalesce(F.expr(a.expr), F.lit(False)) & m.isNotNull()
        frames.append(
            per.select(
                F.lit(f"agg_assert_{a.name}").alias("check_name"),
                "partition_key",
                passed.alias("passed"),
                F.when(
                    ~passed,
                    F.when(
                        m.isNull(), F.lit(AGG_ASSERT_UNKNOWN.format(a.name, a.expr))
                    ).otherwise(F.lit(AGG_ASSERT_FAILED.format(a.name, a.expr))),
                ).alias("error_message"),
                F.when(~passed, F.lit(1)).otherwise(F.lit(0)).alias(
                    "violation_count"
                ),
                "rows_scanned",
                m.alias("metric_value"),
            )
        )
    out = frames[0]
    for v in frames[1:]:
        out = out.unionByName(v)
    return CheckResult(out, None)
