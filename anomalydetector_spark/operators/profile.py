"""Whole-table column profiling in one scan, and constraint suggestion.

The Deequ/Great-Expectations workflow the suite spec (plans/spec.py)
assumes starts with a PROFILE: per-column completeness, cardinality and
moments, computed cheaply, from which a human (or
:func:`suggest_row_asserts`) derives the constraints to enforce. The
reference has no analog (its checks are hard-coded per pipeline); this
is engine-level capability.

Scale contract (10^12 rows):

* :func:`profile_columns` is ONE aggregation pass regardless of column
  count — every metric is an aggregate expression in a single
  ``groupBy(partition_key)``; output is bounded by
  partitions × columns × metrics. Distinct counts default to
  ``approx_count_distinct`` (HLL, rides the same pass). ``exact=True``
  switches to ``count(distinct)`` — Spark rewrites N exact distincts
  into an Expand (N× row multiplication before partial aggregation), so
  exact mode is for tests/oracles and small tables, not the 100-TB path.
* :func:`numeric_correlations` is likewise one pass computing all
  p·(p-1)/2 Pearson coefficients as ``corr`` aggregates.
* ``binary`` columns are profiled by length only — never stringified
  (binary→string casts are lossy on invalid UTF-8).

Output is long format ``(partition_key, column, metric, value:double)``
— joinable with prior profiles to diff, and feedable to drift scoring
like any stat series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anomalydetector_spark.operators.asserts import RowAssert

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _metric_exprs(
    name: str, dtype: T.DataType, exact: bool
) -> list[tuple[str, Column]]:
    """(metric_name, aggregate expression) pairs for one column. Every
    value is cast to double so the long format has one value column."""
    col = F.col(name)
    out: list[tuple[str, Column]] = [
        ("null_count", F.sum(col.isNull().cast("long"))),
    ]
    distinct = (
        F.count_distinct(col) if exact else F.approx_count_distinct(col)
    )
    out.append(("distinct_count", distinct))
    if isinstance(dtype, _NUMERIC):
        out += [
            ("min", F.min(col)),
            ("max", F.max(col)),
            ("mean", F.avg(col)),
            ("stddev", F.stddev_samp(col)),
        ]
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        # min/max as epoch seconds (doubles) — freshness checks read these
        ep = col.cast("timestamp").cast("double")
        out += [("min_epoch", F.min(ep)), ("max_epoch", F.max(ep))]
    elif isinstance(dtype, T.StringType):
        ln = F.length(col)
        out += [
            ("min_length", F.min(ln)),
            ("max_length", F.max(ln)),
            ("avg_length", F.avg(ln)),
            ("empty_count", F.sum((ln == 0).cast("long"))),
        ]
    elif isinstance(dtype, T.BinaryType):
        ln = F.length(col)
        out += [("min_length", F.min(ln)), ("max_length", F.max(ln))]
    elif isinstance(dtype, T.BooleanType):
        out += [("true_count", F.sum(col.cast("long")))]
    # complex types (array/map/struct): null/distinct only
    return [(m, e.cast("double").alias(f"{name}\x1f{m}")) for m, e in out]


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    partition_by: Column | str | None = None,
    exact: bool = False,
) -> DataFrame:
    """Long-format per-column profile, one aggregation scan.

    Emits ``row_count`` once per partition (column ``'*'``) plus
    per-column metrics chosen by type (see :func:`_metric_exprs`).
    ``completeness`` (1 - null fraction, the Deequ headline metric) is
    derived post-agg from null_count/row_count — no extra pass."""
    from anomalydetector_spark.operators.checks import _part

    cols = columns or df.columns
    missing = sorted(set(cols) - set(df.columns))
    if missing:
        raise ValueError(f"profile_columns: no such column(s) {missing}")
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    keyed = _part(df, partition_by)
    aggs: list[Column] = [F.count(F.lit(1)).cast("double").alias("\x1frows")]
    pairs: list[tuple[str, str]] = []  # (column, metric) in agg order
    for c in cols:
        for m, e in _metric_exprs(c, dtypes[c], exact):
            pairs.append((c, m))
            aggs.append(e)
    wide = keyed.groupBy("partition_key").agg(*aggs)

    # melt via stack: (column, metric, value) — ONE pure projection over
    # the single aggregate, with the derived completeness metric folded
    # into the same stack (a union branch would re-run the aggregation:
    # Spark does not share common subplans across union arms)
    stack_args: list[Column] = [
        F.lit("*"), F.lit("row_count"), F.col("`\x1frows`")
    ]
    for c, m in pairs:
        stack_args += [F.lit(c), F.lit(m), F.col(f"`{c}\x1f{m}`")]
    for c in cols:
        stack_args += [
            F.lit(c),
            F.lit("completeness"),
            F.lit(1.0) - F.col(f"`{c}\x1fnull_count`") / F.col("`\x1frows`"),
        ]
    n = 1 + len(pairs) + len(cols)
    return wide.select(
        "partition_key",
        F.stack(F.lit(n), *stack_args).alias("column", "metric", "value"),
    )


def numeric_correlations(
    df: DataFrame,
    columns: list[str] | None = None,
    partition_by: Column | str | None = None,
) -> DataFrame:
    """All pairwise Pearson correlations between numeric columns in one
    aggregation pass: ``(partition_key, col_a, col_b, corr)`` with
    col_a < col_b."""
    from anomalydetector_spark.operators.checks import _part

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    cols = [
        c
        for c in (columns or df.columns)
        if isinstance(dtypes.get(c), _NUMERIC)
    ]
    if columns is not None:
        bad = sorted(set(columns) - set(cols))
        if bad:
            raise ValueError(f"not numeric (or missing): {bad}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    if not pairs:
        raise ValueError("need at least two numeric columns")
    keyed = _part(df, partition_by)
    wide = keyed.groupBy("partition_key").agg(
        *[
            F.corr(F.col(a).cast("double"), F.col(b).cast("double")).alias(
                f"{a}\x1f{b}"
            )
            for a, b in pairs
        ]
    )
    stack_args: list[Column] = []
    for a, b in pairs:
        stack_args += [F.lit(a), F.lit(b), F.col(f"`{a}\x1f{b}`")]
    return wide.select(
        "partition_key",
        F.stack(F.lit(len(pairs)), *stack_args).alias("col_a", "col_b", "corr"),
    )


def spearman_correlations(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    partition_by: Column | str | None = None,
) -> DataFrame:
    """EXACT Spearman rank correlation per column pair: ``(partition_key,
    col_a, col_b, spearman, n)`` — the monotone-dependence twin of
    :func:`numeric_correlations` (Pearson sees only LINEAR dependence;
    a clean y = x³ or exp(x) relation scores Spearman 1.0 while Pearson
    drifts with the value distribution).

    Determinism contract: each pair filters to its pairwise-complete
    rows (both non-null, non-NaN — the standard pairwise-deletion
    convention), average ranks are carried in HALF-RANK integer units
    (``2·rank_min + cnt − 1``, always an integer — no .5 float exists
    anywhere), all five sums (Σa, Σb, Σa², Σb², Σab) run over exact
    decimal(38,0), and Spearman is ONE final pinned double chain
    ``(n·Σab − Σa·Σb) / (√(n·Σa²−(Σa)²) · √(n·Σb²−(Σb)²))`` — the two
    variance factors square-root SEPARATELY so no intermediate integer
    product can overflow 38 digits. Partitioning-independent and
    SQL-reproducible. A constant column (zero rank variance) yields
    NULL.

    Scale shape (NO row-level rank window — the naive formulation sorts
    every row into one partition per rank, a 10^12-row killer): the
    half-rank is a pure function of the VALUE (``2·(# smaller) + cnt +
    1``), so ranks come from the value-counts CUBE — per pair one
    ``groupBy(value_a, value_b)`` pair cube (map-side combined; the only
    row-touching shuffle), marginal counts by a further groupBy OF the
    cube, a cumulative window over the cardinality-sized marginal
    support, and two equi-joins of the pair cube against the two rank
    tables. Σa/Σa² come straight off the marginals (``Σ cnt·rank``),
    Σab off the joined pair cube (``Σ cnt·ra·rb``) — identical integers
    to the per-row formulation at any partitioning. The support window
    is cardinality-sized: for unbounded-cardinality doubles quantize
    first (the KS/entropy family's documented caveat).
    """
    from pyspark.sql import Window as W

    from anomalydetector_spark.operators.checks import _part

    outs = []
    for col_a, col_b in pairs:
        keyed = _part(df, partition_by).select(
            "partition_key",
            F.col(col_a).cast("double").alias("_a"),
            F.col(col_b).cast("double").alias("_b"),
        )
        ok = keyed.filter(
            F.col("_a").isNotNull()
            & F.col("_b").isNotNull()
            & ~F.isnan("_a")
            & ~F.isnan("_b")
        )
        dec = "decimal(38,0)"
        pair_cube = ok.groupBy("partition_key", "_a", "_b").agg(
            F.count(F.lit(1)).cast(dec).alias("_c")
        )

        def _rank_table(cube: DataFrame, vcol: str) -> DataFrame:
            marg = cube.groupBy("partition_key", vcol).agg(
                F.sum("_c").alias("_cnt")
            )
            wo = (
                W.partitionBy("partition_key")
                .orderBy(vcol)
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            return marg.withColumn(
                "_rank2",
                (
                    2 * (F.sum("_cnt").over(wo) - F.col("_cnt"))
                    + F.col("_cnt")
                    + 1
                ).cast(dec),
            )

        ra = _rank_table(pair_cube, "_a").select(
            "partition_key",
            "_a",
            F.col("_cnt").alias("_ca"),
            F.col("_rank2").alias("_ra"),
        )
        rb = _rank_table(pair_cube, "_b").select(
            "partition_key",
            "_b",
            F.col("_rank2").alias("_rb"),
        )
        joined = pair_cube.join(ra, ["partition_key", "_a"]).join(
            rb, ["partition_key", "_b"]
        )
        agg = joined.groupBy("partition_key").agg(
            F.sum("_c").cast(dec).alias("_n"),
            F.sum(F.col("_c") * F.col("_ra")).alias("_sa"),
            F.sum(F.col("_c") * F.col("_rb")).alias("_sb"),
            F.sum(
                F.col("_c") * F.col("_ra") * F.col("_ra")
            ).alias("_sa2"),
            F.sum(
                F.col("_c") * F.col("_rb") * F.col("_rb")
            ).alias("_sb2"),
            F.sum(
                F.col("_c") * F.col("_ra") * F.col("_rb")
            ).alias("_sab"),
        )
        da = agg["_n"] * agg["_sa2"] - agg["_sa"] * agg["_sa"]
        db = agg["_n"] * agg["_sb2"] - agg["_sb"] * agg["_sb"]
        num = agg["_n"] * agg["_sab"] - agg["_sa"] * agg["_sb"]
        outs.append(
            agg.select(
                "partition_key",
                F.lit(col_a).alias("col_a"),
                F.lit(col_b).alias("col_b"),
                F.when(
                    (da > 0) & (db > 0),
                    num.cast("double")
                    / (
                        F.sqrt(da.cast("double"))
                        * F.sqrt(db.cast("double"))
                    ),
                ).alias("spearman"),
                F.col("_n").cast("long").alias("n"),
            )
        )
    from functools import reduce

    return reduce(DataFrame.unionByName, outs)


def profile_diff(
    old: DataFrame,
    new: DataFrame,
    rel_tolerance: float = 0.10,
) -> DataFrame:
    """Statistics drift between two profiles of the same table (e.g. two
    snapshots): full-outer join on ``(partition_key, column, metric)``
    over the two BOUNDED profile frames.

    Emits ``(partition_key, column, metric, old_value, new_value,
    abs_delta, rel_delta, status)`` where status is ``added`` /
    ``removed`` (metric exists on one side only — a schema or type
    change seen from the profile), ``changed`` (relative move beyond
    ``rel_tolerance``; when old is 0 any nonzero new is ``changed``), or
    ``unchanged``. ``rel_delta`` is NULL when old is 0 or either side is
    NULL-valued. Both inputs are partitions × columns × metrics rows, so
    the join is trivially small at any input scale."""
    keys = ["partition_key", "column", "metric"]
    o = old.select(*keys, F.col("value").alias("old_value")).withColumn(
        "_in_old", F.lit(True)
    )
    n = new.select(*keys, F.col("value").alias("new_value")).withColumn(
        "_in_new", F.lit(True)
    )
    j = o.join(n, keys, "full_outer")
    abs_delta = F.col("new_value") - F.col("old_value")
    # ANSI: double division by a data-dependent 0 throws — guard with
    # try_divide; NULL rel_delta means "no meaningful relative move"
    rel_delta = F.try_divide(abs_delta, F.abs(F.col("old_value")))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_value").isNull() & F.col("new_value").isNull(),
            F.lit("unchanged"),
        )
        .when(
            F.col("old_value").isNull() | F.col("new_value").isNull(),
            F.lit("changed"),
        )
        .when(
            (F.col("old_value") == 0) & (F.col("new_value") != 0),
            F.lit("changed"),
        )
        .when(
            F.coalesce(F.abs(rel_delta), F.lit(0.0)) > rel_tolerance,
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *keys,
        "old_value",
        "new_value",
        abs_delta.alias("abs_delta"),
        rel_delta.alias("rel_delta"),
        status.alias("status"),
    )


def suggest_row_asserts(
    profile: DataFrame,
    tolerance: float = 0.0,
) -> list[RowAssert]:
    """Deequ-style constraint suggestion from a (materialized) profile.

    Reads the BOUNDED profile frame (partitions × columns × metrics —
    collecting it is safe at any input scale) and proposes RowAsserts
    that currently hold across ALL partitions:

    * ``<col> is not null`` when every partition is fully complete
      (suggested with ``max_violation_fraction=tolerance``),
    * ``<col> >= <floor>`` / ``<col> <= <ceil>`` for numeric columns,
      using the global min/max (rounded OUT to stay permissive),
    * ``length(<col>) <= <ceil>`` for strings.

    Suggestions are a starting point for a human-reviewed suite file —
    enforce-what-you-observe is circular until the suite is versioned."""
    import math

    rows = profile.collect()
    by_col: dict[str, dict[str, list[float]]] = {}
    for r in rows:
        by_col.setdefault(r.column, {}).setdefault(r.metric, []).append(r.value)

    out: list[RowAssert] = []
    for col in sorted(by_col):
        if col == "*":
            continue
        m = by_col[col]
        comp = m.get("completeness", [])
        if comp and all(v is not None and v >= 1.0 for v in comp):
            out.append(
                RowAssert(f"{col}_not_null", f"{col} is not null", tolerance)
            )
        if "min" in m and all(v is not None for v in m["min"]):
            floor = math.floor(min(m["min"]))
            out.append(RowAssert(f"{col}_floor", f"{col} >= {floor}", tolerance))
        if "max" in m and all(v is not None for v in m["max"]):
            ceil = math.ceil(max(m["max"]))
            out.append(RowAssert(f"{col}_ceil", f"{col} <= {ceil}", tolerance))
        if "max_length" in m and all(v is not None for v in m["max_length"]):
            ceil = int(max(m["max_length"]))
            out.append(
                RowAssert(
                    f"{col}_max_length", f"length({col}) <= {ceil}", tolerance
                )
            )
    return out


def profile_json_keys(
    df: DataFrame, column: str, min_presence: float = 0.95
) -> DataFrame:
    """Schema discovery for a semi-structured JSON string column — the
    profiler half of the ``json_schema`` check (the suggestion loop:
    profile → human review → a suite's ``json_schema`` spec enforces).

    One pass: valid JSON OBJECTS parse to ``map<string,string>`` in the
    JVM (``from_json`` — non-objects and malformed payloads drop out,
    exactly the rows the check's ``malformed`` reason owns), the map
    explodes, and per discovered key ONE aggregation computes presence
    and the narrowest type every present value casts to, under the
    ladder ``bigint → double → boolean → string`` (bigint wins before
    boolean so ``"1"`` reads as a number; JSON ``null`` values count as
    ABSENT — the same convention the check enforces).

    Output (bounded by distinct keys): ``(key, n_present, n_objects,
    inferred_type, required)`` where ``required`` marks keys present in
    ≥ ``min_presence`` of object rows — the rows to feed
    ``ValidationConfig.json_schema`` / the ``json_schema`` suite kind.
    """
    col = F.col(column)
    objs = df.select(
        F.from_json(col, "map<string,string>").alias("_m")
    ).filter(col.isNotNull() & F.col("_m").isNotNull())
    tot = objs.agg(F.count(F.lit(1)).alias("n_objects"))

    kv = objs.select(F.explode("_m").alias("key", "val"))
    v = F.col("val")
    counts = kv.groupBy("key").agg(
        F.sum(v.isNotNull().cast("long")).alias("n_present"),
        F.sum(v.try_cast("bigint").isNotNull().cast("long")).alias("_n_big"),
        F.sum(v.try_cast("double").isNotNull().cast("long")).alias("_n_dbl"),
        F.sum(v.try_cast("boolean").isNotNull().cast("long")).alias(
            "_n_bool"
        ),
    )
    inferred = (
        F.when(F.col("n_present") == 0, F.lit("string"))
        .when(F.col("_n_big") == F.col("n_present"), F.lit("bigint"))
        .when(F.col("_n_dbl") == F.col("n_present"), F.lit("double"))
        .when(F.col("_n_bool") == F.col("n_present"), F.lit("boolean"))
        .otherwise(F.lit("string"))
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "key",
        "n_present",
        "n_objects",
        inferred.alias("inferred_type"),
        (
            F.col("n_present").cast("double")
            / F.col("n_objects").cast("double")
            >= F.lit(float(min_presence))
        ).alias("required"),
    )
