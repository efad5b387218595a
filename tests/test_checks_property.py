"""Property-based check validation: random tables, expectations
recomputed independently in pandas, verdict counts must match exactly."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis unavailable", allow_module_level=True)


@st.composite
def _value_table(draw):
    n = draw(st.integers(min_value=1, max_value=60))
    parts = draw(st.integers(min_value=1, max_value=3))
    vals = draw(
        st.lists(
            st.one_of(
                st.none(),
                st.floats(allow_nan=True, allow_infinity=True, width=64),
                st.sampled_from([1e200, -1e200, 0.0, 1e100, -1e100]),
            ),
            min_size=n,
            max_size=n,
        )
    )
    pk = draw(
        st.lists(
            st.integers(min_value=0, max_value=parts - 1), min_size=n, max_size=n
        )
    )
    return pd.DataFrame({"v": vals, "p": [f"p{i}" for i in pk]})


def _finite_mask(s: pd.Series) -> pd.Series:
    return s.notna() & s.apply(
        lambda x: isinstance(x, float) and math.isfinite(x)
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_value_table())
def test_finite_and_bounds_counts(spark, pdf):
    from anomalydetector_spark.plans import suite as S

    # tuple rows, not pandas: pandas→Spark conversion folds float NaN
    # into null, which would shift NaN rows from P8's class to P4's
    rows = [(None if v is None else float(v), p) for v, p in zip(pdf["v"], pdf["p"])]
    df = spark.createDataFrame(rows, "v double, p string")

    finite = S.run_suite(
        df, [S.finite("v")], partition_by="p", persist_scans=False
    ).verdicts.toPandas()
    got_f = finite.set_index("partition_key")["violation_count"]
    want_f = (
        pdf["v"]
        .apply(
            lambda x: x is not None
            and isinstance(x, float)
            and not math.isfinite(x)
        )
        .groupby(pdf["p"])
        .sum()
    )
    for p, w in want_f.items():
        assert got_f[p] == w, (p, pdf)

    bounds = S.run_suite(
        df, [S.bounds("v", -1e100, 1e100)], partition_by="p",
        persist_scans=False,
    ).verdicts.toPandas()
    got_b = bounds.set_index("partition_key")["violation_count"]
    fin = _finite_mask(pdf["v"])
    oob = fin & pdf["v"].apply(
        lambda x: isinstance(x, float) and (x < -1e100 or x > 1e100)
    )
    want_b = oob.groupby(pdf["p"]).sum()
    for p, w in want_b.items():
        assert got_b[p] == w, (p, pdf)


@st.composite
def _ts_table(draw):
    n = draw(st.integers(min_value=2, max_value=40))
    # ordered positions with injected equal/decreasing steps
    steps = draw(
        st.lists(st.sampled_from([-1, 0, 1, 1, 2]), min_size=n - 1, max_size=n - 1)
    )
    ts = [1_600_000_000]
    for s in steps:
        ts.append(ts[-1] + int(s) * 60)
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(ts, unit="s"),
            "order_id": range(n),
        }
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_ts_table())
def test_ascending_and_duplicate_counts(spark, pdf):
    from anomalydetector_spark.operators import checks as C

    df = spark.createDataFrame(pdf)

    asc = C.check_ascending_by(df, "ts", "order_id").verdicts.first()
    diffs = pdf["ts"].diff().dropna()
    want_desc = int((diffs < pd.Timedelta(0)).sum())
    assert asc.violation_count == want_desc, pdf

    dup = C.check_strictly_ascending(df, "ts").verdicts.first()
    # duplicates counted over sorted order: n - distinct
    want_dup = len(pdf) - pdf["ts"].nunique()
    assert dup.violation_count == want_dup, pdf
