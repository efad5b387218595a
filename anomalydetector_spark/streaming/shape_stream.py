"""Streaming shape drift: JS divergence of the per-window lang
distribution vs the previous window, over a STREAM of finalized stat
windows (the stage-1 output of ``streaming_window_stats``).

The exactly-once consecutive-window pairing (reorder buffer + emitted
ledger, near-sorted arrival, restart-replay immunity) is the shared
machine in :mod:`~anomalydetector_spark.streaming.pairs`; this module
contributes only the shape-specific half: pivoting the long-format
stat rows into per-window probability vectors. The JS/TVD math per
pair is :func:`~anomalydetector_spark.kernel.window_drift.js_tvd`,
shared with the batch engine's grouped drift pass.

Granularity note: the streaming distribution is BUCKETED to the
configured ``langs`` plus an ``other`` residual mass (1 − Σ fracs,
clipped at 0), because stage 1 only emits fractions for the configured
list — a shift between two unlisted languages is invisible here (it
lands inside ``other``). The batch operator sees every observed
category; when all traffic is within the configured list the two produce
identical values (pinned by test).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from anomalydetector_spark.kernel.window_drift import js_tvd
from anomalydetector_spark.plans.fused import DEFAULT_LANGS
from anomalydetector_spark.streaming.pairs import (
    PAIR_STATE_SCHEMA,
    duration_us as _duration_us,
    window_pairs,
)

# kept as the historical export name; the layout (and the v2
# loud-failure rationale) lives with the shared machine in pairs.py
DIV_STATE_SCHEMA = PAIR_STATE_SCHEMA

DIV_SCHEMA = (
    "partition_key string, window_start timestamp, "
    "js_divergence double, tvd double"
)


def _make_div_fn(
    langs: tuple[str, ...], dur_us: int, buffer_windows: int
):
    import numpy as np

    frac_cols = [f"lang_frac_{l}" for l in langs]
    n_cats = len(langs) + 1

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf[pdf["stat_name"].isin(frac_cols)]
        out = []
        if not pdf.empty:
            wide = (
                pdf.pivot_table(
                    index="window_start",
                    columns="stat_name",
                    values="value",
                    aggfunc="last",
                )
                .reindex(columns=frac_cols)
                .sort_index()
            )
            # stage 1 unpivots one wide row per window, so a window's
            # fracs always land in one micro-batch — a missing column
            # would mean corrupt input; fail loud rather than renormalize
            if wide.isna().any().any():
                raise ValueError(
                    f"incomplete lang_frac window rows for key {key}"
                )
            probs = wide.to_numpy(dtype="float64")
            other = np.clip(1.0 - probs.sum(axis=1), 0.0, None)
            probs = np.column_stack([probs, other])
            ts_us = (
                wide.index.astype("datetime64[us]").astype("int64").to_numpy()
            )

            for t, prev, cur in window_pairs(
                state, ts_us, probs, n_cats, dur_us, buffer_windows
            ):
                out.append(
                    (key[0], pd.Timestamp(t, unit="us"), *js_tvd(cur, prev))
                )
        yield pd.DataFrame(
            out,
            columns=["partition_key", "window_start", "js_divergence", "tvd"],
        )

    return fn


def js_divergence_stream(
    stat_series_stream: DataFrame,
    window_duration: str = "1 day",
    langs: tuple[str, ...] = DEFAULT_LANGS,
    buffer_windows: int = 64,
) -> DataFrame:
    """Shape-drift scores from a stream of finalized stat windows (the
    long-format output of :func:`streaming_window_stats`): one row per
    contiguous (previous, current) window pair per partition, emitted
    exactly once when both windows have arrived."""
    return stat_series_stream.groupBy("partition_key").applyInPandasWithState(
        _make_div_fn(
            tuple(langs), _duration_us(window_duration), buffer_windows
        ),
        outputStructType=DIV_SCHEMA,
        stateStructType=DIV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
