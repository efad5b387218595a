"""Structured Streaming surface of the validation engine.

The reference is batch-only (SURVEY.md §2.6: no streaming anywhere), but
a continuously-crawled pages table is naturally a stream; this package
re-expresses the engine's stats→SR pipeline as two chained streaming
stages (storage-chained, because Spark restricts arbitrary stateful-op
chaining inside one query):

1. :func:`streaming_window_stats` — watermarked tumbling-window stats
   (built-in windowed aggregation; late data handled by the watermark),
2. :func:`sr_score_stream` — stateful SR scoring with
   ``applyInPandasWithState``: per (partition, stat) the state carries the
   full window series seen so far, and each new finalized window is
   scored against that history with the reference SR kernel.

Plus :func:`dedup_ingest_stream` (exactly-once url dedup at ingest),
:func:`js_divergence_stream` (shape drift: per-window lang-distribution
JS divergence vs the previous window, constant-size reorder-buffer
state, batch-identical values), :func:`seasonal_expectation_stream`
(each window vs its same-phase history), :func:`topk_churn_stream`
(top-k membership churn) and :func:`streaming_window_corr` (exact
per-window correlation of two columns), each bit-equal to its batch
operator.
"""

from anomalydetector_spark.streaming.seasonal_stream import (  # noqa: F401
    SEASONAL_SCHEMA,
    SEASONAL_STATE_SCHEMA,
    seasonal_expectation_stream,
)
from anomalydetector_spark.streaming.churn_stream import (  # noqa: F401
    CHURN_SCHEMA,
    CHURN_STATE_SCHEMA,
    streaming_window_topk,
    topk_churn_stream,
)
from anomalydetector_spark.streaming.drift_stream import (  # noqa: F401
    SCORED_SCHEMA,
    STAT_STATE_SCHEMA,
    sr_score_stream,
    streaming_window_stats,
)
from anomalydetector_spark.streaming.ingest import (  # noqa: F401
    dedup_ingest_stream,
)
from anomalydetector_spark.streaming.numeric_stream import (  # noqa: F401
    CORR_SCHEMA,
    streaming_window_corr,
)
from anomalydetector_spark.streaming.shape_stream import (  # noqa: F401
    DIV_SCHEMA,
    DIV_STATE_SCHEMA,
    js_divergence_stream,
)
