"""Row-level quarantine: split a table into clean rows and a dead-letter
set tagged with every check each row violates — the production shape of
"violation rows" (the reference stops at raising on the first bad input,
aml_component/invoker.py:43-82; a 10^12-row pipeline instead routes bad
rows aside and keeps going).

Spark-first shape: the tagging is ONE pure projection (an array of
``CASE WHEN <violated> THEN <check_name> END`` tags filtered to non-null,
fully codegen, zero shuffle), and the split is NOT two filtered writes
(two scans) but one ``partitionBy(validation_status)`` write — one scan,
two output directories. Each tag is the one the check compiler puts on
its violation scan (plans/suite.row_tag), so a row is quarantined here
exactly when a check suite lists it as a violation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.plans import suite as S

STATUS_COL = "validation_status"
VIOLATED_COL = "violated_checks"
CLEAN, QUARANTINED = "clean", "quarantined"


def status_columns(tags: list[Column]) -> dict[str, Column]:
    """``violated_checks`` (sorted array of the names of every failed
    check; empty when clean) and ``validation_status`` from the
    ``when(cond, name)`` tag expressions, for one projection."""
    hit = F.array_sort(F.filter(F.array(*tags), lambda t: t.isNotNull()))
    return {
        VIOLATED_COL: hit,
        STATUS_COL: F.when(F.size(hit) > 0, F.lit(QUARANTINED)).otherwise(
            F.lit(CLEAN)
        ),
    }


def tag_rows(df: DataFrame, specs: list) -> DataFrame:
    """Append ``violated_checks`` and ``validation_status``
    (:func:`status_columns`) for ``specs``: row asserts and the check
    suite's row-local kinds (``not_null_ts``, ``not_null``, ``finite``,
    ``bounds``, ``float_castable``, ``pattern``, ``json_schema``,
    ``text_extraction``). A spec that needs an aggregate or a join
    (``unique``, ``referential``, a functional dependency,
    ``freshness``, ``min_rows``) raises ``ValueError``, and so does a
    repeated check."""
    if not specs:
        raise ValueError("tag_rows needs at least one check")
    S.reject_repeats(specs)
    return df.withColumns(status_columns([S.row_tag(s, df) for s in specs]))


def split_counts(tagged: DataFrame) -> DataFrame:
    """Tiny per-status rollup (2 rows) for logging/manifest metrics."""
    return tagged.groupBy(STATUS_COL).agg(F.count(F.lit(1)).alias("n_rows"))


def write_split(tagged: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Sink clean + quarantined in ONE scan: a single write partitioned
    by ``validation_status`` — downstream readers get partition pruning
    (``.../validation_status=clean/`` is the training corpus,
    ``=quarantined/`` the dead-letter queue) and the input is read once,
    vs the naive two filtered writes reading it twice."""
    tagged.write.partitionBy(STATUS_COL).mode("overwrite").format(fmt).save(
        path
    )
