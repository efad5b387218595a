"""Row-level quarantine: split a table into clean rows and a dead-letter
set tagged with every check each row violates — the production shape of
"violation rows" (the reference stops at raising on the first bad input,
aml_component/invoker.py:43-82; a 10^12-row pipeline instead routes bad
rows aside and keeps going).

Spark-first shape: the tagging is ONE pure projection (an array of
``when(violated, name)`` expressions filtered to non-null, fully codegen,
zero shuffle), and the split is NOT two filtered writes (two scans) but
one ``partitionBy(validation_status)`` write — one scan, two output
directories.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.operators.asserts import RowAssert, row_assert_tags

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


def tag_rows(
    df: DataFrame,
    asserts: tuple[RowAssert, ...] | list[RowAssert],
    extra_tags: list[Column] | None = None,
) -> DataFrame:
    """Append ``violated_checks`` and ``validation_status``
    (:func:`status_columns`).

    ``extra_tags`` lets callers ride additional ``when(cond, name)``
    columns beside the asserts' tags, so the status is one projection
    over the scan the violation rows come from."""
    if not asserts and not extra_tags:
        raise ValueError("tag_rows needs at least one assert or extra tag")
    tags = row_assert_tags(tuple(asserts)) + list(extra_tags or [])
    return df.withColumns(status_columns(tags))


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
