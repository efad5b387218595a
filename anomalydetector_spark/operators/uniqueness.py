"""Duplicate-key counting with explicit skew handling (north rule).

At 10^12 docs a plain ``groupBy(url).count()`` is correct but a single
pathological url (or a domain-heavy shuffle partition) can stall the
reduce stage. The two-phase salted aggregation bounds any reducer's input:

    phase 1: group by (url, salt) where salt spreads identical urls over
             ``N_SALTS`` reducers → local counts,
    phase 2: re-aggregate the (at most ``N_SALTS``) partial rows per url.

Phase-1 keys are near-unique, so AQE's skew mitigation plus map-side
partial aggregation keep every task bounded; phase 2's input is already
tiny. (SURVEY.md §2.2 P6, §4 item 1.) The uniqueness verdict itself is
compiled onto the shared key profile (plans/fused.url_profile), which
salts the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.plans.fused import N_SALTS


def duplicate_key_counts(df: DataFrame, key_col: str) -> DataFrame:
    """Two-phase duplicate counter → ``(key, cnt)`` for keys with cnt > 1.

    The salt must differ across physically identical rows, so it is drawn
    from the row's position (``monotonically_increasing_id``), not its
    content — content-derived salt would send exact duplicates to the same
    reducer, which is precisely the hot case being split.
    """
    phase1 = (
        df.select(F.col(key_col).alias("key"))
        .withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(N_SALTS)))
        .groupBy("key", "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return (
        phase1.groupBy("key")
        .agg(F.sum("_partial").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
