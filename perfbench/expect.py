"""Expected outputs, computed without the engine.

DuckDB reads the generated parquet and derives every count the engine's
verdicts must report; the three injected drift series (null rate, median
text length, zh share) are rebuilt here and scored by the SR kernel in
the driver, so a wrong stat series or a broken ``applyInPandas`` stage
shows as a flag mismatch.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np

DRIFT_STATS = ("null_rate", "len_p50", "lang_frac_zh")
ROW_CHECKS = ("min_row_count", "not_null_warc_ts", "ref_domain", "unique_url")
DAY_S = 86400


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


def expected(pages_glob: str, domains_path: str, partition_by: str | None,
             only: list[str] | None, tmp_dir: str, flags: bool = True) -> dict:
    """Per-partition verdict counts and SR flags for the validated rows.

    ``only`` restricts the validated set to those partition values (the
    churned domains of an incremental run)."""
    from anomalydetector_spark.engine import ValidationConfig
    from anomalydetector_spark.kernel.sr import SrParams, sr_detect

    min_points = ValidationConfig().min_points
    con = connect(tmp_dir)
    part = "'global'" if partition_by is None else partition_by
    where = ""
    if only is not None:
        where = "WHERE domain IN (" + ",".join(f"'{d}'" for d in only) + ")"
    con.execute(
        f"""CREATE VIEW v AS SELECT *, {part} AS pk,
            epoch(warc_ts)::BIGINT // {DAY_S} AS wday
            FROM read_parquet('{pages_glob}', hive_partitioning = true)
            {where}"""
    )
    con.execute(
        f"CREATE VIEW dims AS SELECT domain FROM read_parquet('{domains_path}')"
    )
    counts = {}
    for pk, rows, null_ts, dangling, dup in con.execute(
        """WITH d AS (SELECT url FROM v GROUP BY url HAVING count(*) > 1)
        SELECT pk, count(*),
               count(*) FILTER (WHERE warc_ts IS NULL),
               count(*) FILTER (WHERE domain IS NOT NULL
                                AND domain NOT IN (SELECT domain FROM dims)),
               count(*) FILTER (WHERE url IN (SELECT url FROM d))
        FROM v GROUP BY pk"""
    ).fetchall():
        counts[pk] = {
            "min_row_count": rows if rows < min_points else 0,
            "rows": rows,
            "not_null_warc_ts": null_ts,
            "ref_domain": dangling,
            "unique_url": dup,
        }

    if not flags:
        con.close()
        return {"counts": counts}
    series = con.execute(
        """SELECT pk, wday,
                  count(*) FILTER (WHERE text IS NULL) AS n_null,
                  count(*) AS n,
                  count(*) FILTER (WHERE lang = 'zh') AS n_zh,
                  list(length(text) ORDER BY length(text))
                    FILTER (WHERE text IS NOT NULL) AS lens
           FROM v WHERE warc_ts IS NOT NULL
           GROUP BY pk, wday ORDER BY pk, wday"""
    ).fetchall()
    con.close()

    by_part: dict[str, list] = {}
    for pk, wday, n_null, n, n_zh, lens in series:
        # the engine's exact inverse-CDF median: first length whose
        # cumulative count reaches ceil(total / 2)
        p50 = float(lens[math.ceil(len(lens) * 0.5) - 1]) if lens else 0.0
        by_part.setdefault(pk, []).append(
            (wday * DAY_S, n_null / n, p50, n_zh / n)
        )
    flagged = set()
    params = SrParams()
    for pk, pts in by_part.items():
        if len(pts) < 12:
            continue
        arr = np.array(pts, dtype=float)
        for j, stat in enumerate(DRIFT_STATS, start=1):
            res = sr_detect(arr[:, 0], arr[:, j], params)
            for ts, hit in zip(arr[:, 0], res["isAnomaly"]):
                if hit:
                    flagged.add((pk, stat, int(ts)))
    return {"counts": counts, "flags": flagged}
