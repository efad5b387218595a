"""DuckDB oracle for the engine's per-window drift series.

Every series ``run_validation`` scores, recomputed in SQL from the raw
page rows — an engine that shares no code with the pandas drift pass
(``drift.fused_drift`` / ``kernel/window_drift``). Same style as the
``stats_cube_events``, ``lang_divergence``, ``numeric_drift`` and
``psi_drift`` oracles in ``__spark_entry__.oracle_sql()``, with a
partition column and daily windows:

* scalars per (part, day): ``doc_count``, ``null_rate``,
  ``lang_frac_<l>``, exact inverse-CDF ``len_p50`` / ``len_p95`` (0 for
  a day without text) and ``distinct_url``;
* shape series per day that has a row one day earlier:
  ``lang_js_divergence`` (null lang is its own category),
  ``len_hist_emd`` (dense 32-bin log2 length histogram, exact HUGEINT
  terms) and ``len_hist_psi`` (add-one smoothing over the pair's union
  support, micro-rounded logs, exact HUGEINT sums).

Rows without a timestamp belong to no window and are left out.
"""

from __future__ import annotations

import duckdb
import pandas as pd

_BASE = """
    SELECT {part} AS part, date_trunc('day', warc_ts)::TIMESTAMP AS w,
           text, length(text) AS len, coalesce(lang, '<null>') AS cat, url
    FROM pages WHERE warc_ts IS NOT NULL
"""

_SCALARS = """
    WITH hist AS (
      SELECT part, w, len, count(*) AS n
      FROM base WHERE text IS NOT NULL GROUP BY ALL),
    cum AS (
      SELECT part, w, len,
             sum(n) OVER (PARTITION BY part, w ORDER BY len) AS c,
             sum(n) OVER (PARTITION BY part, w) AS tot
      FROM hist),
    quants AS (
      SELECT part, w,
             min(len) FILTER (WHERE c >= ceil(tot::DOUBLE * 0.5::DOUBLE)) AS p50,
             min(len) FILTER (WHERE c >= ceil(tot::DOUBLE * 0.95::DOUBLE)) AS p95
      FROM cum GROUP BY ALL),
    wide AS (
      SELECT part, w, count(*) AS n,
             count(*) FILTER (WHERE text IS NULL) AS n_null,
             count(DISTINCT url) AS n_url{lang_counts}
      FROM base GROUP BY ALL)
    SELECT part, w,
           n::DOUBLE AS doc_count,
           n_null::DOUBLE / n::DOUBLE AS null_rate,
           coalesce(p50, 0)::DOUBLE AS len_p50,
           coalesce(p95, 0)::DOUBLE AS len_p95,
           n_url::DOUBLE AS distinct_url{lang_fracs}
    FROM wide LEFT JOIN quants USING (part, w)
"""

_JS = """
    WITH counts AS (SELECT part, w, cat, count(*) AS n FROM base GROUP BY ALL),
    probs AS (
      SELECT part, w, cat, n::DOUBLE / sum(n) OVER (PARTITION BY part, w) AS p
      FROM counts),
    pairs AS (
      SELECT DISTINCT c.part, c.w FROM probs c
      JOIN probs d ON d.part = c.part AND d.w = c.w - INTERVAL 1 DAY),
    cur AS (SELECT probs.* FROM probs JOIN pairs USING (part, w)),
    prev AS (
      SELECT d.part, d.w + INTERVAL 1 DAY AS w, d.cat, d.p FROM probs d
      JOIN pairs ON pairs.part = d.part AND pairs.w = d.w + INTERVAL 1 DAY),
    aligned AS (
      SELECT coalesce(cur.part, prev.part) AS part,
             coalesce(cur.w, prev.w) AS w,
             coalesce(cur.p, 0.0) AS p, coalesce(prev.p, 0.0) AS q
      FROM cur FULL OUTER JOIN prev
        ON cur.part = prev.part AND cur.w = prev.w AND cur.cat = prev.cat)
    SELECT part, w,
           sum(CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2)) ELSE 0 END) / 2
         + sum(CASE WHEN q > 0 THEN q * log2(q / ((p + q) / 2)) ELSE 0 END) / 2
    FROM aligned GROUP BY ALL
"""

# the log2 length histogram both distances read, and the day pairs
_BINS = """
    bins AS (
      SELECT part, w,
             least(floor(log2(coalesce(len, 0) + 1)), 31)::INTEGER AS bin,
             count(*)::HUGEINT AS n
      FROM base GROUP BY ALL),
    tot AS (SELECT part, w, sum(n)::HUGEINT AS t FROM bins GROUP BY ALL),
    pairs AS (
      SELECT c.part, c.w, c.t AS tc, d.t AS td FROM tot c
      JOIN tot d ON d.part = c.part AND d.w = c.w - INTERVAL 1 DAY)
"""

_EMD = """
    WITH {bins},
    dense AS (
      SELECT pr.part, pr.w, g.bin, pr.tc, pr.td,
             coalesce(c.n, 0)::HUGEINT AS c, coalesce(d.n, 0)::HUGEINT AS d
      FROM pairs pr CROSS JOIN range(0, 32) g(bin)
      LEFT JOIN bins c ON c.part = pr.part AND c.w = pr.w AND c.bin = g.bin
      LEFT JOIN bins d ON d.part = pr.part AND d.w = pr.w - INTERVAL 1 DAY
                      AND d.bin = g.bin),
    cum AS (
      SELECT part, w, tc * td AS den,
             sum(c * td - d * tc) OVER (PARTITION BY part, w ORDER BY bin) AS cx
      FROM dense)
    SELECT part, w, CAST(sum(abs(cx)) AS DOUBLE) / CAST(max(den) AS DOUBLE)
    FROM cum GROUP BY ALL
"""

_PSI = """
    WITH {bins},
    support AS (
      SELECT DISTINCT part, w, bin FROM (
        SELECT part, w, bin FROM bins
        UNION ALL SELECT part, w + INTERVAL 1 DAY, bin FROM bins)),
    raw AS (
      SELECT s.part, s.w, pr.tc, pr.td,
             coalesce(c.n, 0)::HUGEINT AS c0, coalesce(d.n, 0)::HUGEINT AS d0
      FROM support s JOIN pairs pr ON pr.part = s.part AND pr.w = s.w
      LEFT JOIN bins c ON c.part = s.part AND c.w = s.w AND c.bin = s.bin
      LEFT JOIN bins d ON d.part = s.part AND d.w = s.w - INTERVAL 1 DAY
                      AND d.bin = s.bin),
    sm AS (
      SELECT part, w, c0 + 1 AS c, d0 + 1 AS d,
             tc + count(*) OVER (PARTITION BY part, w) AS tcs,
             td + count(*) OVER (PARTITION BY part, w) AS tds
      FROM raw),
    terms AS (
      SELECT part, w, tcs * tds AS den, c * tds - d * tcs AS num,
             CAST(round(ln((c::DOUBLE * tds::DOUBLE) / (d::DOUBLE * tcs::DOUBLE))
                        * 1e6) AS HUGEINT) AS lnm
      FROM sm)
    SELECT part, w, CAST(sum(num * lnm) AS DOUBLE) / CAST(max(den) AS DOUBLE) / 1e6
    FROM terms GROUP BY ALL
"""


def drift_series(
    pages: pd.DataFrame, langs: tuple[str, ...], part_col: str | None = None
) -> dict[str, dict[tuple, float]]:
    """``{stat_name: {(partition_key, window_start): value}}`` for daily
    windows over ``pages`` (columns ``warc_ts, text, lang, url`` and
    ``part_col``; without ``part_col`` every row is partition
    ``'global'``)."""
    part = "'global'" if part_col is None else f'CAST("{part_col}" AS VARCHAR)'
    lang_counts = "".join(
        f",\n count(*) FILTER (WHERE cat = '{x}') AS n_{i}"
        for i, x in enumerate(langs)
    )
    lang_fracs = "".join(
        f",\n n_{i}::DOUBLE / n::DOUBLE AS lang_frac_{x}"
        for i, x in enumerate(langs)
    )
    con = duckdb.connect()
    try:
        con.register("pages", pages)
        con.execute(f"CREATE TEMP VIEW base AS {_BASE.format(part=part)}")
        out: dict[str, dict[tuple, float]] = {}
        cur = con.execute(
            _SCALARS.format(lang_counts=lang_counts, lang_fracs=lang_fracs)
        )
        names = [d[0] for d in cur.description][2:]
        for row in cur.fetchall():
            for name, value in zip(names, row[2:]):
                out.setdefault(name, {})[(row[0], row[1])] = value
        for name, sql in (
            ("lang_js_divergence", _JS),
            ("len_hist_emd", _EMD.format(bins=_BINS)),
            ("len_hist_psi", _PSI.format(bins=_BINS)),
        ):
            out[name] = {(p, w): v for p, w, v in con.execute(sql).fetchall()}
        return out
    finally:
        con.close()
