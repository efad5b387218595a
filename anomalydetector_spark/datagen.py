"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md F3).

Schema per BASELINE.json ``input_hint``:
    url string, warc_ts timestamp, html binary, text string, lang string

Everything is generated **distributively** with JVM-side column expressions
(``spark.range`` + hash-derived pseudo-randomness) — no driver loop, no
Python UDF — so the same generator scales from 10^4 test rows to cluster
scale. Determinism: every attribute is a pure function of (row id, seed),
and all content is a pure function of the url, which guarantees the
per-url byte-identity invariant for ``text``/``html`` by construction.

Injected violation regimes (each confined to a known window so recall is
scoreable; metadata returned by :func:`truth`):

* hot-domain skew: one domain carries ≥20% of rows (exercises salting),
* duplicate-url burst in window ``DUP_WIN``,
* null-text burst in window ``NULL_WIN``,
* text-length distribution shift in window ``LEN_WIN``,
* language-histogram shift in window ``LANG_WIN``,
* dangling domains (absent from the ``domains`` dimension) in ``REF_WIN``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# violation windows (indices into the warc_ts window grid)
DUP_WIN = 29
NULL_WIN = 33
LEN_WIN = 37
LANG_WIN = 41
REF_WIN = 44

HOT_DOMAIN = "hot.example.com"
N_COLD_DOMAINS = 120

_WORDS = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "data",
    "page", "crawl", "web", "spark", "engine", "check", "drift", "series",
    "window", "value", "score", "filter", "median", "spectral", "residual",
    "anomaly", "margin", "boundary", "unit", "verdict", "violation", "table",
    "column", "schema", "null", "rate", "quantile", "histogram", "distinct",
    "domain", "path", "html", "text", "lang", "stat", "batch", "shuffle",
    "salt", "join", "scan", "sink",
]


def _h(*cols) -> F.Column:
    """Deterministic 64-bit hash column; xxhash64 is JVM-side and stable."""
    return F.xxhash64(*cols)


def _pm(col: F.Column, m: int) -> F.Column:
    return F.pmod(col, F.lit(m))


def generate_pages(
    spark: SparkSession,
    n_rows: int,
    n_windows: int = 48,
    seed: int = 42,
    start_ts: str = "2025-01-01 00:00:00",
    window_hours: int = 24,
) -> DataFrame:
    """Build the pages DataFrame.

    Rows are spread evenly over ``n_windows`` tumbling windows of
    ``window_hours``; ``n_windows`` defaults above SCORE_WINDOW(40) so SR
    has enough points (MIN_POINTS=12 per reference
    aml_component/constants.py:3).
    """
    if n_windows < 12:
        raise ValueError("need at least MIN_POINTS=12 windows for SR")

    # modulo assignment → every window gets n/n_windows ± 1 candidate rows;
    # a per-window retention rate in [0.88, 0.96) then gives doc_count
    # natural crawl-volume variation (a perfectly flat count series would
    # make SR flag even a ±1 rounding step as salient)
    df = spark.range(n_rows).withColumn(
        "wid", _pm(F.col("id"), n_windows).cast("int")
    )
    s = F.lit(seed)
    keep_bps = 8800 + _pm(_h("wid", s, F.lit("vol")), 800)  # basis points
    df = df.filter(_pm(_h("id", s, F.lit("keep")), 10000) < keep_bps)

    # --- duplicate-url burst: in DUP_WIN ~half the rows borrow the url of
    #     the previous row in the same window (stride n_windows pairing)
    dup_roll = _pm(_h("id", s, F.lit("dup")), 10)
    base = F.when(
        (F.col("wid") == DUP_WIN) & (dup_roll < 5) & (F.col("id") >= n_windows),
        F.col("id") - n_windows,
    ).otherwise(F.col("id"))
    df = df.withColumn("base", base)

    # --- domain: hot domain ~25% of rows, rest uniform over cold domains;
    #     in REF_WIN a slice points at domains missing from the dimension
    dom_roll = _pm(_h("base", s, F.lit("dom")), 1000)
    domain = (
        F.when(
            (F.col("wid") == REF_WIN) & (dom_roll >= 970),
            F.concat(F.lit("dangling-"), _pm(dom_roll, 7).cast("string"), F.lit(".invalid")),
        )
        .when(dom_roll < 250, F.lit(HOT_DOMAIN))
        .otherwise(
            F.concat(
                F.lit("site-"),
                _pm(_h("base", s, F.lit("cold")), N_COLD_DOMAINS).cast("string"),
                F.lit(".example.org"),
            )
        )
    )
    df = df.withColumn("domain", domain)

    # --- url: pure function of (domain, wid, base)
    df = df.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("domain"),
            F.lit("/w"),
            F.col("wid").cast("string"),
            F.lit("/p"),
            F.abs(_h("base", s, F.lit("path"))).cast("string"),
        ),
    )

    # one 64-bit digest of the url; all content derives from it (still a
    # pure function of the url — the byte-identity invariant holds — but
    # ~100 downstream hash calls per row hash 8 bytes instead of a ~60-char
    # string, which dominates generation cost at millions of rows)
    df = df.withColumn("_uh", _h("url"))

    # --- warc_ts: window start + hash-jitter within the window
    df = df.withColumn(
        "warc_ts",
        F.to_timestamp(F.lit(start_ts))
        + F.make_interval(hours=F.col("wid") * window_hours)
        + F.make_interval(secs=_pm(F.col("_uh"), window_hours * 3600).cast("double")),
    )

    # --- body text: a deterministic window into a fixed word pool — TWO
    #     hash calls per row (offset + length) instead of one per word,
    #     which makes generation O(1) per row and ~10× faster at millions
    #     of rows. Content stays a pure function of the url digest (the
    #     byte-identity invariant), and the length distribution shifts
    #     upward inside LEN_WIN (quantile drift).
    pool = " ".join(_WORDS[(i * 7) % len(_WORDS)] for i in range(1200))
    n_chars = F.when(
        F.col("wid") == LEN_WIN, 900 + _pm(_h("_uh", F.lit("len2")), 1200)
    ).otherwise(120 + _pm(_h("_uh", F.lit("len")), 360))
    offset = (_pm(_h("_uh", F.lit("off")), 2048) + 1).cast("int")
    df = df.withColumn(
        "body", F.substr(F.lit(pool), offset, n_chars.cast("int"))
    )

    # --- lang: categorical histogram, proportions shift inside LANG_WIN
    lang_roll = _pm(_h("_uh", s, F.lit("lang")), 100)
    base_lang = (
        F.when(lang_roll < 60, "en")
        .when(lang_roll < 75, "de")
        .when(lang_roll < 85, "fr")
        .when(lang_roll < 95, "zh")
        .otherwise("es")
    )
    drift_lang = (
        F.when(lang_roll < 20, "en")
        .when(lang_roll < 35, "de")
        .when(lang_roll < 45, "fr")
        .when(lang_roll < 95, "zh")
        .otherwise("es")
    )
    df = df.withColumn(
        "lang", F.when(F.col("wid") == LANG_WIN, drift_lang).otherwise(base_lang)
    )

    # --- html wraps the body; text is the tag-strip of html BY CONSTRUCTION
    #     (per-url byte-identity invariant). Null-text burst in NULL_WIN.
    html_str = F.concat(
        F.lit("<html><body><p>"), F.col("body"), F.lit("</p></body></html>")
    )
    null_roll = _pm(_h("_uh", s, F.lit("null")), 100)
    text = F.when(
        (F.col("wid") == NULL_WIN) & (null_roll < 15), F.lit(None).cast("string")
    ).otherwise(F.col("body"))

    return df.select(
        "url",
        "warc_ts",
        F.encode(html_str, "UTF-8").alias("html"),
        text.alias("text"),
        "lang",
        "domain",  # carried for partitioning/skew work; not part of the core 5
        "wid",
    )


def domains_dim(spark: SparkSession) -> DataFrame:
    """The referential dimension: every legitimate domain (hot + cold).
    Dangling ``*.invalid`` domains are deliberately absent."""
    cold = spark.range(N_COLD_DOMAINS).select(
        F.concat(F.lit("site-"), F.col("id").cast("string"), F.lit(".example.org")).alias(
            "domain"
        )
    )
    hot = spark.range(0, 1, 1, 1).select(F.lit(HOT_DOMAIN).alias("domain"))
    return cold.unionByName(hot)


def truth(n_windows: int = 48) -> dict:
    """Ground-truth regime metadata for recall scoring."""
    return {
        "n_windows": n_windows,
        "dup_window": DUP_WIN,
        "null_window": NULL_WIN,
        "len_window": LEN_WIN,
        "lang_window": LANG_WIN,
        "ref_window": REF_WIN,
        "hot_domain": HOT_DOMAIN,
        "drift_windows": {
            "null_rate": NULL_WIN,
            "len_p50": LEN_WIN,
            "lang_frac_zh": LANG_WIN,
            "lang_frac_en": LANG_WIN,
        },
    }
