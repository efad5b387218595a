"""URL canonicalization and URL-keyed dedup for web-crawl corpora.

A Common-Crawl-style table keys everything on ``url``, but raw crawl URLs
are noisy: the same page appears as ``HTTP://WWW.Site.COM:80/a/?utm_source=x``
and ``http://site.com/a``. Canonicalizing BEFORE the uniqueness check (and
before per-domain caps / fetch scheduling) is a standard crawl-pipeline
stage; without it, url-keyed exact dedup under-merges.

Everything here is a pure JVM column program (regexp + array higher-order
functions — zero Python, zero shuffle for the canonical form itself), so
at 10^12 rows canonicalization is a free projection fused into the scan.
Rules applied (the usual RFC 3986 §6 safe normalizations plus the
crawl-specific tracking-param strip):

1. trim surrounding whitespace; drop the fragment (``#...``);
2. lowercase scheme and host; strip ``userinfo@``;
3. strip the scheme's default port (``:80`` http / ``:443`` https);
4. optionally strip a leading ``www.`` label;
5. empty path → ``/``; collapse duplicate ``//`` in the path; optionally
   strip one trailing slash (never the root);
6. drop tracking query params (``utm_*`` and a fixed click-id list),
   sort the survivors byte-wise (order-insensitive compare), drop the
   ``?`` when nothing survives.

Percent-decoding is deliberately NOT applied: decoding can change which
resource a URL names (``%2F`` in a path segment), so it is not a safe
canonicalization.

Reference anchor: the reference engine keys series on their timestamp
column and dedups exact key collisions
(msanomalydetector/spectral_residual.py asserts unique timestamps); url
canonicalization is the web-corpus analogue of that key-normalization
step, applied before the same uniqueness verdicts
(operators/uniqueness.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# click-identifier params dropped exactly; utm_* dropped by prefix
TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "mc_cid", "mc_eid", "igshid")

# ccTLD second-level registries where the registrable domain has three
# labels (site.co.uk), not two; a tiny fixed list — at production scale
# this is the Public Suffix List shipped as a broadcast dimension, and the
# plan shape (a literal isin chain over the last-two-label suffix) is
# identical.
SECOND_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "com.au", "net.au", "co.jp", "co.kr",
    "com.br", "com.cn", "com.mx", "co.in", "co.nz", "com.ar", "com.tr",
)


def canonicalize_url(
    col: Column,
    strip_www: bool = True,
    strip_trailing_slash: bool = True,
) -> Column:
    """Canonical form of a URL column — one codegen expression tree."""
    u = F.trim(col)
    u = F.regexp_replace(u, r"#.*$", "")  # fragment off first
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(.*)$", 1)

    host = F.lower(F.regexp_replace(hostport, r"^[^@]*@", ""))  # userinfo off
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.substring(host, 1, F.length(host) - 4),
    ).otherwise(host)
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")

    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    if strip_trailing_slash:
        path = F.when(
            (F.length(path) > 1) & path.endswith("/"),
            F.substring(path, 1, F.length(path) - 1),
        ).otherwise(path)

    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.split_part(p, F.lit("="), F.lit(1)).startswith("utm_")
        & ~F.split_part(p, F.lit("="), F.lit(1)).isin(
            *[F.lit(t) for t in TRACKING_PARAMS]
        ),
    )
    qnorm = F.concat_ws("&", F.array_sort(params))

    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qnorm == "", F.lit("")).otherwise(F.concat(F.lit("?"), qnorm)),
    )
    # scheme-less / malformed inputs (no "scheme://" prefix) pass through
    # with only the always-safe normalizations (trim + fragment strip)
    # rather than all collapsing to the constant ":///" — which would
    # merge every malformed row into ONE dedup group and silently delete
    # all but one of them downstream
    return F.when(scheme == "", u).otherwise(canonical)


def url_host(col: Column) -> Column:
    """Lowercased host (no port, no userinfo) of a URL column."""
    hostport = F.regexp_extract(
        F.trim(col), r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1
    )
    return F.lower(
        F.regexp_replace(F.regexp_replace(hostport, r"^[^@]*@", ""), r":\d+$", "")
    )


def registrable_domain(host: Column) -> Column:
    """eTLD+1 heuristic: last two host labels, or three when the last two
    are a known second-level registry (``site.co.uk``). This is THE key
    for per-domain caps and skew handling — grouping by full host splits
    one hot property across subdomains and hides the skew."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.slice(parts, F.greatest(n - 1, F.lit(1)), 2))
    last3 = F.concat_ws(".", F.slice(parts, F.greatest(n - 2, F.lit(1)), 3))
    return F.when(
        (n >= 3) & last2.isin(*[F.lit(s) for s in SECOND_LEVEL_SUFFIXES]), last3
    ).otherwise(last2)


def url_components(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Structural URL profile in one projection: canonical form, host,
    registrable domain, path depth, https flag, query-param count."""
    u = F.col(url_col)
    host = url_host(u)
    path = F.regexp_extract(
        F.regexp_replace(F.trim(u), r"#.*$", ""),
        r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?]*)",
        1,
    )
    query = F.regexp_extract(F.regexp_replace(F.trim(u), r"#.*$", ""), r"\?(.*)$", 1)
    return df.withColumns(
        {
            "canonical_url": canonicalize_url(u),
            "host": host,
            "domain": registrable_domain(host),
            "path_depth": F.size(
                F.filter(F.split(path, "/"), lambda s: s != "")
            ),
            "is_https": F.lower(
                F.regexp_extract(F.trim(u), r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
            )
            == "https",
            "n_query_params": F.size(
                F.filter(F.split(query, "&"), lambda p: p != "")
            ),
        }
    )


def canonical_url_duplicates(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_www: bool = True,
    strip_trailing_slash: bool = True,
) -> DataFrame:
    """URL-keyed exact dedup AFTER canonicalization — the crawl-frontier
    dedup stage. Same two-phase plan as ``dedup.exact_duplicates``
    (canonicalize in the scan projection, hash-groupBy on the canonical
    form, join the tiny group table back): canonical = min id, so reruns
    pick the same survivor."""
    canon = df.select(
        F.col(id_col),
        canonicalize_url(
            F.col(url_col),
            strip_www=strip_www,
            strip_trailing_slash=strip_trailing_slash,
        ).alias("canonical_url"),
    )
    # the group table is built from NON-NULL canonical urls only (null
    # rows would otherwise all shuffle into one discarded reducer group),
    # then LEFT-joined back: null urls are NOT duplicates of each other,
    # so each passes through as its own singleton survivor via coalesce
    # instead of vanishing from an inner equi-join — two reads of the
    # projection total, same as the all-non-null plan
    groups = (
        canon.filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("_gid"),
            F.count(F.lit(1)).alias("_gsz"),
        )
    )
    return canon.join(groups, "canonical_url", "left").select(
        id_col,
        "canonical_url",
        F.coalesce("_gid", F.col(id_col)).alias("canonical_id"),
        F.coalesce("_gsz", F.lit(1).cast("long")).alias("group_size"),
        (F.col(id_col) == F.coalesce("_gid", F.col(id_col))).alias(
            "is_canonical"
        ),
    )


def host_suffix_chain(host: Column) -> Column:
    """All dot-suffixes of a host, in-row: ``a.b.example.com`` →
    ``[a.b.example.com, b.example.com, example.com, com]``. ``host = d
    OR host ends with ".d"`` is exactly ``d ∈ suffix_chain(host)``, so
    subdomain-inclusive blocklist matching becomes a pure EQUI-join on
    chain elements — never a ``LIKE``/suffix theta-join, which Catalyst
    can only execute as a nested loop."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.concat_ws(".", F.slice(parts, i, n)),
    )


def domain_blocklist_flags(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """Every input row + ``host`` + ``blocked``: True iff the url's host
    equals a blocklisted domain or is a subdomain of one (UT1-style
    category blocklist semantics — blocking ``bad.com`` blocks
    ``cdn.bad.com``). ``blocklist`` is one lowercase-domain column named
    ``domain_col``.

    Scale shape: the suffix chain (≤ host label count, ~6 elements) is
    built in-row, exploded to (id, suffix) pairs, and LEFT SEMI-joined
    against the broadcast blocklist — ids only travel; the hit-id set
    then left-joins back as the flag. Blocklists are list-shaped
    (UT1 ships a few million lines) — comfortably broadcast range; drop
    the hint and the semi-join degrades gracefully to a shuffle on the
    suffix string.
    """
    hosted = df.withColumn("host", url_host(F.col(url_col)))
    chain = hosted.select(
        F.col(id_col),
        F.explode(host_suffix_chain(F.col("host"))).alias("_sfx"),
    )
    bl = blocklist.select(F.lower(F.col(domain_col)).alias("_sfx")).distinct()
    hits = (
        chain.join(F.broadcast(bl), "_sfx", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    return hosted.join(hits, id_col, "left").withColumn(
        "blocked", F.coalesce(F.col("blocked"), F.lit(False))
    )
