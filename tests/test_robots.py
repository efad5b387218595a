"""robots.txt parsing + URL gating (operators/robots.py): RFC 9309
semantics pinned against a pure-Python mirror on randomized bodies,
plus the documented edge cases."""

import random

import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators.robots import (
    parse_robots_rules,
    robots_gate,
    url_path,
)


# ---------------------------------------------------------------- mirror
def _mirror_parse(body: str, agent: str):
    """Independent pure-Python parse: groups, agent selection, rules."""
    groups, cur_uas, cur_rules, in_ua_run = [], [], [], False
    for raw in body.split("\n"):
        line = raw.split("#", 1)[0].replace("\r", "").strip()
        if not line or ":" not in line:
            continue
        d, v = line.split(":", 1)
        d, v = d.strip().lower(), v.strip()
        if d == "user-agent":
            if not in_ua_run:
                if cur_uas:
                    groups.append((cur_uas, cur_rules))
                cur_uas, cur_rules = [], []
            cur_uas.append(v.lower())
            in_ua_run = True
        elif d in ("allow", "disallow"):
            in_ua_run = False
            if v:
                cur_rules.append((d, v))
        elif d == "crawl-delay":
            # recognized group directive (Bing/Yandex semantics): ends
            # a user-agent run like a rule line, but emits no path rule
            in_ua_run = False
        # unknown directives and sitemap lines are ignored ENTIRELY —
        # they neither join a group nor break a user-agent run (RFC
        # 9309 grouping is defined only over startgroupline and rule
        # lines; sitemap is global by convention)
    if cur_uas:
        groups.append((cur_uas, cur_rules))
    exact = [g for g in groups if agent.lower() in g[0]]
    chosen = exact or [g for g in groups if "*" in g[0]]
    out = set()
    for _, rules in chosen:
        out.update(rules)
    return out


def _mirror_match(path: str, rules):
    import re

    best = None
    for rtype, pat in rules:
        anchored = pat.endswith("$")
        core = pat[:-1] if anchored else pat
        rx = "".join(".*" if c == "*" else re.escape(c) for c in core)
        rx = "^" + rx + ("$" if anchored else ".*")
        if re.match(rx, path):
            key = (len(pat), 1 if rtype == "allow" else 0, pat)
            if best is None or key > best:
                best = key
    if best is None:
        return None, None, True
    return best[2], ("allow" if best[1] else "disallow"), best[1] == 1


def _random_body(rnd: random.Random) -> str:
    segs = ["/a/", "/b/", "/a/b/", "/c", "/a/*.pdf$", "/b/*x", "/"]
    lines = []
    for _ in range(rnd.randint(1, 3)):
        for _ in range(rnd.randint(1, 2)):
            lines.append(
                "User-agent: " + rnd.choice(["*", "crawler", "gptbot"])
            )
        for _ in range(rnd.randint(0, 4)):
            lines.append(
                rnd.choice(["Allow", "Disallow"]) + ": "
                + rnd.choice(segs + [""])
            )
        if rnd.random() < 0.5:
            lines.append("Crawl-delay: 3")
        lines.append("")
    return "\n".join(lines)


def test_robots_randomized_vs_mirror(spark):
    rnd = random.Random(77)
    bodies = [(f"d{i}.com", _random_body(rnd)) for i in range(12)]
    robots = spark.createDataFrame(bodies, "domain string, robots_txt string")
    paths = ["/", "/a/x", "/a/b/y", "/b/zzx", "/a/f.pdf", "/c", "/q"]
    urls = spark.createDataFrame(
        [
            (i * 10 + j, f"https://{d}{p}", d)
            for i, (d, _) in enumerate(bodies)
            for j, p in enumerate(paths)
        ],
        "id long, url string, domain string",
    )
    for agent in ("*", "crawler"):
        rules = parse_robots_rules(robots, agent=agent)
        got = {
            r.id: (r.matched_pattern, r.matched_type, r.crawl_allowed)
            for r in robots_gate(urls, rules).collect()
        }
        for i, (d, body) in enumerate(bodies):
            mirror_rules = _mirror_parse(body, agent)
            for j, p in enumerate(paths):
                want = _mirror_match(p, mirror_rules)
                assert got[i * 10 + j] == want, (
                    agent, d, p, got[i * 10 + j], want, body
                )


def test_robots_rfc_cases(spark):
    body = (
        "User-agent: gptbot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"
        "Disallow: /tmp/*.pdf$\nDisallow:\nCrawl-delay: 10\n\n"
        "User-agent: specialbot\nUser-agent: otherbot\nAllow: /private/\n"
    )
    robots = spark.createDataFrame(
        [("a.com", body)], "domain string, robots_txt string"
    )
    star = {
        (r.rule_type, r.path_pattern)
        for r in parse_robots_rules(robots, agent="*").collect()
    }
    # empty disallow and crawl-delay ignored; only the * group applies
    assert star == {
        ("disallow", "/private/"),
        ("allow", "/private/ok/"),
        ("disallow", "/tmp/*.pdf$"),
    }
    # exact group fully replaces * (RFC: only the most specific applies)
    special = {
        (r.rule_type, r.path_pattern)
        for r in parse_robots_rules(robots, agent="SpecialBot").collect()
    }
    assert special == {("allow", "/private/")}
    gpt = {
        (r.rule_type, r.path_pattern)
        for r in parse_robots_rules(robots, agent="gptbot").collect()
    }
    assert gpt == {("disallow", "/")}


def test_url_path_extraction(spark):
    df = spark.createDataFrame(
        [
            ("https://a.com/x/y?q=1",),
            ("http://a.com",),
            ("https://u:p@a.com:8443/z",),
        ],
        "u string",
    )
    got = [r.p for r in df.select(url_path(F.col("u")).alias("p")).collect()]
    assert got == ["/x/y?q=1", "/", "/z"]


def test_robots_gate_plan_is_single_equi_join(spark):
    """100-TB shape: the gate is one equi-join on domain + aggregate —
    no cartesian/nested-loop over the URL frame."""
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /p/")],
        "domain string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [(1, "https://a.com/p/x", "a.com")], "id long, url string, domain string"
    )
    out = robots_gate(urls, parse_robots_rules(robots))
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan  # zero Python
    row = out.collect()[0]
    assert row.crawl_allowed is False


def test_crawl_delay_sitemaps_and_schedule(spark):
    from anomalydetector_spark.operators.robots import (
        parse_crawl_delays,
        parse_sitemaps,
        politeness_schedule,
    )

    body_a = (
        "User-agent: *\nCrawl-delay: 2.5\nDisallow: /x/\n\n"
        "User-agent: fastbot\nCrawl-delay: 0.1\n\n"
        "Sitemap: https://a.com/sm1.xml\n"
        "sitemap: https://a.com/sm2.xml\n"
    )
    body_b = (
        "User-agent: *\nCrawl-delay: notanumber\nCrawl-delay: 7\n"
        "Crawl-delay: 3\n"
    )
    robots = spark.createDataFrame(
        [("a.com", body_a), ("b.com", body_b), ("c.com", "User-agent: *\nDisallow: /q")],
        "domain string, robots_txt string",
    )
    star = {r.domain: r.crawl_delay
            for r in parse_crawl_delays(robots, agent="*").collect()}
    # exact group replaces '*' for fastbot; min across redundant values;
    # non-numeric ignored; no-delay domain absent
    assert star == {"a.com": 2.5, "b.com": 3.0}
    fast = {r.domain: r.crawl_delay
            for r in parse_crawl_delays(robots, agent="fastbot").collect()}
    assert fast["a.com"] == 0.1 and fast["b.com"] == 3.0
    sm = {(r.domain, r.sitemap_url)
          for r in parse_sitemaps(robots).collect()}
    assert sm == {("a.com", "https://a.com/sm1.xml"),
                  ("a.com", "https://a.com/sm2.xml")}
    # crawl-delay must NOT leak into the path-rule table
    from anomalydetector_spark.operators.robots import parse_robots_rules
    rules = {(r.domain, r.rule_type, r.path_pattern)
             for r in parse_robots_rules(robots, agent="*").collect()}
    assert rules == {("a.com", "disallow", "/x/"),
                     ("c.com", "disallow", "/q")}

    urls = spark.createDataFrame(
        [(i, f"https://a.com/p{i}", "a.com") for i in range(4)]
        + [(9, "https://z.com/only", "z.com")],
        "id long, url string, domain string",
    )
    sched = {r.id: (r.effective_delay, r.fetch_offset_s)
             for r in politeness_schedule(
                 urls, parse_crawl_delays(robots), default_delay=1.0
             ).collect()}
    # deterministic per-domain ordering by url: p0..p3 at 2.5s spacing
    assert [sched[i] for i in range(4)] == [
        (2.5, 0.0), (2.5, 2.5), (2.5, 5.0), (2.5, 7.5)]
    assert sched[9] == (1.0, 0.0)  # unknown domain: fleet default


def test_check_robots_compliance(spark):
    from anomalydetector_spark.operators.robots import (
        check_robots_compliance,
    )

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/"),
         ("b.com", "User-agent: *\nAllow: /")],
        "domain string, robots_txt string",
    )
    pages = spark.createDataFrame(
        [(1, "https://a.com/ok", "a.com"),
         (2, "https://a.com/private/leak", "a.com"),
         (3, "https://b.com/anything", "b.com"),
         (4, "https://c.com/unlisted", "c.com")],
        "id long, url string, domain string",
    )
    res = check_robots_compliance(pages, robots, partition_by="domain")
    v = {r.partition_key: r for r in res.verdicts.collect()}
    assert not v["a.com"].passed and v["a.com"].violation_count == 1
    assert "robots policy disallows" in v["a.com"].error_message
    assert v["b.com"].passed and v["c.com"].passed
    rows = res.violations.collect()
    assert len(rows) == 1 and rows[0].url == "https://a.com/private/leak"
    assert rows[0].matched_pattern == "/private/"
    assert rows[0].check_name == "robots_compliance"


def test_robots_gate_streams_stateless(spark, tmp_path):
    """The zero-shuffle gate is a stateless projection + stream-static
    broadcast join, so it runs unchanged inside Structured Streaming —
    append mode, no watermark, no state store."""
    from anomalydetector_spark.operators.robots import (
        parse_robots_rules,
        robots_gate,
    )

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /p/")],
        "domain string, robots_txt string",
    )
    rules = parse_robots_rules(robots)
    urls = spark.createDataFrame(
        [(i, "a.com", f"https://a.com/{'p' if i % 2 else 'q'}/x{i}")
         for i in range(40)],
        "id long, domain string, url string",
    )
    src = str(tmp_path / "urls")
    urls.write.parquet(src)
    stream = spark.readStream.schema(
        "id long, domain string, url string"
    ).parquet(src)
    q = (
        robots_gate(stream, rules)
        .writeStream.format("memory")
        .queryName("robots_gate_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.id: r.crawl_allowed
        for r in spark.sql("select * from robots_gate_stream").collect()
    }
    want = {r.id: r.crawl_allowed
            for r in robots_gate(urls, rules).collect()}
    assert got == want and len(got) == 40
    assert all(got[i] == (i % 2 == 0) for i in got)


def test_extract_sitemap_urls(spark):
    from anomalydetector_spark.operators.robots import extract_sitemap_urls

    urlset = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        "  <url>\n    <loc>https://a.com/x?a=1&amp;b=2</loc>\n"
        "    <lastmod>2025-06-01</lastmod>\n  </url>\n"
        "  <url><loc> https://a.com/y </loc></url>\n"
        "  <url><lastmod>2025-01-01</lastmod></url>\n"  # no loc: dropped
        "</urlset>"
    )
    index = (
        "<sitemapindex>\n"
        "  <sitemap><loc>https://b.com/sm1.xml</loc>"
        "<lastmod>2025-02-03</lastmod></sitemap>\n"
        "  <sitemap><loc>https://b.com/sm2.xml</loc></sitemap>\n"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("a.com", urlset), ("b.com", index)],
        "domain string, sitemap_xml string",
    )
    got = {(r.domain, r.kind, r.loc, r.lastmod)
           for r in extract_sitemap_urls(df).collect()}
    assert got == {
        ("a.com", "url", "https://a.com/x?a=1&b=2", "2025-06-01"),
        ("a.com", "url", "https://a.com/y", None),
        ("b.com", "sitemap", "https://b.com/sm1.xml", "2025-02-03"),
        ("b.com", "sitemap", "https://b.com/sm2.xml", None),
    }


def test_extract_sitemap_urls_prefixed_and_cdata(spark):
    """Round-5 hardening: namespace-prefixed tags (<sm:loc>) parse like
    plain ones, and CDATA-wrapped content is taken VERBATIM — the
    &amp; inside CDATA must NOT decode, while the same entity outside
    CDATA must."""
    from anomalydetector_spark.operators.robots import (
        extract_sitemap_urls,
    )

    prefixed = (
        '<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        "  <sm:url><sm:loc>https://p.com/x?a=1&amp;b=2</sm:loc>"
        "<sm:lastmod>2025-03-04</sm:lastmod></sm:url>\n"
        "  <sm:url><sm:lastmod>x</sm:lastmod></sm:url>\n"  # dropped
        "</sm:urlset>"
    )
    cdata = (
        "<urlset>\n"
        "  <url><loc><![CDATA[https://c.com/x?a=1&amp;b=2]]></loc></url>\n"
        "  <url><loc> <![CDATA[https://c.com/y]]> </loc>"
        "<lastmod><![CDATA[2025-07-08]]></lastmod></url>\n"
        "</urlset>"
    )
    pindex = (
        "<sm:sitemapindex><sm:sitemap>"
        "<sm:loc>https://p.com/sm.xml</sm:loc>"
        "</sm:sitemap></sm:sitemapindex>"
    )
    df = spark.createDataFrame(
        [("p.com", prefixed), ("c.com", cdata), ("pi.com", pindex)],
        "domain string, sitemap_xml string",
    )
    got = {(r.domain, r.kind, r.loc, r.lastmod)
           for r in extract_sitemap_urls(df).collect()}
    assert got == {
        ("p.com", "url", "https://p.com/x?a=1&b=2", "2025-03-04"),
        ("c.com", "url", "https://c.com/x?a=1&amp;b=2", None),
        ("c.com", "url", "https://c.com/y", "2025-07-08"),
        ("pi.com", "sitemap", "https://p.com/sm.xml", None),
    }


def test_politeness_schedule_bucketed_equals_plain_and_balances(spark):
    """50%-hot fixture: 1000 urls on hot.example + 1000 across 50 cold
    domains. The bucketed schedule must (a) equal the plain window's
    output as a set, (b) split the hot domain across >= 4 buckets with
    max (domain, bucket) group <= 3x the median group — the plain
    form's hot window group holds all 1000."""
    from pyspark.sql import functions as F

    from anomalydetector_spark.operators.robots import (
        politeness_schedule,
        politeness_schedule_bucketed,
    )

    rows = [(i, f"https://hot.example/p{i:05d}", "hot.example")
            for i in range(1000)]
    rows += [(1000 + i, f"https://cold{i % 50}.example/p{i:05d}",
              f"cold{i % 50}.example") for i in range(1000)]
    urls = spark.createDataFrame(
        rows, "id long, url string, domain string"
    )
    delays = spark.createDataFrame(
        [("hot.example", 2.0)], "domain string, crawl_delay double"
    )

    plain = politeness_schedule(urls, delays, default_delay=0.5)
    buck = politeness_schedule_bucketed(
        urls, delays, default_delay=0.5, n_buckets=16, sample_mod=1
    )
    assert sorted(plain.columns) == sorted(buck.columns)
    key = lambda r: (r.id, r.url, r.domain, r.effective_delay,
                     r.fetch_offset_s)
    assert {key(r) for r in plain.collect()} \
        == {key(r) for r in buck.collect()}

    # hot-domain offsets exact: a polite 2s crawl of 1000 pages
    hot_offsets = [r.fetch_offset_s for r in buck
                   .filter(F.col("domain") == "hot.example").collect()]
    assert sorted(hot_offsets) == [2.0 * k for k in range(1000)]

    # balance: replicate the operator's deterministic boundary rule
    # (sample_mod=1 and 2000 < sample_cap make the sample the full
    # distinct key set) and measure the (domain, bucket) window-group
    # sizes the bucketed form actually shuffles on
    keys = sorted({(d, u) for _, u, d in rows})
    step = max(1, len(keys) // 16)
    bnds = keys[step::step][:15]
    from bisect import bisect_right
    from collections import Counter
    groups = Counter(
        (d, bisect_right(bnds, (d, u))) for d, u in keys
    )
    # range-bucket totals are what the one big shuffle balances on:
    # max bucket <= 3x the median bucket (the plain form's hot window
    # partition holds 1000 = 8x the fair share)
    per_bucket = Counter()
    for (_, b), n in groups.items():
        per_bucket[b] += n
    bsz = sorted(per_bucket.values())
    med = bsz[len(bsz) // 2]
    assert max(bsz) <= 3 * med, (max(bsz), med)
    hot_buckets = {b for (d, b) in groups if d == "hot.example"}
    assert len(hot_buckets) >= 4
    # no single window group anywhere near the plain hot group's 1000
    assert max(groups.values()) <= 300


def test_politeness_schedule_bucketed_null_keys(spark):
    """Review fix: NULL domains/urls must not TypeError the driver-side
    boundary sort; NULL-keyed rows land in bucket 0 and rank within
    their NULL group, matching the plain window's NULL handling."""
    from pyspark.sql import functions as F

    from anomalydetector_spark.operators.robots import (
        politeness_schedule,
        politeness_schedule_bucketed,
    )

    rows = [(i, f"https://a.example/p{i:03d}", "a.example")
            for i in range(30)]
    rows += [(100, "https://x.example/only", None),
             (101, None, "a.example")]
    urls = spark.createDataFrame(
        rows, "id long, url string, domain string"
    )
    delays = spark.createDataFrame(
        [("a.example", 2.0)], "domain string, crawl_delay double"
    )
    plain = politeness_schedule(urls, delays, default_delay=1.0)
    buck = politeness_schedule_bucketed(
        urls, delays, default_delay=1.0, n_buckets=4, sample_mod=1
    )
    key = lambda r: (r.id, r.url, r.domain, r.effective_delay,
                     r.fetch_offset_s)
    assert {key(r) for r in plain.collect()} \
        == {key(r) for r in buck.collect()}


def test_politeness_boundaries_ignore_input_partitioning(spark):
    """The capped boundary sample keeps the smallest key hashes, so the
    same rows give the same boundaries under any partitioning — and the
    boundaries still span the domains rather than piling into the
    first ones."""
    from anomalydetector_spark.operators.robots import (
        _politeness_boundaries,
    )

    rows = [(f"https://d{i % 40}.example/p{i:05d}", f"d{i % 40}.example")
            for i in range(4000)]
    urls = spark.createDataFrame(rows, "url string, domain string")
    # sample_mod=2 samples ~2000 keys; the cap keeps 500 of them
    picks = [
        _politeness_boundaries(
            urls.repartition(n), "url", "domain", n_buckets=8,
            sample_mod=2, sample_cap=500,
        )
        for n in (1, 7)
    ]
    assert picks[0] == picks[1]
    assert len(picks[0]) == 7
    assert len({d for d, _ in picks[0]}) == 7
