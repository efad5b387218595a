"""Line-level boilerplate removal (CCNet protocol) + PII redaction."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators.scrub import (
    PII_PATTERNS,
    boilerplate_line_set,
    doc_lines,
    drop_boilerplate_lines,
    redact_pii,
)


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        (1, "cookie banner\nreal content one\n\nmore text"),
        (2, "  cookie banner \nreal content two"),  # whitespace variant
        (3, "cookie banner"),  # pure boilerplate
        (4, None),  # null text
        (5, "self dup\nself dup\nunique"),  # within-doc repeat only
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).persist()


def test_boilerplate_set_counts_distinct_docs(pages):
    bp = {(r.line, r.n_docs) for r in boilerplate_line_set(pages, min_docs=2).collect()}
    # 'cookie banner' appears (modulo whitespace) in docs 1, 2, 3;
    # 'self dup' repeats only within doc 5 -> NOT boilerplate
    assert bp == {("cookie banner", 3)}


def test_drop_boilerplate_semantics(pages):
    out = {r.doc_id: r.text for r in drop_boilerplate_lines(pages, min_docs=2).collect()}
    assert out == {
        1: "real content one\n\nmore text",  # blank line preserved
        2: "real content two",
        5: "self dup\nself dup\nunique",  # within-doc repeats kept
        # doc 3 (pure boilerplate) and doc 4 (null text) drop entirely
    }


def test_doc_lines_positions(pages):
    got = sorted(
        (r.pos, r.line)
        for r in doc_lines(pages).filter(F.col("doc_id") == 1).collect()
    )
    assert got == [(0, "cookie banner"), (1, "real content one"), (2, ""), (3, "more text")]


def test_min_docs_threshold(pages):
    # raising the threshold above the banner's doc count keeps everything
    assert boilerplate_line_set(pages, min_docs=4).count() == 0
    out = {r.doc_id: r.text for r in drop_boilerplate_lines(pages, min_docs=4).collect()}
    assert out[3] == "cookie banner"


def test_redact_pii_all_kinds(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, "mail bob.x@ex-a.org end 10.1.2.3 tel +44 (020) 1234-5678 ok"),
             (2, "clean text, no pii at all"),
             (3, None)],
            columns=["doc_id", "text"],
        )
    )
    out = {r.doc_id: r.text for r in redact_pii(df).collect()}
    assert out[1] == "mail <EMAIL> end <IP> tel <PHONE> ok"
    assert out[2] == "clean text, no pii at all"
    assert out[3] is None


def test_redact_pii_out_col_keeps_original(spark):
    df = spark.createDataFrame(
        pd.DataFrame([(1, "a@b.co")], columns=["doc_id", "text"])
    )
    row = redact_pii(df, out_col="clean").first()
    assert row.text == "a@b.co" and row.clean == "<EMAIL>"


def test_pii_plans_have_no_shuffle_or_python(spark):
    """Redaction is a pure codegen projection."""
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        pd.DataFrame([(1, "x")], columns=["doc_id", "text"])
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        redact_pii(df).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_kind_subset_and_order_independence(spark):
    df = spark.createDataFrame(
        pd.DataFrame([(1, "a@b.co 10.1.2.3")], columns=["doc_id", "text"])
    )
    only_ip = redact_pii(df, kinds=("ipv4",)).first().text
    assert only_ip == "a@b.co <IP>"
    # kinds order does not change the applied order (PII_PATTERNS order)
    a = redact_pii(df, kinds=("phone", "ipv4", "email")).first().text
    b = redact_pii(df, kinds=("email", "ipv4", "phone")).first().text
    assert a == b == "<EMAIL> <IP>"
    assert set(PII_PATTERNS) == {"email", "ipv4", "phone"}


def test_scrub_matches_pandas_recomputation_on_random_docs(spark):
    """60 seeded random multi-line docs (shared banner pool + unique
    lines, blank lines, whitespace variants): the Spark scrub equals a
    pure-Python recomputation of the CCNet rule."""
    import random

    rng = random.Random(20260817)
    banners = [f"banner {i} text" for i in range(6)]
    rows = []
    for d in range(60):
        lines = []
        for _ in range(rng.randint(1, 12)):
            r = rng.random()
            if r < 0.35:
                b = rng.choice(banners)
                # whitespace variant half the time
                lines.append(f"  {b} " if rng.random() < 0.5 else b)
            elif r < 0.45:
                lines.append("")  # blank
            else:
                lines.append(f"unique {d} {rng.randint(0, 10**9)}")
        rows.append((d, "\n".join(lines)))

    # pure-Python ground truth
    from collections import defaultdict

    doc_sets = defaultdict(set)
    for d, text in rows:
        for ln in text.split("\n"):
            if ln.strip():
                doc_sets[ln.strip()].add(d)
    bp = {ln for ln, ds in doc_sets.items() if len(ds) >= 3}
    expect = {}
    for d, text in rows:
        kept = [ln for ln in text.split("\n") if ln.strip() not in bp or not ln.strip()]
        if kept:
            expect[d] = "\n".join(kept)

    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r.doc_id: r.text for r in drop_boilerplate_lines(df, min_docs=3).collect()}
    assert got == expect
    # and the dictionary matches the ground-truth banner set
    got_bp = {r.line for r in boilerplate_line_set(df, min_docs=3).collect()}
    assert got_bp == bp


def test_literal_separator_not_regex(spark):
    """sep is a LITERAL separator: '.' or '|' must not fall through to
    Java-regex semantics (character-level splits)."""
    import pandas as pd

    from anomalydetector_spark.operators.scrub import (
        doc_lines,
        drop_boilerplate_lines,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["alpha.beta.BANNER", "x.BANNER.z"]}
        )
    )
    lines = doc_lines(df, sep=".").collect()
    got = {(r.doc_id, r.pos): r.line for r in lines}
    assert got[(1, 0)] == "alpha" and got[(1, 2)] == "BANNER"
    assert len([r for r in lines if r.doc_id == 1]) == 3

    out = {r.doc_id: r.text for r in
           drop_boilerplate_lines(df, min_docs=2, sep=".").collect()}
    assert out == {1: "alpha.beta", 2: "x.z"}

    # '|' (regex alternation — the classic every-char split)
    df2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a|bb|ccc"]})
    )
    assert [r.line for r in doc_lines(df2, sep="|").orderBy("pos").collect()] \
        == ["a", "bb", "ccc"]


def test_luhn_card_redaction(spark):
    """Luhn-gated card redaction: known-valid test numbers (Visa 16,
    AmEx 15 with dashes) redact; checksum-off-by-one, too-short,
    too-long, and embedded-in-longer-run candidates survive; the fold
    replaces ALL valid matches and counts them."""
    from anomalydetector_spark.operators.scrub import (
        luhn_valid,
        redact_card_numbers,
    )

    rows = [
        (1, "pay 4539148803436467 now"),                   # valid visa
        (2, "pay 4539148803436468 now"),                   # bad checksum
        (3, "amex 3782-822463-10005 ok"),                  # valid amex
        (4, "two 4539148803436467 and 5555 5555 5555 4444 cards"),
        (5, "ts 20250101120000123456 x"),                  # 20 digits
        (6, "short 123456789012 run"),                     # 12 digits
        (7, None),
        # the valid card ALSO occurs as a substring of a 22-digit
        # non-candidate run: only the standalone span may be rewritten
        (8, "ref 9945391488034364670011 card 4539148803436467 end"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.n_cards, r.text)
           for r in redact_card_numbers(df).collect()}
    assert got[1] == (1, "pay <CARD> now")
    assert got[2] == (0, "pay 4539148803436468 now")
    assert got[3] == (1, "amex <CARD> ok")
    assert got[4] == (2, "two <CARD> and <CARD> cards")
    assert got[5][0] == 0 and got[6][0] == 0
    assert got[7][1] is None
    assert got[8] == (
        1, "ref 9945391488034364670011 card <CARD> end"
    )

    # luhn_valid against python mirror on random digit strings
    import random
    rnd = random.Random(3)
    cases = ["".join(rnd.choice("0123456789") for _ in range(rnd.randint(1, 19)))
             for _ in range(60)] + ["", "0", "00", "059"]

    def mirror(d):
        if not d:
            return False
        tot = 0
        for r, ch in enumerate(reversed(d), 1):
            x = int(ch)
            if r % 2 == 0:
                x = x * 2
                if x > 9:
                    x -= 9
            tot += x
        return tot % 10 == 0

    vdf = spark.createDataFrame([(c,) for c in cases], "d string")
    got_v = [r.v for r in vdf.select(
        luhn_valid(F.col("d")).alias("v")).collect()]
    assert got_v == [mirror(c) for c in cases]

    # NULL in -> NULL out (not false)
    ndf = spark.createDataFrame([(None,)], "d string")
    assert ndf.select(
        luhn_valid(F.col("d")).alias("v")).collect()[0].v is None
