"""C4 cleaning rules (operators/c4 — Raffel et al. 2020 §2.2): line
surgery, page gates, and the corpus keep-first three-span dedup."""

import random

import pyspark.sql.functions as F

from anomalydetector_spark.operators.c4 import (
    c4_page_flags,
    c4_span_dedup,
)

PAGES = [
    (1, "Good first sentence here.\nshort.\nno terminal punct at all\n"
        "Another fine long sentence!\nIs this a question?\n"
        'He said "stop".\nEnable javascript to view this.\n'
        "Final good sentence here."),
    (2, "Only two good sentences here.\nAnd the second one right here."),
    (3, "Lorem Ipsum dolor sit amet today.\nA perfectly fine sentence one.\n"
        "A perfectly fine sentence two.\nA perfectly fine sentence three.\n"
        "A perfectly fine sentence four.\nA perfectly fine sentence five."),
    (4, "function f() { return 1; }\nA perfectly fine sentence one.\n"
        "A perfectly fine sentence two.\nA perfectly fine sentence three.\n"
        "A perfectly fine sentence four.\nA perfectly fine sentence five."),
    (5, None),
    (6, "One bad word zorblax here today.\nA perfectly fine sentence one.\n"
        "A perfectly fine sentence two.\nA perfectly fine sentence three.\n"
        "A perfectly fine sentence four.\nA perfectly fine sentence five."),
]


def clean_py(text, min_line_words=3, terminal=('.', '!', '?', '"'),
             min_sentences=5, badwords=()):
    import re as _re

    text = text or ""
    kept = []
    for raw in text.split("\n"):
        t = raw.strip()
        if (t.endswith(terminal) and len(t.split()) >= min_line_words
                and "javascript" not in t.lower()):
            kept.append(t)
    low = text.lower()
    flags = dict(
        ok_min_sentences=len(kept) >= min_sentences,
        ok_no_lorem="lorem ipsum" not in low,
        ok_no_brace="{" not in text,
        ok_no_badwords=not any(
            _re.search(r"\b" + _re.escape(b.lower()) + r"\b", low)
            for b in badwords
        ),
    )
    return "\n".join(kept), len(kept), flags, all(flags.values())


def test_page_flags_match_pure_python(spark):
    df = spark.createDataFrame(PAGES, "doc_id bigint, text string")
    got = {
        r.doc_id: r.asDict()
        for r in c4_page_flags(df, badwords=("zorblax",)).collect()
    }
    for did, text in PAGES:
        ct, n, flags, keep = clean_py(text, badwords=("zorblax",))
        g = got[did]
        assert g["clean_text"] == ct, did
        assert g["n_sentences"] == n
        for k, v in flags.items():
            assert g[k] == v, (did, k)
        assert g["keep"] == keep


def test_clean_keeps_passing_pages_with_rewritten_text(spark):
    df = spark.createDataFrame(PAGES, "doc_id bigint, text string")
    got = {
        r.doc_id: r.clean_text
        for r in c4_page_flags(df, badwords=("zorblax",))
        .filter("keep")
        .collect()
    }
    # 2: <5 sentences, 3: lorem, 4: brace, 5: empty, 6: badword
    assert set(got) == {1}
    assert got[1] == clean_py(PAGES[0][1])[0]
    assert "javascript" not in got[1].lower()
    assert "no terminal punct" not in got[1]


def test_badwords_match_boundaries_and_phrases(spark):
    filler = "\n".join(f"A perfectly fine sentence {i}." for i in range(5))
    rows = [
        (1, "It ends with Zorblax.\n" + filler),     # punctuation-glued
        (2, "has the foo bar phrase here.\n" + filler),  # multi-word
        (3, "but zorblaxia is no hit.\n" + filler),  # substring != word
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: r.ok_no_badwords
        for r in c4_page_flags(
            df, badwords=("zorblax", "foo bar")
        ).collect()
    }
    assert got == {1: False, 2: False, 3: True}
    for did, text in rows:
        assert got[did] == clean_py(
            text, badwords=("zorblax", "foo bar")
        )[2]["ok_no_badwords"]


def span_dedup_py(rows, span=3):
    """Keep-first span dedup, the operator's documented semantics."""
    occ = {}  # hash -> [(doc, start)]
    lines = {}
    for did, text in rows:
        ls = (text or "").split("\n")
        lines[did] = ls
        for s in range(len(ls) - span + 1):
            occ.setdefault("\n".join(ls[s:s + span]), []).append((did, s))
    rm = {did: set() for did, _ in rows}
    for key, os_ in occ.items():
        if len(os_) < 2:
            continue
        first = min(os_)
        for d, s in os_:
            if (d, s) != first:
                rm[d].update(range(s, s + span))
    out = {}
    for did, _ in rows:
        ls = lines[did]
        out[did] = ("\n".join(l for i, l in enumerate(ls)
                              if i not in rm[did]),
                    len(ls), len(rm[did]))
    return out


def _dedup_spark(spark, rows, span=3):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return {
        r.doc_id: (r.text, r.n_lines, r.n_removed)
        for r in c4_span_dedup(df, span=span).collect()
    }


def test_span_dedup_keeps_first_occurrence(spark):
    block = "aaa x.\nbbb y.\nccc z."
    rows = [
        (1, "u one.\n" + block + "\nu two."),
        (2, block + "\nv one.\nv two."),
        (3, "w one.\nw two.\nw three."),
    ]
    got = _dedup_spark(spark, rows)
    assert got == span_dedup_py(rows)
    assert got[1][0] == rows[0][1]          # keeper untouched
    assert got[2][0] == "v one.\nv two."    # duplicate block removed
    assert got[2][2] == 3
    assert got[3] == (rows[2][1], 3, 0)     # unique doc untouched


def test_span_dedup_within_doc_repeat(spark):
    block = "p q.\nr s.\nt u."
    rows = [(7, block + "\nmid line.\n" + block)]
    got = _dedup_spark(spark, rows)
    assert got == span_dedup_py(rows)
    assert got[7][0] == block + "\nmid line."


def test_span_dedup_fuzz(spark):
    rng = random.Random(29)
    sents = [f"s{i} word tail." for i in range(12)]
    rows = [
        (i, "\n".join(rng.choices(sents, k=rng.randint(0, 9))))
        for i in range(30)
    ] + [(100, ""), (101, None)]
    got = _dedup_spark(spark, rows)
    want = span_dedup_py([(d, t or "") for d, t in rows])
    assert got == want


def test_span_dedup_overlapping_duplicates(spark):
    # doc 2 repeats a 4-line run of doc 1 -> two overlapping dup spans;
    # union of their lines is removed exactly once
    run = "l1 a.\nl2 b.\nl3 c.\nl4 d."
    rows = [(1, run + "\ntail one."), (2, "head two.\n" + run)]
    got = _dedup_spark(spark, rows)
    assert got == span_dedup_py(rows)
    assert got[2][0] == "head two."
    assert got[2][2] == 4


def test_flags_projection_has_no_shuffle(spark):
    df = spark.createDataFrame(PAGES, "doc_id bigint, text string")
    plan = (
        c4_page_flags(df, badwords=("x",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_span_dedup_shuffles_key_on_ids_not_text(spark):
    df = spark.createDataFrame(PAGES, "doc_id bigint, text string")
    plan = (
        c4_span_dedup(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # every shuffle in the dedup is keyed by span_hash / doc_id — never
    # by (or carrying a partitioning expression over) the text column
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert exchanges, "expected hash shuffles in the span-dedup plan"
    for l in exchanges:
        assert "text#" not in l, l
        assert "span_hash" in l or "doc_id" in l, l

    from anomalydetector_spark.operators.c4 import span_occurrences
    occ_plan = (
        span_occurrences(df)._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    # the occurrence frame projects only (doc_id, start, span_hash) —
    # the text never leaves its scan before the hash aggregation
    first_line = occ_plan.splitlines()[0]
    assert "span_hash" in first_line and "text" not in first_line
