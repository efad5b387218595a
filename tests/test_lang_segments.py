"""Paragraph-level language ID + mixed-document surgery
(operators/lang_segments — CCNet §3 paragraph granularity)."""

import random

import pyspark.sql.functions as F

from anomalydetector_spark.operators.lang_segments import (
    keep_majority_paragraphs,
    lang_segmentation,
)
from anomalydetector_spark.operators.text import LANG_MARKERS

ROWS = [
    (1, "the cat and the dog is here\nder hund und die katze ist da\n"
        "the end of it is near"),
    (2, "le chat et le chien est la"),
    (3, "xyzzy plugh\n\nfoo bar"),  # no markers anywhere
    (4, ""),
    (5, None),
    (6, "el que los es la\nthe of and to is\nel los que es el\nel la los"),
]


def pure_lang(paragraph):
    toks = paragraph.lower().split()
    hits = {
        lang: sum(t in markers for t in toks)
        for lang, markers in LANG_MARKERS.items()
    }
    best = max(sorted(hits.items()), key=lambda kv: (kv[1], kv[0]))
    return best[0] if best[1] > 0 else "und"


def _df(spark, rows=ROWS):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_paragraph_vote_matches_pure_python_fuzz(spark):
    vocab = sum((list(m) for m in LANG_MARKERS.values()), []) + [
        "qqq", "zzz", "foo"
    ]
    rng = random.Random(5)
    rows = [
        (i, "\n".join(
            " ".join(rng.choices(vocab, k=rng.randint(0, 8)))
            for _ in range(rng.randint(1, 4))
        ))
        for i in range(120)
    ]
    df = _df(spark, rows)
    got = {
        r.doc_id: (r.n_paragraphs, r.majority_lang, r.majority_tokens, r.voting_tokens)
        for r in lang_segmentation(df).collect()
    }
    kept = {r.doc_id: r.text for r in keep_majority_paragraphs(df).collect()}
    for did, text in rows:
        paras = text.split("\n")
        langs = [pure_lang(p) for p in paras]
        votes = {}
        for p, lang in zip(paras, langs):
            if lang != "und":
                votes[lang] = votes.get(lang, 0) + len(p.split())
        best = max(sorted(votes.items()), key=lambda kv: (kv[1], kv[0]), default=("und", 0))
        want = (len(paras), best[0], best[1], sum(votes.values()))
        assert got[did] == want, (did, text)
        # every paragraph's vote decides whether the surgery keeps it
        want_text = "\n".join(
            p for p, lang in zip(paras, langs) if lang in (best[0], "und")
        )
        assert kept[did] == want_text, (did, text)


def test_summary_share_and_mixed(spark):
    got = {r.doc_id: r for r in lang_segmentation(_df(spark)).collect()}
    r1 = got[1]
    assert (r1.majority_lang, r1.majority_tokens, r1.voting_tokens) == ("en", 13, 20)
    assert r1.dominant_share == 0.65 and r1.is_mixed
    assert got[2].dominant_share == 1.0 and not got[2].is_mixed
    assert got[3].majority_lang == "und" and got[3].dominant_share is None
    assert not got[3].is_mixed  # nothing voted: not evidence of mixing
    assert got[5].n_paragraphs == 0
    r6 = got[6]
    assert r6.majority_lang == "es" and r6.is_mixed
    assert r6.dominant_share == round(13 / 18, 6)


def test_surgery_byte_exact(spark):
    got = {r.doc_id: r for r in keep_majority_paragraphs(_df(spark)).collect()}
    assert got[1].text == "the cat and the dog is here\nthe end of it is near"
    assert (got[1].dropped_paragraphs, got[1].total_paragraphs) == (1, 3)
    assert got[2].text == ROWS[1][1]
    assert got[3].text == ROWS[2][1]  # und majority: unchanged
    assert got[4].text == ""
    assert got[5].text is None and got[5].total_paragraphs == 0
    assert got[6].text == "el que los es la\nel los que es el\nel la los"


def test_und_paragraphs_survive_surgery(spark):
    rows = [(1, "the of and is to\nqqq zzz\nthe and of is it")]
    got = keep_majority_paragraphs(_df(spark, rows)).collect()[0]
    assert got.text == rows[0][1]  # unknown-language middle kept
    assert got.dropped_paragraphs == 0


def test_literal_separator_with_regex_char(spark):
    rows = [(1, "the of and to is|der und die das ist")]
    got = keep_majority_paragraphs(_df(spark, rows), sep="|").collect()[0]
    assert got.text == "the of and to is"  # '|' split literally, not as regex
    assert got.total_paragraphs == 2


def test_summary_and_surgery_are_zero_shuffle(spark):
    df = _df(spark)
    for frame in (lang_segmentation(df), keep_majority_paragraphs(df)):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "EvalPython" not in plan


def test_arrow_twins_value_equal(spark):
    from anomalydetector_spark.operators.lang_segments import (
        keep_majority_paragraphs_arrow,
    )

    vocab = sum((list(m) for m in LANG_MARKERS.values()), []) + ["qq", "zz"]
    rng = random.Random(9)
    rows = ROWS + [
        (100 + i, "\n".join(
            " ".join(rng.choices(vocab, k=rng.randint(0, 9)))
            for _ in range(rng.randint(1, 5))
        ))
        for i in range(80)
    ]
    df = _df(spark, rows)
    hof_s = sorted(map(tuple, keep_majority_paragraphs(df).collect()), key=str)
    arr_s = sorted(
        map(tuple, keep_majority_paragraphs_arrow(df).collect()), key=str
    )
    assert hof_s == arr_s


def test_arrow_twin_literal_separator(spark):
    from anomalydetector_spark.operators.lang_segments import (
        keep_majority_paragraphs_arrow,
    )

    rows = [(1, "the of and to is|der und die das ist")]
    got = keep_majority_paragraphs_arrow(_df(spark, rows), sep="|").collect()[0]
    assert got.text == "the of and to is" and got.total_paragraphs == 2
