"""Unigram LM quality scoring (operators/lm_quality)."""

import math

import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators.lm_quality import (
    score_documents,
    train_unigram_lm,
)

ALPHA = 0.5


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _gate(docs, ref, max_pseudo_perplexity):
    lm, oov = train_unigram_lm(ref)
    return score_documents(
        docs, lm, oov, max_pseudo_perplexity=max_pseudo_perplexity
    )


def _py_model(texts, min_count=1, alpha=ALPHA):
    """Plain-Python twin of train_unigram_lm (micro-nat quantized)."""
    counts = {}
    for t in texts:
        for tok in t.lower().split():
            counts[tok] = counts.get(tok, 0) + 1
    kept = {k: v for k, v in counts.items() if v >= min_count}
    t_tot = sum(kept.values())
    v = len(kept)
    denom = float(t_tot) + alpha * (float(v) + 1.0)
    lm = {k: round(math.log((c + alpha) / denom) * 1e6) for k, c in kept.items()}
    oov = round(math.log(alpha / denom) * 1e6)
    return lm, oov


def _py_score(texts_by_id, lm, oov):
    out = {}
    for did, t in texts_by_id.items():
        toks = t.lower().split()
        toks = [x for x in toks if x]
        if not toks:
            out[did] = (0, 0, None, None)
            continue
        lps = [lm.get(x, oov) for x in toks]
        n_oov = sum(1 for x in toks if x not in lm)
        mean = -sum(lps) / 1e6 / len(toks)
        n = len(toks)
        # exact HALF_UP integer ratio, the operator's 6dp scheme
        ce = ((-sum(lps)) * 2 + n) // (2 * n) / 1e6
        out[did] = (len(toks), n_oov, ce, round(math.exp(mean), 3))
    return out


def test_model_matches_python_twin(spark):
    ref = _docs(spark, [(1, "the cat sat"), (2, "the dog SAT the mat")])
    lm, oov = train_unigram_lm(ref)
    got = {r.token: (r.cnt, r.logprob_micro) for r in lm.collect()}
    py_lm, py_oov = _py_model(["the cat sat", "the dog sat the mat"])
    assert {k: v[1] for k, v in got.items()} == py_lm
    assert got["the"][0] == 3
    o = oov.collect()[0]
    assert o.oov_logprob_micro == py_oov
    assert (o.t_tokens, o.v_vocab) == (8, 5)


def test_probabilities_sum_to_one(spark):
    ref = _docs(spark, [(1, "a a a b b c d e f g")])
    lm, oov = train_unigram_lm(ref)
    lps = [r.logprob_micro for r in lm.collect()]
    o = oov.collect()[0].oov_logprob_micro
    total = sum(math.exp(x / 1e6) for x in lps) + math.exp(o / 1e6)
    assert total == pytest.approx(1.0, abs=1e-4)


def test_min_count_prunes_to_oov(spark):
    ref = _docs(spark, [(1, "a a a b")])
    lm, oov = train_unigram_lm(ref, min_count=2)
    toks = {r.token for r in lm.collect()}
    assert toks == {"a"}
    o = oov.collect()[0]
    # totals are over the KEPT vocabulary only
    assert (o.t_tokens, o.v_vocab) == (3, 1)


def test_scores_match_python_twin(spark):
    ref_texts = ["the cat sat on the mat", "a dog sat", "the end of the story"]
    ref = _docs(spark, list(enumerate(ref_texts)))
    eval_texts = {
        10: "the cat sat",
        11: "zyxxy unknown tokens here",
        12: "the the the",
        13: "",
    }
    docs = _docs(spark, list(eval_texts.items()))
    lm, oov = train_unigram_lm(ref)
    got = {
        r.doc_id: (r.n_tokens, r.oov_tokens, r.cross_entropy, r.pseudo_perplexity)
        for r in score_documents(docs, lm, oov).collect()
    }
    py_lm, py_oov = _py_model(ref_texts)
    want = _py_score(eval_texts, py_lm, py_oov)
    assert got == want


def test_empty_doc_emitted_and_rejected(spark):
    ref = _docs(spark, [(1, "x y z")])
    docs = _docs(spark, [(2, ""), (3, "x y")])
    out = _gate(docs, ref, max_pseudo_perplexity=1e9)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[2].n_tokens == 0
    assert rows[2].cross_entropy is None
    assert rows[2].keep is False
    assert rows[3].keep is True


def test_in_domain_beats_oov_text(spark):
    ref = _docs(spark, [(i, "the quick brown fox jumps") for i in range(5)])
    docs = _docs(spark, [(1, "the quick brown fox"), (2, "zz qq ww vv")])
    lm, oov = train_unigram_lm(ref)
    rows = {r.doc_id: r for r in score_documents(docs, lm, oov).collect()}
    assert rows[1].pseudo_perplexity < rows[2].pseudo_perplexity
    assert rows[2].oov_rate == 1.0
    assert rows[1].oov_rate == 0.0


def test_partition_invariance(spark):
    """Micro-nat integer sums make the scores independent of the
    physical partitioning (the hash-exactness claim)."""
    ref_rows = [(i, f"tok{i % 7} tok{i % 3} common word") for i in range(200)]
    doc_rows = [(i, f"common tok{i % 5} word extra{i % 11}") for i in range(300)]
    ref, docs = _docs(spark, ref_rows), _docs(spark, doc_rows)
    lm1, oov1 = train_unigram_lm(ref.repartition(1))
    lm8, oov8 = train_unigram_lm(ref.repartition(8))
    a = score_documents(docs.repartition(1), lm1, oov1).orderBy("doc_id").collect()
    b = score_documents(docs.repartition(8), lm8, oov8).orderBy("doc_id").collect()
    assert a == b


def test_keep_gate_on_rounded_value(spark):
    ref = _docs(spark, [(1, "a b c d")])
    docs = _docs(spark, [(2, "a b"), (3, "nope nada")])
    out = _gate(docs, ref, max_pseudo_perplexity=8.0)
    rows = {r.doc_id: (r.pseudo_perplexity, r.keep) for r in out.collect()}
    for ppl, keep in rows.values():
        assert keep == (ppl is not None and ppl <= 8.0)


def test_scoring_plan_is_broadcast_join(spark):
    """The model join must be a broadcast hash join (token keys are
    maximally skewed; a shuffle join is the wrong plan at any scale)."""
    ref = _docs(spark, [(1, "a b c")])
    docs = _docs(spark, [(2, "a b")])
    lm, oov = train_unigram_lm(ref)
    plan = score_documents(docs, lm, oov)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # single scan → broadcast join → agg: no shuffle join anywhere
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ---------------------------------------------------------------- buckets


def buckets_py(rows, k=3, labels=("head", "middle", "tail")):
    """Value-granular type-1 quantile bucketing, the operator's
    documented semantics: cut_i = min{v : k*cum(v) >= i*N}."""
    from collections import Counter, defaultdict

    by_grp = defaultdict(list)
    for _, grp, ppl in rows:
        if ppl is not None:
            by_grp[grp].append(ppl)
    cuts = {}
    for grp, vals in by_grp.items():
        n = len(vals)
        cnt = sorted(Counter(vals).items())
        cum, cs = 0, []
        for v, c in cnt:
            cum += c
            cs.append((v, cum))
        cuts[grp] = [
            min(v for v, c in cs if k * c >= i * n) for i in range(1, k)
        ]
    out = {}
    for did, grp, ppl in rows:
        if ppl is None or grp not in cuts:
            out[did] = None
        else:
            out[did] = labels[sum(ppl > c for c in cuts[grp])]
    return out


def _run_buckets(spark, rows):
    from anomalydetector_spark.operators.lm_quality import (
        perplexity_buckets,
    )

    df = spark.createDataFrame(
        rows, "doc_id bigint, lang string, pseudo_perplexity double"
    )
    return {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(df, by=("lang",)).collect()
    }


def test_buckets_exact_thirds(spark):
    rows = [(i, "en", float(10 + i)) for i in range(9)]
    got = _run_buckets(spark, rows)
    assert [got[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )


def test_buckets_ties_never_split(spark):
    # five docs share the boundary value: all land in the SAME bucket
    rows = [(i, "en", 1.0) for i in range(2)]
    rows += [(10 + i, "en", 2.0) for i in range(5)]
    rows += [(20 + i, "en", 3.0) for i in range(2)]
    got = _run_buckets(spark, rows)
    assert got == buckets_py(rows)
    assert len({got[10 + i] for i in range(5)}) == 1


def test_buckets_per_group_independent_and_null_safe(spark):
    import random

    rng = random.Random(3)
    rows = []
    for i in range(60):
        lang = ("en", "de", "fr")[i % 3]
        ppl = round(rng.uniform(5, 50), 3) if i % 7 else None
        rows.append((i, lang, ppl))
    got = _run_buckets(spark, rows)
    want = buckets_py(rows)
    assert got == want
    # every non-null group splits ~evenly
    from collections import Counter

    c = Counter(v for v in got.values() if v)
    assert max(c.values()) - min(c.values()) <= 6


def test_buckets_quantile_pass_runs_on_counts_cube(spark):
    """The window sort must run over the (lang, ppl) cube aggregate,
    never the raw docs — no Window/Sort node may sit directly on the
    doc scan side of the plan's assignment join."""
    from anomalydetector_spark.operators.lm_quality import (
        perplexity_buckets,
    )

    df = spark.createDataFrame(
        [(i, "en", float(i)) for i in range(30)],
        "doc_id bigint, lang string, pseudo_perplexity double",
    )
    plan = (
        perplexity_buckets(df, by=("lang",))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    w = plan.index("Window")
    # an Aggregate (the counts cube) must sit BELOW the window operator
    assert "Aggregate" in plan[w:], plan
