"""Unigram language-model quality scoring (pseudo-perplexity filter).

CCNet-style corpus filtering scores every document with a language model
trained on a trusted reference corpus and drops the high-perplexity tail
(Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets from
Web Crawl Data", LREC 2020 — public method). A KenLM 5-gram is out of
scope for this container; the distributed reformulation here is a
Laplace-smoothed UNIGRAM model, which preserves the exact pipeline shape
(train on trusted slice → broadcast model → score everything →
threshold) and — unlike an n-gram LM — is fully SQL-expressible, so the
entire path is oracle-verifiable value-for-value.

Scale notes (10^12 docs):

* Training is one explode → hash ``groupBy(token)``. Map-side partial
  aggregation collapses each task's token stream to its local
  vocabulary (Zipf: ~10^5-10^6 distinct tokens per task regardless of
  row count), so the single shuffle moves vocabulary-sized partials,
  not the 10^14-token stream — the same shape as
  :func:`~anomalydetector_spark.operators.frequency.vocab_top_k`.
* ``min_count`` pruning keeps the model broadcastable: the Zipf tail is
  hapax-dominated (dropping ``cnt < 2`` roughly halves the vocabulary),
  and pruned mass is absorbed by the OOV bucket.
* Scoring joins the exploded token stream against the model with a
  BROADCAST hash join — never a shuffle join: token keys are maximally
  skewed (stopwords are the hottest keys imaginable; a shuffle join
  would put every occurrence of "the" on one task). The following
  ``groupBy(doc_id)`` partial-aggregates in-task (a document's tokens
  never span tasks after the explode), so the only shuffle moves
  doc-count-sized partials.
* Hash-exactness: per-token log-probabilities are quantized to integer
  **micro-nats** (``round(ln(p) * 1e6)`` as BIGINT) *before*
  aggregation, so every sum is an exact integer — independent of
  partition count and aggregation order, and bit-identical to a
  single-threaded DuckDB oracle. The only post-aggregation float ops
  are one exact-integer division (identical on both sides) and the
  final ``exp``, whose libm last-ulp risk is absorbed by rounding the
  perplexity to 3dp.

Reference scope: the reference repo (msanomalydetector) has no corpus-LM
stage; this operator belongs to the beyond-reference training-data
pipeline family (dedup/decontam/quality/sampling) mandated for the
100 TB target.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anomalydetector_spark.functions import tokens

#: Laplace pseudo-count: p(tok) = (cnt + ALPHA) / (T + ALPHA * (V + 1)).
DEFAULT_ALPHA = 0.5


def _micro_nats(logprob_col):
    """Quantize a natural-log probability to integer micro-nats.

    HALF_UP on a value whose fraction is never an exact binary .5 (it
    comes out of ``ln``), so Spark's BigDecimal rounding and DuckDB's
    ``round()`` agree."""
    return F.round(logprob_col * F.lit(1e6), 0).cast("long")


def _half_up_div(num, den):
    """Exact HALF_UP integer division ``round(num / den)`` for
    nonnegative integer columns: ``floor((2·num + den) / (2·den))``.

    Used for the 6dp-reported ratios (cross-entropy, OOV/backoff rate):
    ``F.round`` on the double chain sits one ulp from a decimal
    boundary on some inputs and Spark (shortest-repr BigDecimal) and
    DuckDB (libm scaling) can disagree there — observed once at
    sf0.001. Integer arithmetic has no boundary. The inner ``/`` is
    IEEE double division of exact integers (≤ 5e15, exactly
    representable); floor can only err if the true rational is within
    one ulp of an integer, and the nearest it can get is 1/(2·den) ≥
    5e-12·den⁻¹-scaled — orders of magnitude above ulp for every
    operand range here."""
    return F.floor(
        (num * F.lit(2) + den) / (den * F.lit(2))
    ).cast("long")


def _entropy_outputs(sum_lp_micro, n_tokens):
    """``(cross_entropy, pseudo_perplexity)`` columns from the exact
    micro-nat sum and token count — the SINGLE source of the reported
    6dp/3dp scheme for every LM scorer in this module (unigram and
    bigram): ce = exact HALF_UP integer ratio / 1e6; ppl = exp of the
    unrounded mean at 3dp."""
    mean_nats = (
        -sum_lp_micro.cast("double") / F.lit(1e6) / n_tokens
    )
    ce6 = _half_up_div(-sum_lp_micro, n_tokens) / F.lit(1e6)
    return ce6, F.round(F.exp(mean_nats), 3)


def _rate6(num, den):
    """Exact 6dp ratio of two nonnegative integer columns."""
    return _half_up_div(num * F.lit(1_000_000), den) / F.lit(1e6)


def train_unigram_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
    min_count: int = 1,
    alpha: float = DEFAULT_ALPHA,
) -> Tuple[DataFrame, DataFrame]:
    """Train a smoothed unigram LM on a reference corpus.

    Returns ``(lm, oov)``:

    * ``lm`` — one row per kept token: ``(token, cnt, logprob_micro)``
      where ``logprob_micro = round(ln((cnt + alpha) / (T + alpha *
      (V + 1))) * 1e6)`` (BIGINT micro-nats), ``T`` the total kept-token
      occurrences and ``V`` the kept vocabulary size.
    * ``oov`` — exactly one row ``(t_tokens, v_vocab,
      oov_logprob_micro)`` with the shared out-of-vocabulary bucket
      ``ln(alpha / (T + alpha * (V + 1)))`` in the same units.

    Tokens with ``cnt < min_count`` are pruned *before* totals are
    taken, so the kept model is a proper distribution over V tokens +
    one OOV bucket. Both frames are lazy; neither triggers an action.
    The totals ride a broadcast 1-row cross join (the same
    broadcast-literal pattern as the threshold sweep)."""
    col = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    counts = (
        ref_docs.select(F.explode(tokens(col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    totals = counts.agg(
        F.sum("cnt").alias("t_tokens"), F.count(F.lit(1)).alias("v_vocab")
    )
    # denom is built in one fixed association order — mirrored verbatim
    # by the oracle SQL so both sides compute the identical double.
    denom = F.col("t_tokens").cast("double") + F.lit(alpha) * (
        F.col("v_vocab").cast("double") + F.lit(1.0)
    )
    lm = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        "cnt",
        _micro_nats(
            F.log((F.col("cnt").cast("double") + F.lit(alpha)) / denom)
        ).alias("logprob_micro"),
    )
    oov = totals.select(
        "t_tokens",
        "v_vocab",
        _micro_nats(F.log(F.lit(alpha) / denom)).alias("oov_logprob_micro"),
    )
    return lm, oov


def score_documents(
    docs: DataFrame,
    lm: DataFrame,
    oov: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    max_pseudo_perplexity: Optional[float] = None,
) -> DataFrame:
    """Per-document pseudo-perplexity under a trained unigram LM.

    Emits every input document (token-less documents included, with
    NULL entropy and ``keep = false`` — a quality gate must decide on
    every row): ``(id_col, n_tokens, oov_tokens, oov_rate,
    cross_entropy, pseudo_perplexity[, keep])``.

    * ``cross_entropy`` — mean negative log-probability in nats at 6dp:
      the HALF_UP micro-nat integer ratio (``_half_up_div``) divided by
      1e6 — deterministic to the bit in BOTH engines (no double-chain
      rounding boundary).
    * ``pseudo_perplexity`` — ``exp(cross_entropy_unrounded)``, rounded
      to 3dp (the one libm-exposed value, see module docstring).
    * ``keep`` (only when ``max_pseudo_perplexity`` is given) —
      ``pseudo_perplexity <= max_pseudo_perplexity``, compared on the
      rounded value so the gate is as deterministic as the hash.

    Token-less documents survive via ``explode_outer`` (one NULL-token
    row instead of being dropped), so the whole operator is a single
    scan → broadcast join → hash aggregate; there is no completion join
    against the id list (which would be a 10^12 × 10^12 sort-merge
    join at target scale)."""
    col = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    tok = docs.select(
        F.col(id_col), F.explode_outer(tokens(col)).alias("token")
    )
    per_doc = (
        tok.join(F.broadcast(lm.select("token", "logprob_micro")), "token", "left")
        .crossJoin(F.broadcast(oov.select("oov_logprob_micro")))
        .select(
            id_col,
            "token",
            # NULL token = the doc's explode_outer placeholder, not OOV
            F.when(F.col("token").isNull(), F.lit(0))
            .otherwise(F.coalesce("logprob_micro", "oov_logprob_micro"))
            .alias("lp"),
            (F.col("token").isNotNull() & F.col("logprob_micro").isNull())
            .cast("int")
            .alias("is_oov"),
        )
        .groupBy(id_col)
        .agg(
            F.count("token").alias("n_tokens"),
            F.sum("lp").alias("sum_lp_micro"),
            F.sum("is_oov").cast("long").alias("oov_tokens"),
        )
    )
    nonempty = F.col("n_tokens") > 0
    ce6, ppl3 = _entropy_outputs(F.col("sum_lp_micro"), F.col("n_tokens"))
    out = per_doc.select(
        id_col,
        "n_tokens",
        "oov_tokens",
        F.when(
            nonempty, _rate6(F.col("oov_tokens"), F.col("n_tokens"))
        ).alias("oov_rate"),
        F.when(nonempty, ce6).alias("cross_entropy"),
        F.when(nonempty, ppl3).alias("pseudo_perplexity"),
    )
    if max_pseudo_perplexity is not None:
        out = out.withColumn(
            "keep",
            F.coalesce(
                F.col("pseudo_perplexity") <= F.lit(max_pseudo_perplexity),
                F.lit(False),
            ),
        )
    return out


def train_bigram_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
    min_count: int = 1,
    min_bigram_count: int = 2,
    alpha: float = DEFAULT_ALPHA,
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """Bigram LM with stupid backoff (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the web-scale standard:
    relative frequencies for seen n-grams, a fixed multiplicative
    penalty λ = 0.4 on backoff, no normalization pass).

    Returns ``(bigrams, lm, oov)``:

    * ``bigrams`` — one row per KEPT bigram (corpus count ≥
      ``min_bigram_count``): ``(prev, cur, cnt, logprob_micro)`` where
      ``logprob_micro = round(ln(cnt / ctx_total(prev)) * 1e6)`` and
      ``ctx_total(prev)`` counts ALL bigram occurrences with that left
      token (computed before pruning — the score of a kept bigram does
      not depend on which of its siblings were pruned);
    * ``(lm, oov)`` — the unigram backoff model from
      :func:`train_unigram_lm` (same ``min_count``/``alpha``).

    Scale shape: the bigram pass is one in-row pair construction
    (``zip_with`` of the token array against its own tail — pairs never
    exist as strings, the explode emits (prev, cur) columns) → hash
    groupBy with map-side partial combine; the shuffle moves
    bigram-vocabulary-sized partials. ``min_bigram_count`` pruning
    keeps the table broadcastable (the bigram Zipf tail is even more
    hapax-dominated than the unigram one); pruned pairs back off."""
    col = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = tokens(col)
    pairs = ref_docs.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("p")
    ).select("p.prev", "p.cur")
    pair_counts = pairs.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ctx_totals = pair_counts.groupBy("prev").agg(
        F.sum("cnt").alias("ctx_total")
    )
    kept = pair_counts.filter(F.col("cnt") >= min_bigram_count)
    bigrams = kept.join(F.broadcast(ctx_totals), "prev").select(
        "prev",
        "cur",
        "cnt",
        _micro_nats(
            F.log(
                F.col("cnt").cast("double")
                / F.col("ctx_total").cast("double")
            )
        ).alias("logprob_micro"),
    )
    lm, oov = train_unigram_lm(
        ref_docs,
        text_col=text_col,
        lowercase=lowercase,
        min_count=min_count,
        alpha=alpha,
    )
    return bigrams, lm, oov


#: stupid-backoff multiplicative penalty ln(0.4) in micro-nats —
#: HALF_UP like every other micro-nat in this module.
BACKOFF_PENALTY_MICRO = -916291


def score_documents_bigram(
    docs: DataFrame,
    bigrams: DataFrame,
    lm: DataFrame,
    oov: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    max_pseudo_perplexity: Optional[float] = None,
) -> DataFrame:
    """Per-document pseudo-perplexity under the bigram model.

    Per position: the FIRST token scores by the unigram model (no
    context); position i ≥ 2 scores ``ln(cnt/ctx_total)`` when the
    (prev, cur) bigram is in the kept table, else backs off to
    ``ln(0.4) + unigram(cur)`` — all exact integer micro-nats, so sums
    are partitioning-independent. Emits every document:
    ``(id_col, n_tokens, bigram_hits, backoff_rate, cross_entropy,
    pseudo_perplexity[, keep])``.

    Plan: ONE in-row (prev, cur) construction (prev NULL for the first
    token) → explode_outer → TWO broadcast joins (bigram table on the
    pair, unigram on cur — token keys are stopword-skewed, a shuffle
    join is unthinkable) → one hash aggregate."""
    col = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = tokens(col)
    # (prev, cur) per position; prev NULL at position 1
    prevs = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    pairs = F.zip_with(
        prevs, toks, lambda a, b: F.struct(a.alias("prev"), b.alias("cur"))
    )
    tok = docs.select(
        F.col(id_col), F.explode_outer(pairs).alias("p")
    ).select(id_col, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))

    joined = (
        tok.join(
            F.broadcast(
                bigrams.select(
                    "prev", "cur", F.col("logprob_micro").alias("_bi")
                )
            ),
            ["prev", "cur"],
            "left",
        )
        .join(
            F.broadcast(
                lm.select(F.col("token").alias("cur"), F.col("logprob_micro").alias("_uni"))
            ),
            "cur",
            "left",
        )
        .crossJoin(F.broadcast(oov.select("oov_logprob_micro")))
    )
    uni = F.coalesce(F.col("_uni"), F.col("oov_logprob_micro"))
    lp = F.when(F.col("cur").isNull(), F.lit(0)).otherwise(
        F.when(F.col("_bi").isNotNull(), F.col("_bi")).otherwise(
            F.when(
                F.col("prev").isNull(), uni  # first token: plain unigram
            ).otherwise(F.lit(BACKOFF_PENALTY_MICRO) + uni)
        )
    )
    per_doc = (
        joined.select(
            id_col,
            "cur",
            lp.alias("lp"),
            F.col("_bi").isNotNull().cast("int").alias("is_hit"),
            (F.col("cur").isNotNull() & F.col("prev").isNotNull()).cast(
                "int"
            ).alias("is_bigram_pos"),
        )
        .groupBy(id_col)
        .agg(
            F.count("cur").alias("n_tokens"),
            F.sum("lp").alias("sum_lp_micro"),
            F.sum("is_hit").cast("long").alias("bigram_hits"),
            F.sum("is_bigram_pos").cast("long").alias("_bi_pos"),
        )
    )
    nonempty = F.col("n_tokens") > 0
    ce6, ppl3 = _entropy_outputs(F.col("sum_lp_micro"), F.col("n_tokens"))
    out = per_doc.select(
        id_col,
        "n_tokens",
        "bigram_hits",
        F.when(
            F.col("_bi_pos") > 0,
            _rate6(
                F.col("_bi_pos") - F.col("bigram_hits"), F.col("_bi_pos")
            ),
        ).alias("backoff_rate"),
        F.when(nonempty, ce6).alias("cross_entropy"),
        F.when(nonempty, ppl3).alias("pseudo_perplexity"),
    )
    if max_pseudo_perplexity is not None:
        out = out.withColumn(
            "keep",
            F.coalesce(
                F.col("pseudo_perplexity") <= F.lit(max_pseudo_perplexity),
                F.lit(False),
            ),
        )
    return out


def perplexity_buckets(
    scored: DataFrame,
    by: Tuple[str, ...] = ("lang",),
    ppl_col: str = "pseudo_perplexity",
    labels: Tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3, public): split each group (per language in the paper) into
    ``len(labels)`` equal-count buckets by LM perplexity — the head is
    the cleanest third, and the published pipeline trains on head+middle
    while auditing the tail.

    Cutoffs are EXACT type-1 (inverse-CDF) quantiles of the non-null
    ``ppl_col`` values: cutoff_i = min{v : k·cum(v) ≥ i·N} for bucket
    count k, where cum is the inclusive value-granular cumulative count.
    Assignment is value-granular — every doc sharing a ppl value lands
    in the same bucket (threshold comparison, the paper's semantics),
    so ties are never split arbitrarily and the result is independent
    of partitioning. Docs with NULL ``ppl_col`` (empty docs) keep a
    NULL bucket.

    Scale shape: the quantile pass runs on the ``(by, ppl)`` COUNTS
    CUBE, not the docs — one map-side-combined groupBy collapses 10^12
    docs to (#groups × #distinct-3dp-ppl-values) rows, the cumulative
    window partitions over that compact cube (never a per-language doc
    sort — English at 40% of the web would serialize one task), and the
    per-group cutoff row (k-1 doubles) broadcasts back onto the scored
    frame as a pure comparison. Returns ``scored`` plus ``ppl_bucket``.
    """
    if len(labels) < 2:
        raise ValueError("need at least 2 bucket labels")
    k = len(labels)
    nonnull = scored.filter(F.col(ppl_col).isNotNull())
    counts = nonnull.groupBy(*by, ppl_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    w = Window.partitionBy(*by).orderBy(ppl_col)
    wall = Window.partitionBy(*by)
    cum = counts.withColumn(
        "_cum", F.sum("_n").over(w)
    ).withColumn("_tot", F.sum("_n").over(wall))
    cutoffs = cum.groupBy(*by).agg(
        *[
            F.min(
                F.when(
                    F.col("_cum") * k >= F.col("_tot") * i,
                    F.col(ppl_col),
                )
            ).alias(f"_cut{i}")
            for i in range(1, k)
        ]
    )
    joined = (
        scored.join(F.broadcast(cutoffs), list(by), "left")
        if by
        else scored.crossJoin(F.broadcast(cutoffs))
    )
    idx = sum(
        (F.col(ppl_col) > F.col(f"_cut{i}")).cast("int")
        for i in range(1, k)
    )
    label_arr = F.array(*[F.lit(l) for l in labels])
    return joined.withColumn(
        "ppl_bucket",
        F.when(
            F.col(ppl_col).isNotNull(),
            F.element_at(label_arr, idx + 1),
        ),
    ).drop(*[f"_cut{i}" for i in range(1, k)])
