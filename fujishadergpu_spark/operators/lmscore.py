"""Corpus-trained n-gram LM perplexity scoring.

The CCNet quality signal (Wenzek et al., LREC 2020): score every
document by its negative log-likelihood under a language model
trained on a reference corpus — low-perplexity pages read like the
reference, high-perplexity pages are gibberish, boilerplate or the
wrong register. CCNet uses a KenLM 5-gram; this operator implements
the same signal with an add-k-smoothed bigram model trained on the
corpus itself (or any reference corpus passed separately), which
keeps every probability a ratio of two counts — exactly
cross-engine-stateable.

Reference parity: the reference repo is the geospatial half of this
graft and has no text pipeline; this extends the LLM-data-pipeline
family (the training-data-pipeline mandate; README capability table)
alongside textfn.quality_features (surface heuristics) and
operators/bm25.py (retrieval-based scoring).

Scale shape (100 TB corpus):
- training is one scan → bigram explode → ONE groupBy(bigram) count
  (map-side partial); context counts c(w1) derive from the bigram
  table by a second vocab-sized groupBy — no second corpus scan;
- the model relations shuffle only (token-pair, count) rows —
  bounded by kept-vocabulary², not corpus size; the per-bigram log
  probability is pre-folded into ONE (bigram, term) table so the
  model meets the corpus exactly once;
- scoring re-expands each doc's bigrams and routes them through the
  spandedup.py dirty-only discipline: an INNER join on the bigram
  key picks up the pre-folded term for seen bigrams, and only the
  LEFT-ANTI remainder (model-miss bigrams — EMPTY in the
  self-trained configuration, a minority whenever train covers the
  corpus register) ever meets the Zipf-skewed w1-keyed context
  join. The corpus-sized shuffles carry (doc_id, bigram) pairs on
  the well-distributed bigram key, combined map-side into the
  per-doc sum; w1 never keys a corpus-wide exchange;
- nothing iterates, nothing collects: V and the smoothing constant
  are the only scalars, computed by one aggregate.

Cross-engine determinism (the oracle contract): each per-bigram term
``ln((c(w1 w2) + k) / (c(w1) + k·V))`` is an identical IEEE sequence
on both engines; the per-doc SUM is quantized to ``round(nll *
1e6)`` AFTER negation, so engine summation-order drift (~1e-13)
stays eleven orders below the quantum (the quantized-sum technique
of the hillshade trig and BM25 gates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfn import ws_tokens


def _tokens(text):
    # coalesce keeps the pipeline total over NULL text: split(NULL)
    # propagates NULL through every array fn, so size() would emit
    # NULL/-1 instead of the 0 an empty document must score
    return ws_tokens(F.coalesce(text, F.lit("")))


def _bigrams(tk):
    # zip token i with token i+1; zip_with pads the shorter side with
    # NULL, so the trailing (token, NULL) pair drops in the filter
    return F.filter(
        F.zip_with(
            tk,
            F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        lambda s: s.contains(" "),
    )


_W1_RE = "^([^ ]+) "


def lm_score(
    docs: DataFrame,
    k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
    term_quantized: bool = False,
) -> DataFrame:
    """Per-doc bigram-LM negative log-likelihood: (id, n_bigrams,
    nll_q6) with nll_q6 = round(−Σ ln p(w_i|w_{i-1}) · 1e6). Docs
    with fewer than two tokens keep n_bigrams = 0 and a NULL nll_q6
    (no bigrams — no evidence either way). ``train`` defaults to
    ``docs`` (the CCNet self-trained configuration); bigrams unseen
    in training back off to c(w1 w2) = 0 (and c(w1) = 0 for an
    unseen context) under the same add-k formula.

    ``term_quantized=True`` rounds each per-bigram term to 1e-6 nats
    BEFORE summing, so the doc score is a sum of LONGS — order-free,
    hence bit-identical under any partitioning/retry, which is what a
    resumable pipeline stage must have (a double sum's rounding can
    in principle flip with aggregation order). Scores differ from the
    default by at most n_bigrams ulp-halves; the default keeps the
    published round-after-sum definition."""
    ids, terms = _doc_terms(docs, k, id_col, text_col, train)
    if term_quantized:
        sums = terms.groupBy("_id").agg(
            (-F.sum(F.round(F.col("_t") * F.lit(1000000.0)).cast("bigint"))).alias("_nll")
        )
    else:
        sums = terms.groupBy("_id").agg(
            F.round(-F.sum("_t") * F.lit(1000000.0)).cast("bigint").alias("_nll")
        )
    return ids.join(sums, "_id", "left").select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        F.when(F.col("n_bigrams") > 0, F.col("_nll")).alias("nll_q6"),
    )


def _doc_terms(
    docs: DataFrame,
    k: float,
    id_col: str,
    text_col: str,
    train: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """The shared model/scoring core of lm_score and mink_prob: the
    per-doc bigram-count relation ``ids`` (_id, n_bigrams) and the
    per-occurrence log-probability relation ``terms`` (_id, _t) —
    including the dirty-only-routed model-miss backoff terms."""
    t = train if train is not None else docs
    tb = t.select(_bigrams(_tokens(F.col(text_col))).alias("_bg"))
    model = (
        tb.select(F.explode("_bg").alias("_bigram"))
        .groupBy("_bigram")
        .agg(F.count("*").alias("_cb"))
    )
    ctx = (
        model.select(F.regexp_extract("_bigram", _W1_RE, 1).alias("_w1"), "_cb")
        .groupBy("_w1")
        .agg(F.sum("_cb").alias("_cu"))
    )
    vocab = t.select(F.explode(_tokens(F.col(text_col))).alias("_tok")).agg(
        F.countDistinct("_tok").alias("_v")
    )
    # pre-fold the model into one (bigram, term) relation so the
    # corpus meets the full model in a single bigram-keyed join
    term = F.log(
        (F.col("_cb") + F.lit(k)) / (F.col("_cu") + F.lit(k) * F.col("_v"))
    )
    probs = (
        model.withColumn("_w1", F.regexp_extract("_bigram", _W1_RE, 1))
        .join(ctx, "_w1")
        .crossJoin(F.broadcast(vocab))
        .select("_bigram", term.alias("_t"))
    )

    ids = docs.select(
        F.col(id_col).alias("_id"),
        F.size(_bigrams(_tokens(F.col(text_col)))).cast("bigint").alias("n_bigrams"),
    )
    occ = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(_bigrams(_tokens(F.col(text_col)))).alias("_bigram"),
    )
    # dirty-only routing (the spandedup.py discipline): seen bigrams
    # finish at the inner join — the pre-folded term needs nothing
    # else; ONLY the model-miss remainder enters the w1-keyed context
    # join, so the skewed key never carries a corpus-wide exchange
    seen = occ.join(probs, "_bigram").select("_id", "_t")
    unseen = F.log(
        (F.lit(0) + F.lit(k))
        / (F.coalesce(F.col("_cu"), F.lit(0)) + F.lit(k) * F.col("_v"))
    )
    miss = (
        occ.join(probs.select("_bigram"), "_bigram", "left_anti")
        .withColumn("_w1", F.regexp_extract("_bigram", _W1_RE, 1))
        .join(ctx, "_w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("_id", unseen.alias("_t"))
    )
    terms = seen.unionByName(miss)
    return ids, terms


def mink_prob(
    docs: DataFrame,
    frac: tuple[int, int] = (1, 5),
    k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
) -> DataFrame:
    """Min-K% prob membership signal (Shi et al. 2023, "Detecting
    Pretraining Data from Large Language Models"): per document, the
    average log-probability of its m = ceil(frac * n_bigrams)
    LOWEST-probability bigrams under the (reference-trained) LM.
    Member documents — text the model has seen — lack the deep
    low-probability outlier tokens non-members have, so a HIGH
    min-k% average flags likely training-set membership; data teams
    run it as a leakage audit between a released model's suspected
    corpus and candidate text.

    Returns one row per document: (id, n_bigrams, n_mink,
    mink_sum_q6, mink_avg_q6). Determinism: each per-bigram term is
    quantized to 1e-6 nats (bigint) FIRST, so the bottom-m selection
    and the sum are exact integer operations with no float-order
    dependence (ties inside the quantum are interchangeable for the
    sum — any tie choice yields the same integer), and the average is
    ONE IEEE division of two exact integers. ``frac`` is an exact
    (num, den) rational: m = (n*num + den - 1) div den, never a float
    multiply. Docs with no bigrams report n_mink = 0 and NULL scores.

    100-TB shape: identical to lm_score up to the per-doc window —
    the selection window partitions by doc_id over (id, long) rows,
    bounded by document length, AQE-splittable; nothing new shuffles.
    """
    num, den = frac
    if not (0 < num <= den):
        raise ValueError(f"frac must be a rational in (0, 1], got {frac}")
    ids, terms = _doc_terms(docs, k, id_col, text_col, train)
    tq = terms.select(
        "_id", F.round(F.col("_t") * F.lit(1000000.0)).cast("bigint").alias("_tq")
    )
    w = Window.partitionBy("_id").orderBy(F.asc("_tq"))
    wn = Window.partitionBy("_id")
    ranked = tq.withColumns(
        {"_r": F.row_number().over(w), "_n": F.count("*").over(wn)}
    )
    m = (F.col("_n") * num + (den - 1)) / den  # integer div below
    sel = (
        ranked.filter(F.col("_r") <= F.floor(m))
        .groupBy("_id")
        .agg(
            F.sum("_tq").alias("_sum"),
            F.count("*").cast("bigint").alias("_m"),
        )
    )
    return ids.join(sel, "_id", "left").select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        F.coalesce("_m", F.lit(0)).cast("bigint").alias("n_mink"),
        F.col("_sum").alias("mink_sum_q6"),
        (F.col("_sum").cast("double") / F.col("_m").cast("double")).alias(
            "mink_avg_q6"
        ),
    )


# ------------------- CCNet head/middle/tail buckets -------------------
# CCNet (Wenzek et al. 2020, §3.4) partitions each language's corpus
# into three equal-mass perplexity buckets — head (most fluent),
# middle, tail — and most LLM recipes then keep head+middle or
# reweight by bucket. Thresholds are per-group rank statistics of the
# score; assignment is a pure comparison against them.

DEFAULT_CUTS = ((1, 3), (2, 3))


def ppl_bucket_thresholds(
    scored: DataFrame,
    group_col: str | None = None,
    cuts: tuple = DEFAULT_CUTS,
    score_col: str = "nll_q6",
    exact: bool = False,
) -> DataFrame:
    """Per-group bucket thresholds: (group?, th1..thK) where th_i is
    the ceil(n * num/den)-th smallest score (rank statistic in the
    exact INTEGER domain — num/den are the cut fractions, so there is
    no floating-point quantile interpolation to drift cross-engine).

    exact=False (production): percentile_approx sketches — map-side
    combinable, one tiny aggregate over the corpus, group count rows
    out. exact=True (oracle/validation scale ONLY — the
    norm_stats.percentile_pool pattern): sorts each group's scores
    into one array on a single task; rank extraction is then literal.
    At 100 TB exact mode would collect a language's whole score
    column into one row — always use the sketch in production.
    """
    g = [group_col] if group_col else []
    s = scored.where(F.col(score_col).isNotNull())
    if exact:
        agg = s.groupBy(*g).agg(
            F.sort_array(F.collect_list(score_col)).alias("_arr")
        )
        n = F.size("_arr")
        ths = [
            F.element_at(
                "_arr", F.floor((n * F.lit(num) + F.lit(den - 1)) / F.lit(den)).cast("int")
            ).alias(f"th{i + 1}")
            for i, (num, den) in enumerate(cuts)
        ]
        return agg.select(*g, *ths)
    qs = s.groupBy(*g).agg(
        F.percentile_approx(
            score_col, [num / den for num, den in cuts], 10000
        ).alias("_q")
    )
    return qs.select(
        *g, *[F.element_at("_q", i + 1).alias(f"th{i + 1}") for i in range(len(cuts))]
    )


def ppl_buckets(
    scored: DataFrame,
    thresholds: DataFrame,
    group_col: str | None = None,
    score_col: str = "nll_q6",
    labels: tuple = ("head", "middle", "tail"),
) -> DataFrame:
    """Assign each scored row its bucket by broadcast-joining the
    (bounded, one-row-per-group) threshold relation and comparing —
    zero additional shuffle on the corpus side. Rows with a NULL
    score get 'unscored' (the lm_score no-evidence contract); rows of
    a group absent from ``thresholds`` (no scored member) ditto."""
    k = len(labels) - 1
    # LEFT join keeps rows of groups with no scored member (their
    # thresholds are NULL -> 'unscored'): totality in one pass
    joined = (
        scored.join(F.broadcast(thresholds), group_col, "left")
        if group_col
        else scored.crossJoin(F.broadcast(thresholds))
    )
    sc = F.col(score_col)
    expr = F.lit(labels[-1])
    for i in range(k - 1, -1, -1):
        expr = F.when(sc <= F.col(f"th{i + 1}"), F.lit(labels[i])).otherwise(expr)
    expr = F.when(sc.isNull() | F.col("th1").isNull(), F.lit("unscored")).otherwise(expr)
    return joined.select(*scored.columns, expr.alias("bucket"))


def ppl_bucket_thresholds_hist(
    scored: DataFrame,
    group_col: str | None = None,
    cuts: tuple = DEFAULT_CUTS,
    score_col: str = "nll_q6",
    bin_width: int = 1_000_000,
) -> DataFrame:
    """DETERMINISTIC production-scale thresholds: the integer-binned
    histogram quantile. percentile_approx is a sketch whose result
    can depend on aggregation order — fine for display stretches,
    unacceptable inside a resumable pipeline stage (resume soundness
    needs byte-identical re-runs). This plan is order-free end to end:

      bin  = floor(score / bin_width)              (integer)
      hist = count per (group, bin)                (map-side partial)
      cum  = running sum over the bin axis         (per-group window
             over the HISTOGRAM relation — bounded by the score range
             / bin_width, thousands of rows, never the corpus)
      th_i = upper edge of the first bin whose cumulative count
             reaches ceil(n * num/den)

    Thresholds are conservative to within one bin of the exact rank
    statistic (every score in the threshold bin is <= the returned
    edge); shrink bin_width for tighter buckets. With the default
    1e6 width over nll_q6 the bins are whole nats.
    """
    from pyspark.sql import Window

    g = [group_col] if group_col else []
    s = scored.where(F.col(score_col).isNotNull())
    bin_col = F.floor(F.col(score_col) / F.lit(bin_width)).alias("_bin")
    hist = s.groupBy(*g, bin_col).agg(F.count("*").alias("_c"))
    w = (
        Window.partitionBy(*g).orderBy("_bin")
        if g
        else Window.partitionBy(F.lit(1)).orderBy("_bin")
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(w)).withColumn(
        "_n", F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    )
    ths = [
        F.min(
            F.when(
                F.col("_cum")
                >= F.floor((F.col("_n") * F.lit(num) + F.lit(den - 1)) / F.lit(den)),
                (F.col("_bin") + 1) * F.lit(bin_width) - 1,
            )
        ).alias(f"th{i + 1}")
        for i, (num, den) in enumerate(cuts)
    ]
    return cum.groupBy(*g).agg(*ths)


# ---------------- interpolated trigram LM (order-3) -------------------
# CCNet's production signal is a KenLM 5-gram; the bigram lm_score
# above is the order-2 member of the family. This is the order-3
# interpolated add-k model — p(w3|w1 w2) mixes trigram, bigram and
# unigram maximum-likelihood-plus-k estimates with fixed weights
# (Jelinek-Mercer interpolation, the standard backoff-free smoothing
# whose every term stays a ratio of two counts — exactly
# cross-engine-stateable, unlike KN's discounted continuation counts).

TRIGRAM_LAMBDAS = (0.7, 0.2, 0.1)


def _ngram_list(tk, n: int):
    """NON-distinct position-ordered n-grams of a token array."""
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def trigram_score(
    docs: DataFrame,
    k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
) -> DataFrame:
    """Per-doc interpolated-trigram negative log-likelihood:
    (id, n_trigrams, nll3_q6) with
    nll3_q6 = round(−Σ ln(λ3·p3 + λ2·p2 + λ1·p1) · 1e6),

      p3 = (c(w1w2w3) + k) / (c(w1w2) + k·V)
      p2 = (c(w2w3)   + k) / (c(w2)   + k·V)
      p1 = (c(w3)     + k) / (T       + k·V)

    over train-corpus counts (train defaults to docs — the
    self-trained CCNet configuration). Docs with fewer than three
    tokens keep n_trigrams = 0 and NULL nll3_q6.

    100-TB shape (the lm_score discipline, one order up): all model
    relations are vocabulary-bounded; the full mixture term is
    pre-folded into ONE (trigram, term) relation — every component
    join (prefix bigram, suffix bigram, middle/last unigram) runs
    model-relation × model-relation, never against the corpus; the
    corpus meets the model exactly once on the well-distributed
    trigram key with map-side partial per-doc sums. Trigrams absent
    from the model (train ≠ docs only) route dirty-only through the
    component joins with coalesce(0) counts — the skewed short keys
    never carry a corpus-wide exchange. Quantization after the sum
    (the LM_SCORE wobble-below-quantum contract).
    """
    l3, l2, l1 = TRIGRAM_LAMBDAS
    t = train if train is not None else docs
    tk = _tokens(F.col(text_col))
    tt = t.select(tk.alias("_tk"))
    c3 = (
        tt.select(F.explode(_ngram_list(F.col("_tk"), 3)).alias("_g3"))
        .groupBy("_g3").agg(F.count("*").alias("_c3"))
    )
    c2 = (
        tt.select(F.explode(_ngram_list(F.col("_tk"), 2)).alias("_g2"))
        .groupBy("_g2").agg(F.count("*").alias("_c2"))
    )
    c1 = (
        tt.select(F.explode(F.col("_tk")).alias("_g1"))
        .groupBy("_g1").agg(F.count("*").alias("_c1"))
    )
    tot = tt.select(F.explode(F.col("_tk")).alias("_g1")).agg(
        F.count("*").alias("_T"), F.countDistinct("_g1").alias("_v")
    )

    def _parts(g3):
        p = F.split(g3, " ")
        return (
            F.concat_ws(" ", F.element_at(p, 1), F.element_at(p, 2)),
            F.concat_ws(" ", F.element_at(p, 2), F.element_at(p, 3)),
            F.element_at(p, 2),
            F.element_at(p, 3),
        )

    def _term(c3c, p_pre, p_suf, p_mid, p_last):
        kv = F.lit(k) * F.col("_v")
        p3 = (c3c + F.lit(k)) / (p_pre + kv)
        p2 = (p_suf + F.lit(k)) / (p_mid + kv)
        p1 = (p_last + F.lit(k)) / (F.col("_T") + kv)
        return F.log(F.lit(l3) * p3 + F.lit(l2) * p2 + F.lit(l1) * p1)

    pre, suf, mid, last = _parts(F.col("_g3"))
    probs = (
        c3.withColumns({"_pre": pre, "_suf": suf, "_mid": mid, "_last": last})
        .join(c2.select(F.col("_g2").alias("_pre"), F.col("_c2").alias("_cpre")), "_pre")
        .join(c2.select(F.col("_g2").alias("_suf"), F.col("_c2").alias("_csuf")), "_suf")
        .join(c1.select(F.col("_g1").alias("_mid"), F.col("_c1").alias("_cmid")), "_mid")
        .join(c1.select(F.col("_g1").alias("_last"), F.col("_c1").alias("_clast")), "_last")
        .crossJoin(F.broadcast(tot))
        .select(
            "_g3",
            _term(
                F.col("_c3"), F.col("_cpre"), F.col("_csuf"),
                F.col("_cmid"), F.col("_clast"),
            ).alias("_t"),
        )
    )
    ids = docs.select(
        F.col(id_col).alias("_id"),
        F.size(_ngram_list(tk, 3)).cast("bigint").alias("n_trigrams"),
    )
    occ = docs.select(
        F.col(id_col).alias("_id"), F.explode(_ngram_list(tk, 3)).alias("_g3")
    )
    seen = occ.join(probs, "_g3").select("_id", "_t")
    # dirty-only miss routing (train != docs): every count coalesces
    # to 0 under the same interpolation formula
    mpre, msuf, mmid, mlast = _parts(F.col("_g3"))
    miss = (
        occ.join(probs.select("_g3"), "_g3", "left_anti")
        .withColumns({"_pre": mpre, "_suf": msuf, "_mid": mmid, "_last": mlast})
        .join(c2.select(F.col("_g2").alias("_pre"), F.col("_c2").alias("_cpre")), "_pre", "left")
        .join(c2.select(F.col("_g2").alias("_suf"), F.col("_c2").alias("_csuf")), "_suf", "left")
        .join(c1.select(F.col("_g1").alias("_mid"), F.col("_c1").alias("_cmid")), "_mid", "left")
        .join(c1.select(F.col("_g1").alias("_last"), F.col("_c1").alias("_clast")), "_last", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "_id",
            _term(
                F.lit(0).cast("bigint"),
                F.coalesce(F.col("_cpre"), F.lit(0)),
                F.coalesce(F.col("_csuf"), F.lit(0)),
                F.coalesce(F.col("_cmid"), F.lit(0)),
                F.coalesce(F.col("_clast"), F.lit(0)),
            ).alias("_t"),
        )
    )
    sums = seen.unionByName(miss).groupBy("_id").agg(
        F.round(-F.sum("_t") * F.lit(1000000.0)).cast("bigint").alias("_nll")
    )
    return ids.join(sums, "_id", "left").select(
        F.col("_id").alias(id_col),
        "n_trigrams",
        F.when(F.col("n_trigrams") > 0, F.col("_nll")).alias("nll3_q6"),
    )
