"""Resumable corpus-cleaning pipeline: the production entry point for
the LLM-training-data operator family (r5 verdict #2).

The geo pipeline (cli.run_pipeline) made geoparse -> PIP -> tiles a
first-class resumable job; this module gives the text family the same
A18 treatment. Eight stages, chained through parquet, every stage
written with plans/lineage.run_stage_idempotent (bucketed dynamic
partition overwrite + lineage done-key filter), so a killed run resumes
idempotently at per-bucket granularity and a completed run re-invoked
is a no-op:

    pii          scrub_pii transform        (functions/pii.py)
    repetition   Gopher keep-gate           (operators/repetition.py)
    line_dedup   CCNet corpus line dedup    (operators/repetition.py)
    span_dedup   ExactSubstr span removal   (operators/spandedup.py)
    decontaminate benchmark n-gram gate     (operators/decontaminate.py)
    sample       deterministic selection    (operators/sampling.py /
                 stratified | mixture | DSIR  sampling.mixture_sample /
                                              operators/dsir.py)
    pack         next-fit sequence packing  (operators/packing.py)
    shard        shuffled shard layout      (operators/sharding.py)

Stage contract: every filter/transform stage writes the SURVIVING
documents as (doc_id, text) partitioned by a stable hash bucket;
``pack`` writes the packing plan partitioned by pack_group. Each
stage reads the previous stage's parquet — never the original corpus
— so a resumed run recomputes nothing upstream of the crash.

Reference parity: the reference repo is the geospatial half of this
graft and has no text pipeline; the resume machinery itself mirrors
the reference's checkpoint/--cog-only design (reference
core/tile_processor.py:1748-1819) via plans/lineage.py.

Scale notes (100 TB):
- corpus-level stages (line_dedup, span_dedup, decontaminate) are the
  individually plan-audited operators — hash-aggregate keepers,
  dirty-docs-only explodes, broadcast benchmark grams (their module
  docstrings carry the per-stage contracts);
- determinism is what makes bucketed resume SOUND: every stage is a
  pure function of its input table (no sampling RNG, no
  timestamps), so a resumed bucket writes byte-identical rows to the
  ones the crashed run would have written (pinned by
  tests/test_clean_corpus.py kill/resume equality);
- the lineage log and per-stage outputs share one _lineage parquet,
  one readback audit surface (plans/lineage.audit_stage works on any
  stage path here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textfn
from ..functions.pii import scrub_pii
from ..operators.packing import pack_sequences
from ..operators.repetition import line_dedup, repetition_features
from ..operators.sampling import stratified_sample
from ..operators.spandedup import substring_dedup
from .lineage import N_BUCKETS, LineageLog, bucket, read_parquet_or_none, run_stage_idempotent

STAGES = (
    "pii",
    "repetition",
    "line_dedup",
    "span_dedup",
    "decontaminate",
    "sample",
    "pack",
    "shard",
)
# stages whose output is (doc_id, text); pack/shard write plan tables
DOC_STAGES = STAGES[:6]
# opt-in stages: "urlfilter" (RefinedWeb blocklist + URL words,
# functions/urlnorm.py — needs a url column) runs FIRST when
# blocked_hosts_path/url_*words are set; "increment" (cross-snapshot
# exact-dedup against a prior release, operators/increment.py) runs
# next when seen_snapshot_path is set; "domain" (site-level keep
# gate, operators/domains.py) runs BEFORE pii when domain_min_docs is
# set; "mojibake" (ftfy-style encoding repair,
# operators/mojibake.py) runs first among the text stages when
# fix_mojibake is set — downstream gates must see intended
# characters; "boilerplate" (jusText-style chrome strip,
# operators/boilerplate.py) runs after it when
# strip_boilerplate is set — extraction-time cleaning belongs ahead
# of the corpus-level stages; "para_dedup" (RefinedWeb-granularity
# corpus paragraph dedup, operators/repetition.py) runs between
# repetition and line_dedup when para_dedup is set — line_dedup's
# single-newline rejoin erases paragraph boundaries, so the coarser
# unit dedups first; "ppl" (CCNet perplexity-bucket keep
# gate, operators/lmscore.py) runs between decontaminate and sample
# when ppl_keep_buckets is set; "chunk" (context-window fan-out,
# operators/chunking.py) appends after shard when chunk_size is set.
# All ride the same idempotent-stage machinery.


def _bucketed(df: DataFrame) -> DataFrame:
    return df.withColumn("bucket", bucket("doc_id"))


def run_clean_corpus(
    spark: SparkSession,
    docs_path: str,
    out_root: str,
    run_id: str | None = None,
    benchmark_path: str | None = None,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    span_w: int = 8,
    decontam_n: int = 8,
    pack_budget: int = 2048,
    pack_groups: int = N_BUCKETS,
    ngram_rules: bool = False,
    gopher_doc_rules: bool = False,
    norm_dedup: bool = False,
    para_dedup: bool = False,
    sent_dedup: bool = False,
    readability_range: tuple | None = None,
    topic_keep: tuple | None = None,
    pack_strategy: str = "nextfit",
    dsir_target_path: str | None = None,
    dsir_select: int = 1000,
    mixture_targets: dict[str, float] | None = None,
    mixture_budget: int = 1_000_000,
    unimax_budget: int | None = None,
    unimax_max_epochs: int = 1,
    shard_budget: int = 1_048_576,
    domain_min_docs: int | None = None,
    domain_min_avg_quality: float = 0.5,
    domain_col: str = "source",
    strip_boilerplate: bool = False,
    fix_mojibake: bool = False,
    ppl_keep_buckets: tuple | None = None,
    ppl_bin_width: int = 1_000_000,
    chunk_size: int | None = None,
    chunk_stride: int | None = None,
    blocked_hosts_path: str | None = None,
    url_strict_words: list[str] | None = None,
    url_soft_words: dict[str, float] | None = None,
    url_soft_threshold: float = 2.0,
    url_col: str = "url",
    seen_snapshot_path: str | None = None,
) -> dict:
    """Run (or resume) the eight-stage cleaning job; returns the
    per-stage run_stage_idempotent summaries.

    ``benchmark_path``: parquet with a ``text`` column — the eval
    corpus whose n-grams must not leak into training data; when None
    the decontaminate stage passes every document through (gate
    disabled, stage still materialized so a later re-run WITH a
    benchmark is an explicit new out_root, never a silent semantic
    change of an existing one). ``rates``: per-language keep rates
    for the sampler (language = textfn.lang_id), absent languages
    keep ``default_rate``. ``ngram_rules``: AND the full Gopher
    n-gram family (ngram_repetition_features) into the repetition
    gate. ``gopher_doc_rules``: AND the published Gopher §A1.1
    document-level rules (gopher_quality_features — word-count /
    mean-word-length bounds, symbol ratio, bullet/ellipsis line
    fractions, alpha-word fraction, stop-word rule) into the same
    repetition stage, completing full §A1.1 parity in one gate.
    ``para_dedup``: insert the RefinedWeb-granularity corpus
    paragraph dedup stage between repetition and line_dedup
    (coarse-to-fine: paragraphs before lines, because line_dedup's
    rejoin erases blank-line boundaries). ``dsir_target_path``: parquet with (doc_id, text) — when
    set, the sample stage becomes DSIR Gumbel-top-``dsir_select``
    importance resampling toward that target corpus instead of the
    stratified-rate sampler. ``mixture_targets``/``mixture_budget``:
    third selection mode — budgeted token-mixture thresholds
    (sampling.mixture_sample) over lang_id strata.
    ``unimax_budget``/``unimax_max_epochs``: fourth selection mode —
    UniMax budget waterfilling (sampling.unimax_sample) over lang_id
    strata, no hand-tuned shares needed. All four are deterministic,
    so bucketed resume stays sound with any of them.
    ``shard_budget``: token budget of the final shuffled shard-layout
    stage (operators/sharding.assign_shards).

    Optional stages: ``domain_min_docs`` enables a site-level keep
    gate BEFORE pii (operators/domains.py — the corpus parquet must
    carry ``domain_col``; a ``lang`` column feeds n_langs when
    present); ``fix_mojibake`` inserts the ftfy-style encoding-repair
    transform (operators/mojibake.py) first among the text stages —
    total, every doc survives — so stopword densities, n-gram hashes
    and dedup keys downstream see intended characters, never the
    CP1252 corruption; ``strip_boilerplate`` inserts the jusText-style chrome
    strip (operators/boilerplate.py) between the domain gate and pii,
    rewriting each doc to its content lines and dropping docs that
    were pure chrome; ``ppl_keep_buckets`` (e.g. ``("head",
    "middle")``) inserts the CCNet perplexity gate between
    decontaminate and sample — self-trained bigram LM with
    TERM-QUANTIZED (order-free integer) scores and histogram-binned
    thresholds, both chosen precisely because they are deterministic
    under re-runs, which bucketed resume requires (percentile_approx
    sketches and double sums are not); docs scoring 'unscored'
    (<2 tokens) are kept only if 'unscored' is listed;
    ``chunk_size`` appends a context-window fan-out stage after shard
    (operators/chunking.py, stride defaults to chunk_size =
    non-overlapping); ``blocked_hosts_path`` / ``url_strict_words`` /
    ``url_soft_words`` enable the URL/domain filter as the very first
    stage (the corpus parquet must carry ``url_col``);
    ``seen_snapshot_path`` (a parquet exact_snapshot of a prior
    release) enables the cross-snapshot dedup stage right after it —
    recrawl batches drop docs the kept corpus already has, plus
    in-batch exact dups. ``norm_dedup`` inserts the CCNet
    normalized-key exact dedup (functions/textnorm.py) right after
    pii — trivially-differing copies collapse before any content
    gate re-scores them; ``sent_dedup`` inserts sentence-granularity
    corpus dedup after line_dedup (the finer _unit_dedup rung);
    ``readability_range=(lo, hi)`` inserts a Flesch-reading-ease band
    gate after repetition (functions/readability.py);
    ``topic_keep`` inserts a lexicon-topic keep gate before the
    sampler (operators/topics.py — list 'other' to keep unmatched
    docs); ``pack_strategy`` selects next-fit (default) or 'ffd'
    first-fit-decreasing packing. All are pure functions of their
    input, so bucketed resume stays sound.
    """
    modes = [
        n
        for n, v in (
            ("dsir_target_path", dsir_target_path),
            ("mixture_targets", mixture_targets),
            ("unimax_budget", unimax_budget),
        )
        if v is not None
    ]
    if len(modes) > 1:
        raise ValueError(f"exclusive selection modes set together: {modes}")
    lineage = LineageLog(spark, f"{out_root}/_lineage")
    summary: dict[str, dict] = {}

    def stage(name: str, df: DataFrame, key_col: str = "bucket") -> DataFrame:
        summary[name] = run_stage_idempotent(
            spark, df, key_col, f"{out_root}/{name}", lineage, name, run_id
        )
        # a stage may legitimately have ZERO survivors (e.g. rate-0
        # sampling): feed downstream an empty typed frame
        out = read_parquet_or_none(spark, f"{out_root}/{name}")
        return spark.createDataFrame([], "doc_id long, text string") if out is None else out

    raw = spark.read.parquet(docs_path)

    # 0a. (opt-in) URL/domain filter — blocklist suffix join + URL
    # keyword scores (functions/urlnorm.url_filter; corpus must carry
    # ``url_col``). Runs first: the cheapest per-row evidence.
    if blocked_hosts_path is not None or url_strict_words or url_soft_words:
        from ..functions.urlnorm import url_filter

        bl = (
            spark.read.parquet(blocked_hosts_path)
            if blocked_hosts_path is not None
            else None
        )
        uf = url_filter(
            raw,
            bl,
            url_col=url_col,
            strict_words=url_strict_words,
            soft_words=url_soft_words,
            soft_threshold=url_soft_threshold,
        ).where("keep")
        raw = stage("urlfilter", _bucketed(raw.join(uf.select("doc_id"), "doc_id")))

    # 0b. (opt-in) cross-snapshot exact dedup — drop docs already in a
    # prior release's exact_snapshot parquet (operators/increment.py)
    if seen_snapshot_path is not None:
        from ..operators.increment import incremental_dedup

        snap = spark.read.parquet(seen_snapshot_path)
        verd = incremental_dedup(
            raw.select("doc_id", "text"), snap, None
        ).where("keep")
        raw = stage("increment", _bucketed(raw.join(verd.select("doc_id"), "doc_id")))

    # 1a. (opt-in) domain-level keep gate — site verdicts from exact
    # decimal quality aggregates, broadcast back (operators/domains.py)
    if domain_min_docs is not None:
        from ..operators.domains import domain_filter, domain_stats

        cols = ["doc_id", "text", domain_col] + (
            ["lang"] if "lang" in raw.columns else []
        )
        dom = domain_filter(
            raw.select(*cols),
            domain_stats(raw.select(*cols), domain_col=domain_col),
            min_docs=domain_min_docs,
            min_avg_quality=domain_min_avg_quality,
            domain_col=domain_col,
        ).where("domain_keep")
        docs = stage("domain", _bucketed(dom.select("doc_id", "text"))).select(
            "doc_id", "text"
        )
    else:
        docs = raw.select("doc_id", "text")

    # 0c. (opt-in) ftfy-style mojibake repair — a transform, not a
    # filter (total); encoding repair runs FIRST among the text
    # stages so every downstream gate (stopword densities, n-gram
    # hashes, dedup keys) sees the intended characters, never the
    # CP1252 corruption (operators/mojibake.py)
    if fix_mojibake:
        from ..operators.mojibake import mojibake_features

        docs = stage(
            "mojibake",
            _bucketed(
                mojibake_features(docs).select(
                    "doc_id", F.col("text_fixed").alias("text")
                )
            ),
        ).select("doc_id", "text")

    # 0b. (opt-in) jusText-style boilerplate strip — rewrite each doc
    # to its content lines; docs that were pure chrome drop out
    if strip_boilerplate:
        from ..operators.boilerplate import boilerplate_strip

        bp = boilerplate_strip(docs).where(F.col("n_content") > 0)
        docs = stage(
            "boilerplate",
            _bucketed(bp.select("doc_id", F.col("text_content").alias("text"))),
        ).select("doc_id", "text")

    # 1. PII scrub — a transform, not a filter (every doc survives)
    pii_out = stage(
        "pii",
        _bucketed(
            scrub_pii(docs).select("doc_id", F.col("text_clean").alias("text"))
        ),
    ).select("doc_id", "text")

    # 1b. (opt-in) CCNet normalized-key exact dedup — case / digits /
    # accents / punctuation-style copies collapse to one keeper
    # (functions/textnorm.py). Runs right after pii, before any
    # content gate: the cheapest whole-doc dedup, and the gates
    # shouldn't re-score trivial copies
    if norm_dedup:
        from ..functions.textnorm import normalized_dedup

        nk = normalized_dedup(pii_out).where("keep").select("doc_id")
        pii_out = stage("norm_dedup", _bucketed(pii_out.join(nk, "doc_id"))).select(
            "doc_id", "text"
        )

    # 2. Gopher repetition gate — drop docs failing any §A1.1 rule
    rep_keep = repetition_features(pii_out).where("keep").select("doc_id")
    if ngram_rules:
        from ..operators.repetition import ngram_repetition_features

        rep_keep = rep_keep.join(
            ngram_repetition_features(pii_out).where("keep").select("doc_id"),
            "doc_id",
        )
    if gopher_doc_rules:
        from ..operators.gopher_quality import gopher_quality_features

        rep_keep = rep_keep.join(
            gopher_quality_features(pii_out).where("keep").select("doc_id"),
            "doc_id",
        )
    rep_out = stage(
        "repetition", _bucketed(pii_out.join(rep_keep, "doc_id"))
    ).select("doc_id", "text")

    # 2a. (opt-in) readability band — keep docs whose Flesch reading
    # ease falls in [lo, hi] (functions/readability.py): drops both
    # word-salad (very low) and degenerate ultra-short-word text
    # (very high); unscored (word-less) docs drop
    if readability_range is not None:
        from ..functions.readability import readability

        lo, hi = readability_range
        rb = (
            readability(rep_out)
            .where(F.col("flesch_ease").between(float(lo), float(hi)))
            .select("doc_id")
        )
        rep_out = stage("readability", _bucketed(rep_out.join(rb, "doc_id"))).select(
            "doc_id", "text"
        )

    # 2b. (opt-in) corpus-level paragraph dedup — the RefinedWeb
    # granularity, BEFORE line dedup: line_dedup rejoins kept lines
    # with single newlines, which erases blank-line paragraph
    # boundaries, so the coarser unit must dedup first (coarse-to-fine
    # ordering: docs -> paragraphs -> lines -> spans). Fully-duplicate
    # docs drop out.
    if para_dedup:
        from ..operators.repetition import paragraph_dedup

        pd = paragraph_dedup(rep_out).where(F.col("n_kept") > 0)
        rep_out = stage(
            "para_dedup",
            _bucketed(pd.select("doc_id", F.col("text_dedup").alias("text"))),
        ).select("doc_id", "text")

    # 3. corpus-level line dedup — rewrite text to surviving lines;
    # docs whose every line was someone else's boilerplate drop out
    ld = line_dedup(rep_out).where(F.col("n_kept") > 0)
    ld_out = stage(
        "line_dedup",
        _bucketed(ld.select("doc_id", F.col("text_dedup").alias("text"))),
    ).select("doc_id", "text")

    # 3b. (opt-in) corpus-level sentence dedup — the finer rung below
    # lines (docs -> paragraphs -> lines -> sentences -> spans);
    # line_dedup's single-newline rejoin leaves sentences intact, so
    # sentence dedup correctly runs AFTER it. Fully-duplicate docs
    # drop out.
    if sent_dedup:
        from ..operators.repetition import sentence_dedup

        sdp = sentence_dedup(ld_out).where(F.col("n_kept") > 0)
        ld_out = stage(
            "sent_dedup",
            _bucketed(sdp.select("doc_id", F.col("text_dedup").alias("text"))),
        ).select("doc_id", "text")

    # 4. ExactSubstr span removal — rewrite text with corpus-duplicated
    # spans excised; docs reduced to nothing drop out
    sd = substring_dedup(ld_out, w=span_w).where(F.col("text_clean") != "")
    sd_out = stage(
        "span_dedup",
        _bucketed(sd.select("doc_id", F.col("text_clean").alias("text"))),
    ).select("doc_id", "text")

    # 5. benchmark decontamination — drop any doc sharing an n-gram
    # with the benchmark (Brown 2020 discipline); pass-through gate
    # when no benchmark is supplied
    if benchmark_path is not None:
        from ..operators.decontaminate import decontaminate

        bench = spark.read.parquet(benchmark_path).select("text")
        dc_keep = (
            decontaminate(sd_out, bench, n=decontam_n).where("keep").select("doc_id")
        )
        dc = sd_out.join(dc_keep, "doc_id")
    else:
        dc = sd_out
    dc_out = stage("decontaminate", _bucketed(dc)).select("doc_id", "text")

    # 5b. (opt-in) CCNet perplexity-bucket keep gate — deterministic
    # (integer term sums + histogram thresholds), hence resume-sound
    if ppl_keep_buckets is not None:
        from ..operators.lmscore import (
            lm_score,
            ppl_bucket_thresholds_hist,
            ppl_buckets,
        )

        base = dc_out.withColumn("_lang", textfn.lang_id(F.col("text")))
        scored = lm_score(
            dc_out, k=0.5, term_quantized=True
        ).join(base.select("doc_id", "_lang"), "doc_id")
        th = ppl_bucket_thresholds_hist(scored, "_lang", bin_width=ppl_bin_width)
        kept_ids = (
            ppl_buckets(scored, th, "_lang")
            .where(F.col("bucket").isin(*ppl_keep_buckets))
            .select("doc_id")
        )
        dc_out = stage("ppl", _bucketed(dc_out.join(kept_ids, "doc_id"))).select(
            "doc_id", "text"
        )

    # 5c. (opt-in) topic gate — keep only documents whose
    # lexicon-argmax topic is in ``topic_keep`` (operators/topics.py;
    # 'other' must be listed to keep unmatched docs). The broadcast
    # probe rides the scan; deterministic argmax keeps resume sound.
    if topic_keep is not None:
        from ..operators.topics import topic_assign

        tk_ids = (
            topic_assign(dc_out)
            .where(F.col("topic").isin(*topic_keep))
            .select("doc_id")
        )
        dc_out = stage("topic", _bucketed(dc_out.join(tk_ids, "doc_id"))).select(
            "doc_id", "text"
        )

    # 6. deterministic selection: per-language stratified rates, or —
    # when a DSIR target corpus is supplied — Gumbel-top-k importance
    # resampling toward it (both partition/cluster-size invariant)
    if dsir_target_path is not None:
        from ..operators.dsir import dsir_resample, dsir_weights

        tgt = spark.read.parquet(dsir_target_path).select("doc_id", "text")
        sel = dsir_resample(dsir_weights(dc_out, tgt), dsir_select).select(
            "doc_id"
        )
        sampled = dc_out.join(sel, "doc_id")
    elif mixture_targets is not None:
        from ..operators.sampling import mixture_sample

        sampled = mixture_sample(
            dc_out.withColumn("_lang", textfn.lang_id(F.col("text"))).withColumn(
                "_nt", textfn.token_count(F.col("text")).cast("long")
            ),
            "_lang",
            "_nt",
            mixture_targets,
            mixture_budget,
            "doc_id",
        ).select("doc_id", "text")
    elif unimax_budget is not None:
        from ..operators.sampling import unimax_sample

        sampled = unimax_sample(
            dc_out.withColumn("_lang", textfn.lang_id(F.col("text"))).withColumn(
                "_nt", textfn.token_count(F.col("text")).cast("long")
            ),
            "_lang",
            "_nt",
            unimax_budget,
            "doc_id",
            max_epochs=unimax_max_epochs,
        ).select("doc_id", "text")
    else:
        sampled = stratified_sample(
            dc_out.withColumn("_lang", textfn.lang_id(F.col("text"))),
            "_lang",
            rates or {},
            "doc_id",
            default_rate=default_rate,
        ).select("doc_id", "text")
    sm_out = stage("sample", _bucketed(sampled)).select("doc_id", "text")

    # 7. sequence packing — the training-batch plan, keyed by its own
    # pack_group (natural resume unit: one group packs in one task);
    # strategy 'ffd' swaps in first-fit-decreasing for better fill
    plan = pack_sequences(
        sm_out, budget=pack_budget, groups=pack_groups, strategy=pack_strategy
    )
    stage("pack", plan, key_col="pack_group")

    # 8. shard layout — deterministic corpus shuffle + token-budget
    # cut over the SELECTED documents (the loader-manifest output;
    # keyed by shard_id, its natural resume unit)
    from ..operators.sharding import assign_shards

    toks = sm_out.select(
        "doc_id", textfn.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    stage("shard", assign_shards(toks, shard_budget), key_col="shard_id")

    # 9. (opt-in) context-window fan-out — the training-example table
    # (operators/chunking.py; stride defaults to non-overlapping)
    if chunk_size is not None:
        from ..operators.chunking import chunk_windows

        ch = chunk_windows(sm_out, chunk_size, chunk_stride or chunk_size)
        stage("chunk", _bucketed(ch))

    return summary
