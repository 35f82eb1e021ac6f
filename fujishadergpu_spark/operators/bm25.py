"""BM25 ranked retrieval over a document corpus.

Okapi BM25 (Robertson & Zaragoza 2009) with the Lucene idf variant
``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always positive): the standard
lexical scorer for corpus search and for retrieval-based quality
signals in training-data pipelines (e.g. scoring web pages against a
seed corpus, the FineWeb-Edu / DSIR pattern).

Reference parity: the reference repo is the geospatial half of this
graft and has no text pipeline; this extends the LLM-data-pipeline
family (the training-data-pipeline mandate; README capability table) with the ranked-retrieval skeleton ANN
(operators/ann.py) provides for embeddings.

Scale shape (100 TB corpus, query set << corpus):
- the postings relation (term, doc, tf, dl) is built by ONE corpus
  scan, per document in one mapInPandas (no exchange); the document
  length rides the postings row (8 bytes) so the query path never
  joins the corpus-sized per-doc length relation — document text and
  the raw doc-length table never appear again after the build;
- df/idf is a groupBy over postings — rows are (term, count), tiny;
- the query side is exploded to (query, term) and BROADCAST against
  postings (same contract as decontaminate.py's benchmark set): the
  only full-size shuffle is the per-(query, doc) score combine, two
  longs + one double per surviving row, map-side partial;
- top-k per query is a window over the query partition — bounded by
  |queries| · |matched docs|, never corpus-sized.

Cross-engine determinism (the oracle contract): the per-term score is
built with an exactly-pinned operation order, summed per (query,
doc), and only then quantized to ``round(score * 1e6)`` — float
summation order across engines perturbs ~1e-13 while the quantum is
1e-6, and ranking uses the QUANTIZED value (ties by doc id), so rank
rows hash bit-identically (the quantized-sum technique of the
hillshade trig gate).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.textfn import ws_split, ws_tokens
from ..session import spread


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 matches per query: (query_id, rank, doc_id,
    score_q6) with score_q6 = round(BM25 * 1e6) and rank ties broken
    by ascending doc id (the knn/ann rank-only contract). The doc id
    keeps its input type.

    The postings relation (_doc, _term, _tf, _dl) is built per
    document inside one mapInPandas: term frequencies are
    document-LOCAL, so no corpus-wide (doc, term) exchange is needed
    to count them. The statement of the same relation is the
    ``tf``/``dl`` CTEs of ``queries.BM25_SQL``, the DuckDB oracle that
    pins this operator."""
    toks = docs.select(F.col(id_col).alias("_doc"), ws_tokens(F.col(text_col)).alias("_tk"))
    dl = toks.select("_doc", F.size("_tk").cast("bigint").alias("_dl"))
    stats = dl.agg(
        F.count("*").alias("_n"), F.sum("_dl").alias("_total")
    )
    # _dl rides the postings row (constant per doc): the scoring join
    # below then never touches the corpus-sized dl relation (dl only
    # feeds the single-row stats aggregate)
    def build(it):
        for pdf in it:
            d, t, c, ln = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                tk = ws_split(text)
                if not tk:
                    continue
                cnt: dict[str, int] = {}
                for x in tk:
                    cnt[x] = cnt.get(x, 0) + 1
                for term, n_occ in cnt.items():
                    d.append(did)
                    t.append(term)
                    c.append(n_occ)
                    ln.append(len(tk))
            yield pd.DataFrame({"_doc": d, "_term": t, "_tf": c, "_dl": ln})

    schema = StructType([
        StructField("_doc", docs.schema[id_col].dataType),
        StructField("_term", StringType()),
        StructField("_tf", LongType()),
        StructField("_dl", LongType()),
    ])
    tf = spread(docs.select(id_col, text_col)).mapInPandas(build, schema)
    df_rel = tf.groupBy("_term").agg(F.count("*").alias("_df"))
    qterms = queries.select(
        F.col(query_id_col).alias("_q"),
        F.explode(F.array_distinct(ws_tokens(F.col(query_text_col)))).alias("_term"),
    )
    # operation order below is the oracle contract — mirror any change
    # in queries.BM25_SQL term for term
    n_d = F.col("_n").cast("double")
    avgdl = F.col("_total").cast("double") / F.col("_n")
    idf = F.log(((n_d - F.col("_df")) + F.lit(0.5)) / (F.col("_df") + F.lit(0.5)) + F.lit(1.0))
    denom = F.col("_tf") + F.lit(k1) * (
        (F.lit(1.0) - F.lit(b)) + (F.lit(b) * F.col("_dl")) / avgdl
    )
    contrib = (idf * (F.col("_tf") * F.lit(k1 + 1.0))) / denom
    # df is needed only for the query vocabulary — restrict the
    # vocab-sized df relation before it meets the matched postings so
    # every post-probe relation is bounded by |query terms|
    df_q = df_rel.join(F.broadcast(qterms.select("_term").distinct()), "_term")
    scored = (
        tf.join(F.broadcast(qterms), "_term")
        .join(F.broadcast(df_q), "_term")
        .crossJoin(F.broadcast(stats))
        .select("_q", "_doc", contrib.alias("_c"))
        .groupBy("_q", "_doc")
        .agg(F.round(F.sum("_c") * F.lit(1000000.0)).cast("bigint").alias("score_q6"))
    )
    w = Window.partitionBy("_q").orderBy(F.desc("score_q6"), F.asc("_doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            F.col("_q").alias(query_id_col),
            "rank",
            F.col("_doc").alias(id_col),
            "score_q6",
        )
    )
