"""BM25 ranked retrieval (operators/bm25): exactness vs a naive
Python scorer on a hand corpus, plus the ranking-contract invariants
the oracle relies on (quantized scores, ties by doc id)."""

import math

from pyspark.sql import Row

from fujishadergpu_spark.operators.bm25 import bm25_topk

K1, B = 1.2, 0.75


def _naive_bm25(docs: dict[int, str], query: str, k1=K1, b=B):
    """Straight-line Okapi BM25 with the Lucene idf, mirroring the
    operator's pinned operation order."""
    toks = {i: [t for t in t_.split(" ") if t] for i, t_ in docs.items()}
    n = len(docs)
    dl = {i: len(tk) for i, tk in toks.items()}
    avgdl = float(sum(dl.values())) / n
    df: dict[str, int] = {}
    for tk in toks.values():
        for t in set(tk):
            df[t] = df.get(t, 0) + 1
    scores: dict[int, float] = {}
    for term in dict.fromkeys([t for t in query.split(" ") if t]):
        if term not in df:
            continue
        idf = math.log(((float(n) - df[term]) + 0.5) / (df[term] + 0.5) + 1.0)
        for i, tk in toks.items():
            tf = tk.count(term)
            if tf == 0:
                continue
            denom = tf + k1 * ((1.0 - b) + (b * dl[i]) / avgdl)
            scores[i] = scores.get(i, 0.0) + (idf * (tf * (k1 + 1.0))) / denom
    return {i: round(s * 1e6) for i, s in scores.items()}


DOCS = {
    1: "spark shuffle join spark spark",
    2: "spark shuffle join broadcast hash join",
    3: "window agg sort window agg",
    4: "spark",
    5: "broadcast hash join hash hash",
    6: "sort merge join shuffle sort merge",
}


def test_matches_naive_python_scorer(spark):
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS.items()])
    queries = spark.createDataFrame(
        [Row(query_id=100, text="spark join"), Row(query_id=200, text="hash sort")]
    )
    got = {
        (r.query_id, r.doc_id): (r.rank, r.score_q6)
        for r in bm25_topk(docs, queries, k=6).collect()
    }
    for qid, qtext in [(100, "spark join"), (200, "hash sort")]:
        want = _naive_bm25(DOCS, qtext)
        ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
        assert {d for (q, d) in got if q == qid} == set(want)
        for rank, (doc, q6) in enumerate(ranked, start=1):
            assert got[(qid, doc)] == (rank, q6), (qid, doc)


def test_topk_truncation_and_duplicate_query_terms(spark):
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS.items()])
    # repeated query terms count once (array_distinct): "spark spark"
    # scores identically to "spark"
    queries = spark.createDataFrame(
        [Row(query_id=1, text="spark"), Row(query_id=2, text="spark spark")]
    )
    out = bm25_topk(docs, queries, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score_q6))
    assert len(by_q[1]) == 2 and sorted(by_q[1]) == sorted(by_q[2])
    # doc 1 (tf=3, shortest-but-one) must out-rank doc 4 (tf=1)? doc 4
    # is length 1 so dl-normalization boosts it; just pin determinism:
    assert by_q[1][0][0] == 1  # rank starts at 1


def test_unmatched_query_absent(spark):
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS.items()])
    queries = spark.createDataFrame([Row(query_id=9, text="zzz qqq")])
    assert bm25_topk(docs, queries, k=3).count() == 0


def test_bm25_arrow_equals_expr(spark):
    """Empty, NULL and newline-separated docs on the Arrow postings
    path (the oracle comparison over the same edge rows is
    test_demoted_oracles::test_oracle_matches_on_edge_fixture)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox the quick"),
            (2, "lazy dog sleeps"),
            (3, ""),
            (4, None),
            (5, "fox fox fox dog"),
            (6, "a\nb c\nthe dog"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(10, "quick fox"), (11, "dog"), (12, "absent")],
        "query_id long, text string",
    )
    from fujishadergpu_spark.operators.bm25 import bm25_topk

    b = bm25_topk(docs, qs, k=3).orderBy("query_id", "rank").collect()
    assert len(b) > 0
    assert {r.query_id for r in b} == {10, 11}
    assert {r.doc_id for r in b if r.query_id == 11} == {2, 5, 6}
