"""ExactSubstr span dedup (operators/spandedup.py): hand-built
micro-corpus with known duplicated spans, checked against the exact
Lee-et-al. semantics (corpus-wide window count >= 2 → covered tokens
removed)."""

import pytest

from fujishadergpu_spark.operators.spandedup import substring_dedup, window_occurrences

# 3-token windows keep the arithmetic checkable by hand.
W = 3


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _by_id(df):
    return {r.doc_id: r for r in df.collect()}


def test_cross_doc_shared_span_removed(spark):
    # "x y z" appears in docs 1 and 2 → its 3 tokens vanish from both;
    # doc 3 shares nothing and survives verbatim.
    out = _by_id(
        substring_dedup(
            _docs(
                spark,
                [
                    (1, "a b c x y z d e"),
                    (2, "p q x y z r s t"),
                    (3, "unique tokens only here nothing shared"),
                ],
            ),
            w=W,
        )
    )
    assert out[1].text_clean == "a b c d e"
    assert out[2].text_clean == "p q r s t"
    assert out[1].n_dup_windows == 1 and out[1].covered_tokens == W
    assert out[3].text_clean == "unique tokens only here nothing shared"
    assert out[3].n_dup_windows == 0 and out[3].dup_frac == 0.0


def test_same_doc_repetition_counts(spark):
    # one doc repeating its own trigram: both occurrences are dup
    # windows (corpus-wide count 2), all 6 covered positions removed.
    out = _by_id(substring_dedup(_docs(spark, [(1, "m n o f g m n o")]), w=W))
    assert out[1].n_dup_windows == 2
    assert out[1].covered_tokens == 6
    assert out[1].text_clean == "f g"


def test_overlapping_dup_windows_cover_union(spark):
    # docs share a 4-token run "w1 w2 w3 w4" → two overlapping
    # 3-windows each; covered = union of positions (4 per doc), not 6.
    out = _by_id(
        substring_dedup(
            _docs(spark, [(1, "a w1 w2 w3 w4 b"), (2, "c w1 w2 w3 w4 d")]), w=W
        )
    )
    for i in (1, 2):
        assert out[i].n_dup_windows == 2
        assert out[i].covered_tokens == 4
    assert out[1].text_clean == "a b"
    assert out[2].text_clean == "c d"


def test_short_and_fully_covered_docs(spark):
    # doc 1 shorter than w → no windows; docs 2/3 are identical
    # 3-token docs → fully covered, empty cleaned text.
    out = _by_id(
        substring_dedup(
            _docs(spark, [(1, "too short"), (2, "same same same"), (3, "same same same")]),
            w=W,
        )
    )
    assert out[1].n_windows == 0 and out[1].text_clean == "too short"
    for i in (2, 3):
        assert out[i].covered_tokens == 3 and out[i].text_clean == ""
        assert out[i].dup_frac == 1.0


def test_window_occurrences_positions(spark):
    occ = window_occurrences(
        _docs(spark, [(1, "t1 t2 t3 t4")]), W, "doc_id", "text"
    ).orderBy("pos")
    rows = occ.collect()
    assert [(r.pos, r.gram) for r in rows] == [(1, "t1 t2 t3"), (2, "t2 t3 t4")]


def test_clean_doc_short_circuit_no_token_explode(spark):
    """Scale contract #3: with no duplicated window a doc's text_clean
    is the whitespace re-join of its own tokens."""
    df = substring_dedup(_docs(spark, [(1, "a b c d e f"), (2, "g h i j k l")]), w=W)
    out = _by_id(df)
    assert out[1].text_clean == "a b c d e f"
    assert out[2].text_clean == "g h i j k l"


def test_arrow_equals_expr(spark):
    """Empty, NULL, short, newline-separated and self-repeating docs.
    A NULL text keeps a NULL n_tokens and cleans to '' (the oracle's
    coalesce); the oracle comparison over the same kinds of rows is
    test_demoted_oracles::test_oracle_matches_on_edge_fixture."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog another tail here"),
        (3, "short doc"),
        (4, ""),
        (5, None),
        (6, "x y z x y z x y z x y z"),  # same-doc repetition
        (7, "a\nb c\nd e f g h i j"),     # newline separators
    ]
    out = _by_id(substring_dedup(_docs(spark, rows), w=W))
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    assert out[1].text_clean == "again and again"
    assert out[2].text_clean == "another tail here"
    assert (out[3].n_windows, out[3].text_clean) == (0, "short doc")
    assert (out[4].n_tokens, out[4].text_clean) == (0, "")
    assert (out[5].n_tokens, out[5].n_windows, out[5].text_clean) == (None, 0, "")
    assert (out[6].covered_tokens, out[6].text_clean) == (12, "")
    assert out[7].text_clean == "a b c d e f g h i j"


def test_window_occurrences_arrow_equals_expr(spark):
    d = _docs(spark, [(1, "t1 t2 t3 t4 t5"), (2, "a b"), (3, None)])
    rows = window_occurrences(d, W, "doc_id", "text").orderBy("doc_id", "pos").collect()
    assert [(r.doc_id, r.pos, r.gram) for r in rows] == [
        (1, 1, "t1 t2 t3"), (1, 2, "t2 t3 t4"), (1, 3, "t3 t4 t5")
    ]


@pytest.mark.parametrize(
    "id_type,ids", [("int", [7, 8, 9]), ("string", ["u7", "u8", "u9"])], ids=["int", "string"]
)
def test_text_operators_keep_id_type(spark, id_type, ids):
    """bm25_topk, substring_dedup and ngram_repetition_features build
    their rows in Python: the id column must come back in its own type
    (not widened to bigint, and string ids must not fail)."""
    from fujishadergpu_spark.operators.bm25 import bm25_topk
    from fujishadergpu_spark.operators.repetition import ngram_repetition_features

    d = spark.createDataFrame(
        list(zip(ids, ["a b c d a b c d", "x y a b c d", None])),
        f"doc_id {id_type}, text string",
    )
    q = spark.createDataFrame([(ids[0], "a b")], f"query_id {id_type}, text string")
    outs = {
        "bm25": bm25_topk(d, q, k=3),
        "span": substring_dedup(d, w=W),
        "ngram": ngram_repetition_features(d),
    }
    for name, out in outs.items():
        assert out.schema["doc_id"].dataType.simpleString() == id_type, name
    assert [r.doc_id for r in outs["bm25"].orderBy("rank").collect()] == ids[:2]
    span = {r.doc_id: r for r in outs["span"].collect()}
    assert span[ids[1]].text_clean == "x y" and span[ids[2]].text_clean == ""
    assert {r.doc_id for r in outs["ngram"].collect()} == set(ids)
