"""The n-gram repetition family over edge rows: empty, NULL,
single-token and newline-separated docs, and heavy repeats. The
oracle comparison over the same kinds of rows is
test_demoted_oracles::test_oracle_matches_on_edge_fixture."""

from __future__ import annotations

import pytest

from fujishadergpu_spark.operators.repetition import ngram_repetition_features


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "a b a b a b a b c d e f g h"),            # heavy top-2 gram
        (2, "one two three four five six seven eight nine ten eleven twelve"),
        (3, "x y z x y z x y z x y z x y z"),          # dup 5..10 coverage
        (4, ""),
        (5, None),
        (6, "solo"),
        (7, "t t t t t t t t t t t t t t t t t t t t"),  # one gram repeated
        (8, "a\nb  c\nd e f g h i j k l m n o p q r s t u v w"),
        (9, "p q r s t u v w x y p q r s t u v w x y tail tokens here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_arrow_equals_expr(spark, corpus):
    b = ngram_repetition_features(corpus).orderBy("doc_id").collect()
    by_id = {r["doc_id"]: r for r in b}
    assert set(by_id) == {1, 2, 3, 4, 5, 6, 7, 8, 9}
    assert by_id[4]["total_chars"] == 0 and by_id[4]["keep"] is True
    assert by_id[5]["total_chars"] == 0 and by_id[5]["keep"] is True
    assert by_id[1]["top2_char_frac"] > 0.2 and by_id[1]["keep"] is False
