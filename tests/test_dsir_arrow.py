"""The DSIR gram-bucket path and its poly31 hash.

``poly31_hash_np`` must fold exactly what the JVM ``poly31_hash``
folds (one code point per character, astral planes included), and the
weights must be total over edge rows: empty text, single-token docs
(no bigrams), repeated grams, NULL text, multi-space/newline
separators and non-ASCII characters. The oracle comparison over the
same kinds of rows is
test_demoted_oracles::test_oracle_matches_on_edge_fixture.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.operators.dedup import poly31_hash, poly31_hash_np
from fujishadergpu_spark.operators.dsir import dsir_weights


def _poly31_ref(s: str) -> int:
    acc = 0
    for c in s:
        acc = (acc * 1000003 + ord(c)) % ((1 << 31) - 1)
    return acc


def test_poly31_np_matches_scalar_fold():
    strs = ["", "a", "spark", "héllo wörld", "中文 token", "x" * 300,
            "a b", " ", "é中", "a😀b", "😀" * 2100, "y" * 5000]
    h, lens = poly31_hash_np(strs)
    for s, hv, lv in zip(strs, h, lens):
        assert hv == _poly31_ref(s), s[:20]
        assert lv == len(s)


def test_poly31_np_matches_jvm_fold_on_astral_text(spark):
    strs = ["spark", "héllo", "中文", "a😀b", "😀", "x𐍈", "😀 x𐍈", "a b"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)], "i int, s string")
    jvm = [r[0] for r in df.orderBy("i").select(poly31_hash(F.col("s"))).collect()]
    h, lens = poly31_hash_np(strs)
    assert h.tolist() == jvm
    assert jvm[strs.index("😀")] == 0x1F600
    assert lens.tolist() == [5, 5, 2, 3, 1, 2, 4, 3]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "single"),
        (3, ""),
        (4, None),
        (5, "dup dup dup dup"),
        (6, "a  b\n\nc d  "),
        (7, "héllo wörld héllo wörld tokens everywhere"),
        (8, "one two three four five six seven eight nine ten"),
        (10, "the quick brown fox jumps over the lazy dog"),
        (15, "target like text with the and of grams"),
        (20, "another target slice document with shared grams"),
        (25, "shared grams with the raw side of the corpus"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_weights_arrow_equals_expr(spark, corpus):
    tgt = corpus.where(F.col("doc_id") % 5 == 0)
    arrow = dsir_weights(corpus, tgt).orderBy("doc_id").collect()
    # sanity: every doc present, empty/null docs weigh 0
    by_id = {r["doc_id"]: r for r in arrow}
    assert set(by_id) == {1, 2, 3, 4, 5, 6, 7, 8, 10, 15, 20, 25}
    assert by_id[3]["n_grams"] == 0 and by_id[3]["weight_q6"] == 0
    assert by_id[4]["n_grams"] == 0 and by_id[4]["weight_q6"] == 0
    # single-token doc: exactly one gram (no bigram)
    assert by_id[2]["n_grams"] == 1
    # n tokens give n unigrams + n - 1 bigrams
    assert by_id[5]["n_grams"] == 7 and by_id[6]["n_grams"] == 7
