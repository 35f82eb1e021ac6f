"""Dedup-operator tests: planted duplicates must be found, clean
corpora must stay clean, pair outputs deterministic."""

import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.operators import dedup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # plant: exact dup of doc 0, near-dup of doc 1 (one token changed)
    base = {r["doc_id"]: r["text"] for r in docs.filter("doc_id IN (0, 1)").collect()}
    near = base[1].split()
    near[len(near) // 2] = "CHANGED"
    extra = spark.createDataFrame(
        [(100000, base[0]), (100001, " ".join(near))], "doc_id long, text string"
    )
    return docs.unionByName(extra)


def test_exact_dedup(spark, docs_with_dups):
    out = dedup.exact_dedup(docs_with_dups, "doc_id")
    n_in = docs_with_dups.count()
    rows = out.collect()
    assert sum(r["dup_count"] for r in rows) == n_in
    dups = [r for r in rows if r["dup_count"] > 1]
    assert len(dups) == 1 and dups[0]["canonical_id"] == 0 and dups[0]["dup_count"] == 2


def test_minhash_lsh_finds_near_dup(spark, docs_with_dups):
    pairs = dedup.minhash_lsh_pairs(docs_with_dups, "doc_id", threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 100000) in got  # exact dup (jaccard 1.0)
    assert (1, 100001) in got  # near dup
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_simhash_finds_near_dup(spark, docs_with_dups):
    pairs = dedup.simhash_pairs(docs_with_dups, "doc_id", max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 100000) in got
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert ham[(0, 100000)] == 0


def test_embedding_near_dup(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dup = emb.filter("vec_id = 0").select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(dup)
    pairs = dedup.embedding_near_dup(both, "vec_id", dim=64, threshold=0.999).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 999999) in got


def test_embedding_near_dup_recall_vs_brute_force(spark):
    """Planted perturbed near-duplicates: banded sketches must recover
    >= 0.9 of the brute-force cosine>=0.9 ground truth (the round-1
    single-sketch construction had ~8% expected recall and returned 0
    pairs)."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    # plant: blend each base vector with its successor (cos ~0.95-0.99)
    a, b = emb.alias("a"), emb.alias("b")
    planted = (
        a.join(b, F.col("a.vec_id") + 1 == F.col("b.vec_id"))
        .select(
            (-F.col("a.vec_id") - 1).alias("vec_id"),  # negative: collision-free at any SF
            F.zip_with("a.embedding", "b.embedding", lambda x, y: x * 0.97 + y * 0.08).alias("embedding"),
        )
    )
    both = emb.unionByName(planted)
    pdf = both.toPandas()
    m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    cos = m @ m.T
    iu = np.triu_indices(len(ids), k=1)
    truth = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(*iu)
        if cos[i, j] >= 0.9
    }
    assert len(truth) >= 100  # planting actually created near-dups
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup(both, "vec_id", dim=64, threshold=0.9).collect()
    }
    assert not got - truth  # exact verify: zero false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_minhash_band_rows_schema_is_ids_only(spark, docs_with_dups):
    """The LSH band shuffle must carry (_id, _band, _bucket) only —
    text through a x16 explode was the round-1 scale-killer."""
    rows = dedup.minhash_band_rows(docs_with_dups, "doc_id")
    assert rows.columns == ["_id", "_band", "_bucket"]


def test_minhash_bucket_cap_drops_hot_bucket(spark):
    """200 identical docs -> every bucket hot -> capped out; two
    distinct near-dups still pair up via their own buckets."""
    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(i, base) for i in range(200)]
    rows += [(1000, "completely different text about spark shuffles and joins here"),
             (1001, "completely different text about spark shuffles and joins there")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, "doc_id", threshold=0.5, max_bucket=50).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1000, 1001) in got  # small buckets still matched
    assert not any(a < 200 and b < 200 for a, b in got)  # hot bucket dropped, not exploded


def test_simhash_is_jvm_only(spark, docs_with_dups):
    """No Python worker in the simhash signature plan (round-1 ran
    per-token/per-byte FNV loops inside a pandas UDF)."""
    sig = dedup.simhash_signatures(docs_with_dups, "doc_id")
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_jaccard_batch_matches_per_pair_reference():
    """The vectorized one-sort _jaccard_batch vs a straightforward
    per-pair intersect1d reference — identical doubles on a randomized
    batch with repeats, empties, and shared texts across pairs."""
    import numpy as np
    import pandas as pd

    from fujishadergpu_spark.operators.dedup import _jaccard_batch, _shingle_hashes

    rng = np.random.RandomState(7)
    vocab = ["lorem", "ipsum", "dolor", "sit", "amet", "consectetur"]
    texts = [" ".join(rng.choice(vocab, size=rng.randint(0, 40))) for _ in range(30)]
    texts += ["", "ab", texts[0], texts[0] + " extra"]
    ia = rng.randint(0, len(texts), 200)
    ib = rng.randint(0, len(texts), 200)
    ta = pd.Series([texts[i] for i in ia])
    tb = pd.Series([texts[i] for i in ib])

    got = _jaccard_batch(ta, tb, 5).to_numpy()
    want = np.empty(len(ta))
    for k, (x, y) in enumerate(zip(ta, tb)):
        sa, sb = _shingle_hashes(x, 5), _shingle_hashes(y, 5)
        inter = np.intersect1d(sa, sb, assume_unique=True).size
        union = sa.size + sb.size - inter
        want[k] = inter / union if union else 1.0
    np.testing.assert_array_equal(got, want)


def test_ngram_jaccard_finds_near_dup(spark, docs_with_dups):
    pairs = dedup.ngram_jaccard_pairs(docs_with_dups, "doc_id", n=3, threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 100000)] == 1.0          # exact dup: identical gram sets
    assert (1, 100001) in got               # one-token change stays above 0.4
    assert all(j >= 0.4 for j in got.values())


def test_ngram_jaccard_exactness_vs_python(spark):
    """The inverted-index join must equal a brute-force python oracle
    (including the short-doc whole-text gram rule)."""
    texts = {
        1: "a b c d e f",
        2: "a b c d e g",
        3: "x y",                 # shorter than n -> one gram "x y"
        4: "x y",                 # identical short doc
        5: "completely different tokens here now",
        6: "",                    # token-less: excluded
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", n=3, threshold=0.01).collect()
    }

    def gramset(t):
        w = t.split()
        if not w:
            return None
        if len(w) <= 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    import itertools

    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = gramset(texts[a]), gramset(texts[b])
        if sa is None or sb is None:
            continue
        i = len(sa & sb)
        if i and i / len(sa | sb) >= 0.01:
            want[(a, b)] = i / len(sa | sb)
    assert got == want
    assert not any(6 in p for p in got)  # empty doc never pairs


def test_ngram_jaccard_max_df_caps_boilerplate(spark):
    """A gram present in every document is dropped before the
    self-join with max_df; rare-gram pairs survive."""
    boiler = "the same boilerplate header text appears everywhere in all"
    rows = [(i, boiler) for i in range(50)]
    rows += [(100, "rare unique alpha beta gamma delta"),
             (101, "rare unique alpha beta gamma epsilon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.3, max_df=10).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)


def test_ngram_containment_exactness_vs_python(spark):
    """Containment (Broder 1997) must equal a brute-force python
    oracle in BOTH directions, and the refactored shared core must
    keep the jaccard-identical gram rules (short-doc whole-text gram,
    empty-doc exclusion)."""
    texts = {
        1: "a b c d e f g h",
        2: "a b c d e f g h i j k l m n o p",  # 1 contained in 2
        3: "x y",
        4: "x y",
        5: "totally other words live here",
        6: "",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["cont_ab"], r["cont_ba"])
        for r in dedup.ngram_containment_pairs(df, "doc_id", n=3, threshold=0.01).collect()
    }

    def gramset(t):
        w = t.split()
        if not w:
            return None
        if len(w) <= 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    import itertools

    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = gramset(texts[a]), gramset(texts[b])
        if sa is None or sb is None:
            continue
        i = len(sa & sb)
        if i and max(i / len(sa), i / len(sb)) >= 0.01:
            want[(a, b)] = (i / len(sa), i / len(sb))
    assert got == want
    # the asymmetry this operator exists for: A fully inside B
    assert got[(1, 2)][0] == 1.0 and got[(1, 2)][1] < 1.0


def test_ngram_containment_catches_what_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment 1.0,
    jaccard below any useful threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i} pad{i} more{i}" for i in range(40))
    df = spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string")
    cont = dedup.ngram_containment_pairs(df, "doc_id", n=3, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0]["cont_ab"] == 1.0
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", n=3, threshold=0.4).collect()
    assert jac == []


def test_simhash_poly31_arrow_equals_expr(spark):
    """poly31 signatures over edge rows (the oracle comparison over the
    same kinds of rows is
    test_demoted_oracles::test_oracle_matches_on_edge_fixture)."""
    rows = [
        (1, "The Quick brown FOX jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, ""),
        (4, None),
        (5, "tab\tand\x0bvertical\fform\rfeeds here"),
        (6, "unicode héllo wörld tökens"),
        (7, "a"),
        (8, "tab and vertical form feeds here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from fujishadergpu_spark.operators.dedup import simhash_signatures

    b = {r["_id"]: r["_sh"] for r in simhash_signatures(df, "doc_id", hash="poly31").collect()}
    # empty/null docs emit no signature row
    assert set(b) == {1, 2, 5, 6, 7, 8}
    # lower-casing and the Java \s split (tab/VT/FF/CR) are part of the
    # signature's token set
    assert b[1] == b[2] and b[5] == b[8]
