"""Margin-based bitext mining (operators/bitext.py): planted
translation pairs mine, diffuse sources with no clear winner don't,
the ratio margin suppresses hub vectors that raw cosine would
mis-mine, and negative-cosine pairs never mine."""

import math

import pytest

from fujishadergpu_spark.operators.bitext import candidate_scores, mine_bitext


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _unit(*v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_planted_pair_mines_and_diffuse_source_does_not(spark):
    # src 0 has a true translation (tgt 101, nearly parallel, margin
    # ~1.32); src 2 has TWO near-equal best targets (107, 109), which
    # drives its ratio margin toward 1 (~1.14) — the threshold at 1.2
    # separates a real translation from an ambiguous one
    src = _emb_df(spark, [
        (0, _unit(1.0, 0.0, 0.0, 0.05)),
        (2, _unit(0.5, 0.5, 0.5, 0.5)),
    ])
    tgt = _emb_df(spark, [
        (101, _unit(0.99, 0.01, 0.0, 0.05)),   # 0's translation
        (103, _unit(0.0, 1.0, 0.0, 0.0)),
        (105, _unit(0.0, 0.0, 1.0, 0.0)),
        (107, _unit(0.5, 0.5, 0.5, 0.49)),     # near-tie pair for src 2
        (109, _unit(0.5, 0.5, 0.49, 0.5)),
    ])
    mined = {
        r["src_id"]: r["tgt_id"]
        for r in mine_bitext(candidate_scores(src, tgt), k=2, margin_threshold=1.2).collect()
    }
    assert mined == {0: 101}


def test_margin_suppresses_hubs_where_raw_cosine_fails(spark):
    # hub h: cos 0.7 to BOTH sources. true partner t: cos 0.65 to
    # src 0 only. Raw cosine mines (0, hub) — wrong; the ratio margin
    # divides by the hub's fat kNN denominator and prefers t:
    #   margin(0, h) = 4*0.70 / ((0.70+0.65) + (0.70+0.70)) ~ 1.02
    #   margin(0, t) = 4*0.65 / ((0.70+0.65) + (0.65+0.10)) ~ 1.24
    src = _emb_df(spark, [
        (0, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ])
    hub = _unit(0.7, 0.7, math.sqrt(1 - 2 * 0.49))
    true_t = _unit(0.65, 0.10, math.sqrt(1 - 0.4225 - 0.01))
    tgt = _emb_df(spark, [(101, hub), (103, true_t)])
    cand = candidate_scores(src, tgt)
    # precondition: raw cosine really does prefer the hub for src 0
    q = {(r["src_id"], r["tgt_id"]): r["qcos"] for r in cand.collect()}
    assert q[(0, 101)] > q[(0, 103)]
    mined = {
        r["src_id"]: r["tgt_id"]
        for r in mine_bitext(cand, k=2, margin_threshold=0.0).collect()
    }
    assert mined[0] == 103  # margin flips the hub's raw-cosine win


def test_negative_cosine_pairs_never_mine(spark):
    src = _emb_df(spark, [(0, [1.0, 0.0])])
    tgt = _emb_df(spark, [(101, [-1.0, 0.0]), (103, [-0.9, -0.1])])
    assert mine_bitext(candidate_scores(src, tgt), k=2, margin_threshold=0.0).count() == 0


def test_k_validation(spark):
    df = _emb_df(spark, [(0, [1.0])])
    with pytest.raises(ValueError, match="k must be"):
        mine_bitext(candidate_scores(df, df), k=0)


def test_candidate_scores_arrow_equals_expr(spark):
    # deterministic pseudo-random embeddings, odd dims, negatives: every
    # pair is scored once, a self pair is exactly 1e12 and the scores
    # are symmetric (the oracle comparison over these rows is
    # test_demoted_oracles::test_oracle_matches_on_edge_fixture)
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (i, [float(np.float32(v)) for v in rng.randn(17)]) for i in range(40)
    ]
    df = _emb_df(spark, rows)
    src = df.filter("vec_id % 2 = 0")
    tgt = df.filter("vec_id % 2 = 1")
    b = candidate_scores(src, tgt).orderBy("src_id", "tgt_id").collect()
    assert len(b) == 20 * 20
    assert {(r.src_id % 2, r.tgt_id % 2) for r in b} == {(0, 1)}
    q = {(r.src_id, r.tgt_id): r.qcos for r in candidate_scores(df, df).collect()}
    assert all(q[(i, i)] == 10**12 for i in range(40))
    assert all(q[(i, j)] == q[(j, i)] for i in range(40) for j in range(i))


def test_candidate_scores_empty_tgt_is_empty(spark):
    src = _emb_df(spark, [(0, _unit(1.0, 0.0)), (1, _unit(0.0, 1.0))])
    cand = candidate_scores(src, _emb_df(spark, []))
    assert cand.columns == ["src_id", "tgt_id", "qcos"]
    assert cand.count() == 0
    assert mine_bitext(cand, k=2, margin_threshold=0.0).count() == 0


def test_candidate_scores_keeps_integral_ids_refuses_others(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1.0])], "vec_id int, embedding array<float>"
    )
    cand = candidate_scores(df, df)
    assert [f.dataType.simpleString() for f in cand.schema.fields] == ["int", "int", "bigint"]
    assert sorted(tuple(r) for r in cand.collect()) == [
        (1, 1, 10**12), (1, 2, 707106781187), (2, 1, 707106781187), (2, 2, 10**12)
    ]
    bad = spark.createDataFrame([("u1", [1.0])], "vec_id string, embedding array<float>")
    with pytest.raises(ValueError, match="vec_id must be an integral column"):
        candidate_scores(bad, df)


def test_candidate_scores_refuses_tgt_above_cap(spark, monkeypatch):
    """The tgt side is collected and broadcast whole, so a side above
    CAP rows is refused before any pair is scored."""
    from fujishadergpu_spark.operators import bitext

    df = _emb_df(spark, [(i, _unit(1.0, float(i))) for i in range(4)])
    monkeypatch.setattr(bitext, "CAP", 4)
    assert candidate_scores(df, df).count() == 16
    monkeypatch.setattr(bitext, "CAP", 3)
    with pytest.raises(ValueError, match="more than CAP=3 rows"):
        candidate_scores(df, df)


def test_round_half_up_matches_decimal_half_up_near_half():
    """The Arrow path's F.round twin on the values where floor(y + 0.5)
    goes wrong (y + 0.5 rounds up to 1 just below 0.5) and on its exact
    neighbours: decimal HALF_UP of the value's shortest repr, which is
    what F.round(double) computes. No JVM needed."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from fujishadergpu_spark.operators.bitext import _round_half_up

    ys = [0.49999999999999994, 0.5, 1.4999999999999998]
    ys = np.array(ys + [-y for y in ys])
    want = [int(Decimal(repr(float(y))).quantize(Decimal(1), rounding=ROUND_HALF_UP)) for y in ys]
    assert want == [0, 1, 1, 0, -1, -1]
    assert _round_half_up(ys).tolist() == want
