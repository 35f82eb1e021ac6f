"""Text-analysis function tests over the driver documents table."""

import numpy as np
from pyspark.sql import functions as F

from fujishadergpu_spark.functions import textfn

SF = "/root/testdata/sf0.001"


def test_token_count(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("  ",), ("one",)], "text string"
    )
    got = [r[0] for r in df.select(textfn.token_count(F.col("text"))).collect()]
    assert got == [3, 0, 0, 1]


def test_ws_split_matches_ws_tokens(spark):
    texts = ["a b  c", "", "  ", "one", "a\nb c\n\nd", "\n", "tab\tstays one", None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = [r[0] for r in df.orderBy("i").select(textfn.ws_tokens(F.col("text"))).collect()]
    assert got[:-1] == [textfn.ws_split(t) for t in texts[:-1]]
    assert got[4] == ["a", "b", "c", "d"] and got[6] == ["tab\tstays", "one"]
    assert got[-1] is None and textfn.ws_split(None) == []


def test_quality_features(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = textfn.quality_features(docs).select("doc_id", "n_chars", "n_chars_f", "n_tokens", "quality_score")
    rows = q.collect()
    assert all(r["n_chars"] == r["n_chars_f"] for r in rows)  # matches driver-provided n_chars
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat of the mat and it is that",),
            ("der hund und die katze ist ein tier",),
            ("le chat est dans la maison pour une heure",),
            ("zzz qqq xxx",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(textfn.lang_id(F.col("text"))).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_fingerprint_deterministic(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", textfn.fingerprint_udf("text").alias("fp")).collect()}
    b = {r["doc_id"]: r["fp"] for r in docs.repartition(7).select("doc_id", textfn.fingerprint_udf("text").alias("fp")).collect()}
    assert a == b
    # distinct texts -> distinct fingerprints (no trivial collisions here)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    fps_by_text = {}
    for did, fp in a.items():
        fps_by_text.setdefault(texts[did], set()).add(fp)
    assert all(len(s) == 1 for s in fps_by_text.values())


def test_fingerprint_matches_reference_fnv():
    import pandas as pd

    from fujishadergpu_spark.functions.textfn import _fingerprint_series

    def fnv1a(s):
        h = 14695981039346656037
        for c in s.encode("utf-8"):
            h = ((h ^ c) * 1099511628211) % (1 << 64)
        return h - (1 << 64) if h >= (1 << 63) else h

    texts = ["hello", "world", "", "a b c", "日本語テキスト"]
    got = _fingerprint_series(pd.Series(texts)).tolist()
    exp = [fnv1a(t) for t in texts]
    assert got == exp


def test_lang_id_margin(spark):
    from pyspark.sql import functions as F

    from fujishadergpu_spark.functions.textfn import lang_id_margin

    docs = spark.createDataFrame(
        [
            (0, "the and that with have this from they"),  # pure en
            (1, "the der and und"),                         # en/de tie 2-2
            (2, "zz qq xx"),                                # no hits
        ],
        "doc_id long, text string",
    )
    pred, top, second, margin = lang_id_margin(F.col("text"))
    out = {
        r["doc_id"]: r.asDict()
        for r in docs.select(
            "doc_id", pred.alias("p"), top.alias("t"), second.alias("s"), margin.alias("m")
        ).collect()
    }
    assert out[0]["p"] == "en" and out[0]["s"] == 0 and out[0]["m"] == 1.0
    # tie: lang-ascending argmax (de before en), margin exactly 0
    assert out[1]["p"] == "de" and out[1]["t"] == 2 and out[1]["s"] == 2
    assert out[1]["m"] == 0.0
    assert out[2]["p"] == "und" and out[2]["m"] is None


def test_lang_id_margin_agrees_with_lang_id(spark):
    from pyspark.sql import functions as F

    from fujishadergpu_spark.functions.textfn import lang_id, lang_id_margin

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = lang_id_margin(F.col("text"))[0]
    n = d.select(
        (pred == lang_id(F.col("text"))).alias("same")
    ).where(~F.col("same")).count()
    assert n == 0
