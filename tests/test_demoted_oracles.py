"""Past-window oracle rot guard (r4 ADVICE #5): every ORACLES entry
demoted past the driver's 50-entry registry window is still run
Spark-vs-DuckDB on every routine test pass, so a demoted oracle can
never silently rot between the occasional full tools/check_oracles.py
runs. Runs at sf0.001 (the smallest fixture) to stay cheap; the full
sf0.01 gate replica remains tools/check_oracles.py."""

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fujishadergpu_spark.queries import ORACLES, QUERIES

# the gate replica OWNS the normalization/hash contract — import it,
# never copy it, so this guard and the replica cannot drift
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracles import frame_hash as _frame_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

DEMOTED = [n for i, n in enumerate(QUERIES) if i >= 50 and n in ORACLES]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_demoted_set_is_nonempty_and_known():
    # the guard must actually be guarding something; a new demoted
    # oracle joins DEMOTED automatically by position
    assert len(DEMOTED) >= 8, DEMOTED


@pytest.mark.parametrize("name", DEMOTED)
def test_demoted_oracle_matches(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), name
    sh, sn = _frame_hash(sdf)
    oh, on = _frame_hash(odf)
    assert (sn, sh) == (on, oh), f"{name}: spark {sn} rows [{sh}] vs duckdb {on} rows [{oh}]"


# Edge rows for the text operators whose only second statement is their
# DuckDB oracle: empty and NULL text, "\n" and multi-space separators,
# tab/VT/FF/CR (Java \s), non-ASCII BMP and astral-plane text,
# single-token docs and repeated grams. Ids are chosen so each query's
# own selection reaches them: BM25 queries are doc_id % 13 == 0, the
# DSIR target is % 5 == 0, span planting appends boilerplate at
# % 7 == 3 and the first ten tokens at % 11 == 4, and the n-gram corpus
# repeats lines at % 3 == 0.
_GREEK = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
    " pi rho sigma tau upsilon phi chi psi omega one two three four five six"
).split()
EDGE_DOCS = [
    (0, ""),
    (1, None),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "the quick brown fox the quick"),
    (4, "dup dup dup dup dup dup dup dup dup"),
    (5, "a  b\n\nc d  "),
    (6, "single"),
    (7, "héllo wörld héllo wörld tokens everywhere"),
    (8, "tab\tand\x0bvertical\fform\rfeeds here"),
    (9, "unicode héllo wörld tökens"),
    (10, None),
    (11, "lazy dog sleeps"),
    (12, "fox fox fox dog"),
    (13, "a\nb c\nthe dog fox quick lazy sleeps"),
    (14, "The Quick brown FOX jumps over the lazy dog"),
    (15, "target like text with the and of grams"),
    (16, "a"),
    (17, None),
    (18, "x y z x y z x y z x y z x y z"),
    (19, "one two three four five six seven eight nine ten eleven twelve"),
    (20, "another target slice document with shared grams"),
    (21, "t t t t t t t t t t t t t t t t t t t t"),
    (22, "a b a b a b a b c d e f g h"),
    (24, "short doc"),
    (25, "shared grams with the raw side of the corpus"),
    (26, "the quick brown fox jumps over the lazy dog again and again"),
    (27, "the quick brown fox jumps over the lazy dog another tail here"),
    (30, "emoji 😀 x𐍈 tokens a😀b emoji 😀"),
    (31, "solo"),
    (33, "a\nb  c\nd e f g h i j k l m n o p q r s t u v w"),
    (37, "p q r s t u v w x y p q r s t u v w x y tail tokens here"),
    (38, "\n"),
    (39, "héllo wörld héllo wörld tokens everywhere again"),
    # a SimHash near-dup pair split only by an astral-plane token: its
    # hamming distance is 3 when 😀 folds as one code point (JVM,
    # DuckDB) and 7 when it folds as two UTF-16 surrogates
    (41, " ".join(_GREEK + ["😀😀"])),
    (42, " ".join(_GREEK)),
    (45, "   "),
    (52, "tab\tand\x0bvertical\fform\rfeeds here and more"),
    (59, "a\nb c\nd e f g h i j"),
    (65, "dup dup dup dup dup dup dup dup dup dup dup dup"),
    (66, None),
]

EDGE_QUERIES = [
    "bm25_topk_docs",
    "doc_dsir_weights",
    "bitext_mine_pairs",
    "span_dedup_docs",
    "doc_ngram_repetition",
    "dedup_simhash_docs",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    ids = [i for i, _ in EDGE_DOCS]
    texts = [t for _, t in EDGE_DOCS]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(["src0"] * len(ids), pa.string()),
                "n_chars": pa.array([None if t is None else len(t) for t in texts], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    rng = np.random.RandomState(7)
    emb = [[float(np.float32(v)) for v in rng.randn(17)] for _ in range(40)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(40), pa.int64()),
                "embedding": pa.array(emb, pa.list_(pa.float32())),
                "label": pa.array([0] * 40, pa.int32()),
            }
        ),
        d / "embeddings.parquet",
    )
    return str(d)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{edge_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_oracle_matches_on_edge_fixture(spark, edge_dir, edge_duck, name):
    sdf = QUERIES[name](spark, edge_dir).toPandas()
    odf = edge_duck.execute(ORACLES[name]).df()
    assert len(odf) > 0, name  # the selection reaches the edge rows
    assert sorted(sdf.columns) == sorted(odf.columns), name
    sh, sn = _frame_hash(sdf)
    oh, on = _frame_hash(odf)
    assert (sn, sh) == (on, oh), f"{name}: spark {sn} rows [{sh}] vs duckdb {on} rows [{oh}]"
