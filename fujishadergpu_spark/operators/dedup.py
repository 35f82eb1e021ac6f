"""Deduplication operators for web-scale training-data pipelines.

Four families, each a distinct scale/recall trade-off:

- exact_dedup: hash-groupBy (one shuffle, exact). The shuffle key is
  (xxhash64(norm), length(norm)) — 16 bytes/row — never the text.
- minhash_lsh_pairs: char-shingle MinHash (Carter-Wegman universal
  hashing mod 2^31-1, exact in uint64 — no overflow wrap) + banded
  LSH. Band rows are (id, band, bucket) ONLY: document text never
  enters the band explode or the self-join shuffle. Oversized buckets
  (boilerplate shingles) are capped before the self-join so one hot
  bucket cannot go quadratic. Exact-Jaccard verification joins text
  back for the (tiny) candidate set only, with per-document shingle
  caching inside the Arrow batch.
- simhash_pairs: 64-bit SimHash computed ENTIRELY JVM-side (explode
  tokens -> xxhash64 -> 64 map-side-combined bit sums) + 4x16-bit
  band join + Hamming filter via F.bit_count. No Python in the path.
- embedding_near_dup: banded random-hyperplane sketches (b bands x r
  bits, the signed-random-projection analog of MinHash banding:
  recall 1-(1-p^r)^b instead of the all-bits-agree p^16 of a single
  sketch) + exact cosine verify (JVM zip_with/aggregate).

Shuffle discipline (the 100 TB contract): every wide operator here
shuffles fixed-width keys/ids; variable-length payloads (text,
embeddings) are joined back only for verified-candidate sets.

Pair outputs are canonicalized (id_a < id_b) and deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..session import spread

# Mersenne prime 2^31-1: with 31-bit hashes and a, b < p the product
# a*h + b < 2^62 is exact in uint64, so ((a*h + b) mod p) is the
# genuine Carter-Wegman universal family — not an overflow-wrapped
# approximation (the 61-bit variant silently wrapped mod 2^64).
P31 = np.uint64((1 << 31) - 1)


# ----------------------------- exact ---------------------------------

def norm_text(t):
    """The exact-dedup key normalization (lowercase, whitespace runs
    collapsed, trimmed). Single definition shared by batch
    ``exact_dedup`` and ``streaming.events.streaming_dedup`` so their
    16-byte keys can never drift."""
    return F.lower(F.trim(F.regexp_replace(t, "\\s+", " ")))


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text", normalize: bool = True) -> DataFrame:
    """One row per distinct text: (canonical_id = min id, dup_count).

    Groups on (xxhash64(norm), length(norm)) — a 16-byte shuffle row at
    any document size, with map-side partial aggregation. A collision
    would need equal 64-bit hashes AND equal lengths (~2^-64 per pair).
    """
    t = F.col(text_col)
    if normalize:
        t = norm_text(t)
    return (
        df.select(F.col(id_col), F.xxhash64(t).alias("_h"), F.length(t).alias("_len"))
        .groupBy("_h", "_len")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_count"))
        .drop("_h", "_len")
    )


# ------------------------- minhash + LSH ------------------------------

def _shingle_hashes(text: str, width: int) -> np.ndarray:
    """Distinct char-shingle 31-bit hashes (polynomial rolling hash
    reduced mod 2^31-1, the universal-hash input domain)."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if len(b) < width:
        b = np.pad(b, (0, width - len(b)), constant_values=32)
    n = len(b) - width + 1
    win = np.lib.stride_tricks.sliding_window_view(b, width)
    base = np.uint64(1000003)
    h = np.zeros(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(width):
            h = h * base + win[:, j]
    return np.unique(h % P31)


def make_minhash_udf(num_hashes: int = 64, shingle: int = 5, seed: int = 42):
    """Series->Series Arrow UDF: text -> array<long> of MinHash values.

    min_j((a_j*h + b_j) mod p), p = 2^31-1, a_j in [1, p), b_j in
    [0, p): exact 62-bit products, a true universal family, vectorized
    as one (shingles x num_hashes) matrix min per doc.
    """
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 31) - 1, size=num_hashes).astype(np.uint64)
    b = rng.randint(0, (1 << 31) - 1, size=num_hashes).astype(np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def minhash_udf(text: pd.Series) -> pd.Series:
        out = []
        for s in text.fillna(""):
            sh = _shingle_hashes(s, shingle)
            m = (sh[:, None] * a[None, :] + b[None, :]) % P31
            out.append(m.min(axis=0).astype(np.int64))
        return pd.Series(out)

    return minhash_udf


def _jaccard_batch(ta: pd.Series, tb: pd.Series, shingle: int) -> pd.Series:
    """Exact Jaccard for a candidate batch, vectorized ACROSS pairs.

    Shingle sets are computed once per DISTINCT text in the batch
    (documents in many candidate pairs — the boilerplate case — are
    hashed once). All per-pair intersections are then ONE sort: each
    pair's two (internally-unique) shingle arrays are concatenated and
    tagged with the pair index packed above the 31-bit shingle value
    (pair << 31 | value is exact in uint64), so adjacent equal values
    after the sort count exactly the per-pair intersection — no
    per-pair Python loop, no per-pair intersect1d.
    """
    n = len(ta)
    if n == 0:
        return pd.Series(np.empty(0, dtype=np.float64))
    both = pd.concat(
        [ta.fillna("").reset_index(drop=True), tb.fillna("").reset_index(drop=True)],
        ignore_index=True,
    )
    codes, uniques = pd.factorize(both)
    ia, ib = codes[:n].astype(np.int64), codes[n:].astype(np.int64)
    shs = [_shingle_hashes(s, shingle) for s in uniques]  # per-DISTINCT-text
    sizes = np.array([v.size for v in shs], dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(sizes)])
    allv = np.concatenate(shs)

    # grouped ranges: one flat gather index over every (pair, side) slice
    seg_text = np.empty(2 * n, dtype=np.int64)
    seg_text[0::2] = ia
    seg_text[1::2] = ib
    seg_len = sizes[seg_text]
    total = int(seg_len.sum())
    take_base = np.repeat(
        offs[seg_text] - np.concatenate([[0], np.cumsum(seg_len)[:-1]]), seg_len
    )
    vals = allv[take_base + np.arange(total)]
    pair = np.repeat(np.repeat(np.arange(n, dtype=np.uint64), 2), seg_len)
    packed = (pair << np.uint64(31)) | vals
    packed.sort()
    eq = packed[1:] == packed[:-1]
    inter = np.bincount((packed[:-1][eq] >> np.uint64(31)).astype(np.int64), minlength=n)
    union = sizes[ia] + sizes[ib] - inter
    # union is never 0 (_shingle_hashes pads to >= 1 shingle); keep the
    # empty-set convention jaccard=1.0 anyway
    return pd.Series(np.where(union > 0, inter / np.maximum(union, 1), 1.0))


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(_id, _band, _bucket) — the ONLY columns that enter the LSH
    band shuffle and self-join (schema-pinned by test_dedup): 3 longs
    per (doc, band), never the text."""
    rows_per_band = num_hashes // bands
    mh = make_minhash_udf(num_hashes, shingle, seed)
    sig = df.select(F.col(id_col).alias("_id"), mh(F.col(text_col)).alias("_sig"))
    band_cols = [
        F.hash(F.slice(F.col("_sig"), i * rows_per_band + 1, rows_per_band), F.lit(i)).alias("_bh")
        for i in range(bands)
    ]
    return sig.select("_id", F.posexplode(F.array(*band_cols)).alias("_band", "_bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket: int = 128,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    signature -> (id, band, bucket) rows -> bucket-size cap ->
    ids-only self-join -> text joined back for candidates -> exact
    verify. The band shuffle carries 3 longs per (doc, band) — at
    10^12 docs x 16 bands that is ~0.4 PB less shuffle than carrying
    the text through the explode. Buckets larger than max_bucket are
    dropped before the self-join (a B-row bucket contributes B(B-1)/2
    candidate pairs; boilerplate shingles would otherwise go
    quadratic) — true duplicate pairs keep colliding in their other
    bands, so the recall cost is bounded by (1 - p^r)^(hot bands).
    """
    banded = minhash_band_rows(df, id_col, text_col, num_hashes, bands, shingle, seed)

    # cap hot buckets before the self-join (count is a cheap partial-agg
    # pass over 12-byte rows; the join then provably touches <= B²/2
    # pairs per bucket)
    sized = banded.join(
        banded.groupBy("_band", "_bucket").agg(F.count("*").alias("_n")).filter(F.col("_n") <= max_bucket),
        ["_band", "_bucket"],
    ).drop("_n")

    left = sized.alias("l")
    right = sized.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._bucket") == F.col("r._bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # text joined back for the candidate set only (tiny vs the corpus)
    texts = df.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_t"))
    cand = (
        cand.join(texts, cand["id_a"] == texts["_tid"]).drop("_tid").withColumnRenamed("_t", "_ta")
        .join(texts, F.col("id_b") == texts["_tid"]).drop("_tid").withColumnRenamed("_t", "_tb")
    )

    @pandas_udf(DoubleType())
    def jaccard_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        return _jaccard_batch(ta, tb, shingle)

    return (
        cand.withColumn("jaccard", jaccard_udf("_ta", "_tb"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -------------------------- n-gram Jaccard ----------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT word-n-gram Jaccard similarity join, fully JVM-side.

    The inverted-index pattern: each document's DISTINCT word n-grams
    explode to (gram-hash, id) rows (16 bytes — the gram text never
    enters the wide shuffle), the self-join on the gram groups shared
    grams per pair, and jaccard = i / (na + nb − i) filters at
    ``threshold``. No sketches, no recall loss: this is the exact
    ground truth minhash_lsh_pairs approximates, priced for corpora
    where the pair blowup is tolerable.

    Scale control: a gram occurring in more than ``max_df`` documents
    contributes df² pair rows (boilerplate n-grams go quadratic —
    the same hot-bucket failure mode as LSH). ``max_df`` drops such
    grams BEFORE the self-join; the result is then a documented
    under-count for pairs whose overlap was carried by dropped grams
    (true near-dup pairs share many rare grams too, so the practical
    recall cost mirrors minhash's bucket cap). None = exact.

    Jaccard denominators always use the FULL distinct-gram counts.
    The exploded gram table is localCheckpoint'ed so the tokenize/
    gram-build scan runs once, not once per downstream consumer
    (self-join sides, size lookups, df cap). Tokenization splits on
    the literal class [ \\t\\r\\n]+ — identical in Java regex and
    DuckDB's RE2, unlike \\s+ whose whitespace sets differ (\\x0B),
    which would silently diverge the DuckDB oracle twin.
    """
    ix, sa, sb = _ngram_intersections(df, id_col, text_col, n, max_df)
    out = (
        ix.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("_i").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _ngram_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of the exact n-gram pair joins: (ix, sa, sb) where
    ix = (id_a, id_b, _i) shared-distinct-gram counts (id_a < id_b)
    and sa/sb = full distinct-gram counts keyed for the two join
    sides. Factored so jaccard and containment run the byte-identical
    gram build; see ngram_jaccard_pairs for the expression-level
    rationale (tokenizer class, short-doc gram, df cap)."""
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), "[ \t\r\n]+"), lambda t: t != ""
    )
    # token-less docs are excluded BEFORE gram construction: they would
    # otherwise all share one empty gram and pair O(E²) (same policy as
    # simhash_signatures; route empty docs through exact_dedup)
    toked = df.select(F.col(id_col).alias("_id"), toks.alias("_t")).filter(
        F.size("_t") > 0
    )
    # n-gram i = tokens[i..i+n-1] joined by single spaces; distinct
    # set; docs shorter than n yield their whole token list as one gram
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_t") - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice("_t", i + 1, n)),
        )
    )
    base = toked.select("_id", grams.alias("_g"))
    ex = (
        base.select("_id", F.explode("_g").alias("_gram"))
        .select("_id", F.xxhash64("_gram").alias("_gh"))
        .localCheckpoint(eager=False)  # one tokenize+gram scan total
    )
    # full distinct-gram counts (pre-cap — ratio denominators), from
    # the checkpointed rows so nothing upstream re-executes
    sizes = ex.groupBy("_id").agg(F.count("*").alias("_n"))
    if max_df is not None:
        ex = ex.join(
            ex.groupBy("_gh").agg(F.count("*").alias("_df")).filter(F.col("_df") <= max_df),
            "_gh",
        ).drop("_df")
    l, r = ex.alias("l"), ex.alias("r")
    ix = (
        l.join(r, (F.col("l._gh") == F.col("r._gh")) & (F.col("l._id") < F.col("r._id")))
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count("*").alias("_i"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    return ix, sa, sb


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT word-n-gram CONTAINMENT join (Broder 1997): the
    asymmetric companion to ngram_jaccard_pairs for partial-copy
    detection — cont_ab = |S(A)∩S(B)| / |S(A)| is high when A sits
    inside B (quoted article, boilerplate-wrapped re-post) even when
    Jaccard is low because B is much longer. Emits (id_a, id_b,
    cont_ab, cont_ba) with id_a < id_b, kept when EITHER direction
    reaches ``threshold``.

    Same plan as the Jaccard join (shared _ngram_intersections core,
    identical tokenizer/gram/df-cap semantics): the only change is
    the ratio projection — intersections divide by one side's gram
    count instead of the union. Determinism: exact-integer numerator
    and denominators; one IEEE double division per direction,
    bit-equal cross-engine.
    """
    ix, sa, sb = _ngram_intersections(df, id_col, text_col, n, max_df)
    cont_ab = F.col("_i").cast("double") / F.col("_na")
    cont_ba = F.col("_i").cast("double") / F.col("_nb")
    return (
        ix.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("cont_ab", cont_ab)
        .withColumn("cont_ba", cont_ba)
        .filter(F.greatest(F.col("cont_ab"), F.col("cont_ba")) >= threshold)
        .select("id_a", "id_b", "cont_ab", "cont_ba")
    )


# ------------------------------ simhash -------------------------------

def simhash_bit_params(num_bits: int = 64, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) coefficients of the universal family
    g_i(h) = (a_i*h + b_i) mod p over p = 2^31-1 — one pair per
    SimHash bit for the 'poly31' hash mode. Shared with the DuckDB
    oracle (queries._simhash_sql) so the two engines derive
    the identical signature from the identical token hash."""
    rng = np.random.RandomState(seed)
    p = (1 << 31) - 1
    return (
        [int(v) for v in rng.randint(1, p, size=num_bits)],
        [int(v) for v in rng.randint(0, p, size=num_bits)],
    )


def poly31_hash(col) -> "F.Column":
    """31-bit polynomial hash of a string column, as a JVM column
    expression: fold (acc*1000003 + codepoint) mod 2^31-1 over the
    characters. Matches DuckDB's list_reduce over
    ascii(string_split(...)) bit-for-bit on any text: ``split(col, '')``
    yields one element per code point and ``ascii()`` is the code
    point of the first character on both engines, so astral-plane
    characters (emoji, U+10000+) fold as ONE code point each
    (poly31_hash('😀') = 128512 = U+1F600). That is what makes a
    SimHash built on it cross-engine SQL-stateable. The fold is an
    interpreted higher-order function — fine over ≤~20-char tokens,
    never use it over large arrays (:func:`poly31_hash_np` is the
    batch form)."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(1000003) + F.ascii(c)) % F.lit((1 << 31) - 1),
    )


_P31 = (1 << 31) - 1
_P31_MULT = 1000003
_POW31 = np.array([1], dtype=np.int64)  # 1000003^k mod p, grown on demand
_P31_CHUNK = 2048  # code-point terms per exact int64 partial sum


def poly31_pows(n: int) -> np.ndarray:
    """First ``n`` powers of the poly31 multiplier mod 2^31-1
    (module-level cache; hot loops index it directly)."""
    global _POW31
    if len(_POW31) < n:
        ext = np.empty(n, dtype=np.int64)
        k = len(_POW31)
        ext[:k] = _POW31
        for i in range(k, n):
            ext[i] = (ext[i - 1] * _P31_MULT) % _P31
        _POW31 = ext
    return _POW31


def poly31_hash_np(strs) -> tuple[np.ndarray, np.ndarray]:
    """:func:`poly31_hash` for a Python sequence of strings, in NumPy:
    returns (hashes, code-point lengths) as int64 arrays.

    Bit-identical to the JVM column fold on all text, astral planes
    included: the string is walked as Unicode code points (UTF-32,
    matching ``F.split(col, '')`` + ``F.ascii``), folded Horner-style
    mod 2^31-1. Vectorization: hash = Σ cp_i · 1000003^(n-1-i) mod p;
    each term is ≤ 0x10FFFF·(p-1) < 2^52, so a partial sum of 2048
    terms plus a reduced accumulator is exact in int64, and a
    trailing mod per chunk recovers the fold. Strings are grouped by
    length so every group is a single NumPy matrix product — no
    per-character Python. This is the hot-path form of the hash
    (guide §4.2: batch-native compute inside the Python boundary)."""
    n = len(strs)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:  # empty partition/batch: no length groups to walk
        return out, np.zeros(0, dtype=np.int64)
    enc = [s.encode("utf-32-le") for s in strs]
    lens = np.fromiter((len(e) >> 2 for e in enc), dtype=np.int64, count=n)
    order = np.argsort(lens, kind="stable")
    sl = lens[order]
    bounds = np.flatnonzero(np.diff(sl)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [n]))
    for s0, e0 in zip(starts, ends):
        length = int(sl[s0])
        if length == 0:
            continue
        idx = order[s0:e0]
        blob = b"".join(enc[i] for i in idx)
        mat = np.frombuffer(blob, dtype="<u4").astype(np.int64).reshape(len(idx), length)
        pw = poly31_pows(length)[:length][::-1]
        acc = np.zeros(len(idx), dtype=np.int64)
        for j0 in range(0, length, _P31_CHUNK):
            j1 = j0 + _P31_CHUNK
            acc = (acc + (mat[:, j0:j1] * pw[j0:j1]).sum(axis=1)) % _P31
        out[idx] = acc
    return out, lens


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", hash: str = "xxhash64"
) -> DataFrame:
    """(id, _sh): 64-bit SimHash of each document's lower-cased
    whitespace tokens (Java ``\\s`` split).

    hash='xxhash64' (default): bit i is bit i of xxhash64(token);
    explode(tokens) -> per-bit sums sum(±1) as 64 map-side-combined
    aggregates -> sign bits packed back into one long, fully
    JVM-side whole-stage codegen. The shuffle after the partial agg
    is 64 longs per document.
    hash='poly31': token hash is poly31_hash(token) and bit i is
    g_i(h) mod 2 under the universal family simhash_bit_params().
    The signature is document-LOCAL (token hashes -> 64 integer bit
    sums -> signs), so it is computed per doc inside one batch UDF
    with ZERO exchanges (_simhash_poly31_arrow). Every step has an
    exact DuckDB statement (``queries._simhash_sql``), which puts
    the full signature computation under the cross-engine hash gate.
    """
    # NOTE: documents with zero tokens get NO signature row (the
    # explode yields nothing). Deliberate: assigning empty docs a
    # shared signature (the old UDF's 0) pairs EVERY empty doc with
    # every other — an O(E²) cluster at web scale. Route empty docs
    # through exact_dedup instead.
    if hash not in ("xxhash64", "poly31"):
        raise ValueError(f"unknown simhash hash mode {hash!r} (xxhash64/poly31)")
    if hash == "poly31":
        return _simhash_poly31_arrow(df, id_col, text_col)
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.filter(F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"), lambda t: t != "")
        ).alias("_tok"),
    ).withColumn("_h", F.xxhash64("_tok"))
    bit_sums = [
        F.sum(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_b{i}")
        for i in range(64)
    ]
    return _pack_bit_sums(toks, bit_sums)


def _simhash_poly31_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    a, b = simhash_bit_params()
    av = np.asarray(a, dtype=np.int64)
    bv = np.asarray(b, dtype=np.int64)
    p = (1 << 31) - 1

    @pandas_udf(LongType())
    def sig(texts: pd.Series) -> pd.Series:
        import re

        ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, exactly
        toks_per_doc = [
            [t for t in ws.split(s) if t] if s else [] for s in texts
        ]
        counts = np.fromiter(
            (len(x) for x in toks_per_doc), dtype=np.int64, count=len(toks_per_doc)
        )
        flat = [t for toks in toks_per_doc for t in toks]
        h, _ = poly31_hash_np(flat)
        out = [None] * len(counts)
        nz = np.flatnonzero(counts > 0)
        if len(nz):
            # per-token ±1 contributions for all 64 universal-family
            # parities, summed per doc with reduceat (integer sums —
            # order-free, exactly the 64-aggregate's arithmetic)
            contrib = (
                2 * (((h[:, None] * av[None, :] + bv[None, :]) % p) & 1) - 1
            )
            off = np.concatenate(([0], np.cumsum(counts)))
            sums = np.add.reduceat(contrib, off[:-1][nz], axis=0)
            packed = (
                (sums > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
            ).sum(axis=1, dtype=np.uint64).view(np.int64)
            for j, i in enumerate(nz):
                out[i] = int(packed[j])
        return pd.Series(out, dtype="object")

    sel = spread(df.select(
        F.col(id_col).alias("_id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_lt"),
    ))
    return (
        sel.select("_id", sig(F.col("_lt")).alias("_sh"))
        .where(F.col("_sh").isNotNull())
    )


def _pack_bit_sums(toks: DataFrame, bit_sums) -> DataFrame:
    agg = toks.groupBy("_id").agg(*bit_sums)
    packed = None
    for i in range(64):
        term = F.when(F.col(f"_b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(term, i)
        packed = term if packed is None else packed.bitwiseXOR(term)
    return agg.select("_id", packed.alias("_sh"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", max_hamming: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: 4x16-bit band join then exact
    Hamming filter via F.bit_count — every stage JVM codegen."""
    sig = simhash_signatures(df, id_col, text_col, hash=hash)
    bands = sig.select(
        "_id", "_sh",
        F.posexplode(
            F.array(*[F.shiftright(F.col("_sh"), 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)])
        ).alias("_band", "_key"),
    )
    l, r = bands.alias("l"), bands.alias("r")
    return (
        l.join(
            r,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._key") == F.col("r._key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"),
            F.bit_count(F.col("l._sh").bitwiseXOR(F.col("r._sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ----------------------- embedding near-dup ---------------------------

def make_band_sketch_udf(dim: int, bands: int = 8, rows_per_band: int = 8, seed: int = 42):
    """embedding -> array<long> of per-band sign-bit keys (signed
    random projections, banded like MinHash LSH).

    A pair at cosine threshold t agrees on one bit with p = 1 - θ/π
    (θ = arccos t); a single n-bit sketch requiring ALL bits equal has
    recall p^n (~8% at t=0.9, n=16 — the round-1 bug). Banding gives
    1-(1-p^r)^b (~94% at t=0.9 with 8x8), with exact verify after.
    """
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(dim, bands * rows_per_band))
    bitw = (1 << np.arange(rows_per_band)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def sketch_udf(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)
        bits = (m @ planes > 0).astype(np.int64).reshape(len(m), bands, rows_per_band)
        keys = (bits * bitw[None, None, :]).sum(axis=2)
        return pd.Series(list(keys))

    return sketch_udf


def embedding_near_dup(
    df: DataFrame, id_col: str, emb_col: str = "embedding",
    dim: int = 64, threshold: float = 0.9, bands: int = 8,
    rows_per_band: int = 8, seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold: banded hyperplane-sketch
    bucket join (ids-only band rows), exact cosine verify with
    built-in zip_with/aggregate — JVM-side, no UDF in the verify."""
    sk = make_band_sketch_udf(dim, bands, rows_per_band, seed)
    sig = df.select(F.col(id_col).alias("_id"), sk(F.col(emb_col)).alias("_sk"))
    banded = sig.select("_id", F.posexplode("_sk").alias("_band", "_key"))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._key") == F.col("r._key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    embs = df.select(F.col(id_col).alias("_eid"), F.col(emb_col).alias("_e"))
    cand = (
        cand.join(embs, cand["id_a"] == embs["_eid"]).drop("_eid").withColumnRenamed("_e", "_ea")
        .join(embs, F.col("id_b") == embs["_eid"]).drop("_eid").withColumnRenamed("_e", "_eb")
    )
    dot = F.aggregate(
        F.zip_with("_ea", "_eb", lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda v: v * v), F.lit(0.0), lambda a, v: a + v)
    )
    return (
        cand.withColumn("cosine", dot / (norm("_ea") * norm("_eb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
