"""Text-analysis functions for training-data pipelines: token count,
quality scoring, language ID, document fingerprinting.

All hot-path math is either built-in pyspark.sql.functions (JVM,
whole-stage codegen) or Arrow pandas UDFs over NumPy — never per-row
Python. The quality metrics mirror the reference's global-stats
normalize-then-score discipline (reference algorithms/_norm_stats.py):
cheap per-row features first, corpus-level percentiles via
percentile_approx when a relative score is needed.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

# minimal per-language stopword lists (public common words)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"],
    "es": ["el", "la", "de", "y", "un", "una", "es", "que", "por", "para"],
    "ja": ["no", "wa", "ni", "wo", "ga", "to", "de", "mo", "desu", "masu"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty-safe (JVM split + filter)."""
    return F.filter(F.split(text, " +"), lambda t: t != "")


def ws_tokens(text: Column) -> Column:
    """Tokens split on runs of space or newline, empty-safe: the
    ``[ \\n]+`` split every multi-line text operator and its DuckDB
    oracle (``string_split_regex(text, '[ \\n]+')``) share."""
    return F.filter(F.split(text, "[ \n]+"), lambda t: t != "")


_WS_RE = re.compile(r"[ \n]+")


def ws_split(text: str | None) -> list[str]:
    """:func:`ws_tokens` for one Python string, in Arrow UDF bodies
    (NULL and empty text give no tokens)."""
    return [t for t in _WS_RE.split(text) if t] if text else []


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_chars / n_tokens / avg_token_len / alpha_ratio /
    space_ratio / quality_score — all closed-form column expressions
    (mirrored in the DuckDB oracle)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    spaces = n_chars - F.length(F.regexp_replace(t, " ", ""))
    avg_tok = F.when(n_tokens > 0, (n_chars - spaces).cast("double") / n_tokens).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, alpha.cast("double") / n_chars).otherwise(F.lit(0.0))
    space_ratio = F.when(n_chars > 0, spaces.cast("double") / n_chars).otherwise(F.lit(0.0))
    # simple bounded score: favors alphabetic text with sane token
    # lengths; fully deterministic arithmetic
    score = (
        alpha_ratio * 0.5
        + F.when((avg_tok >= 3.0) & (avg_tok <= 10.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return df.withColumns(
        {
            "n_chars_f": n_chars.cast("long"),
            "n_tokens": n_tokens.cast("long"),
            "avg_token_len": avg_tok,
            "alpha_ratio": alpha_ratio,
            "space_ratio": space_ratio,
            "quality_score": score,
        }
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts over the token set (JVM-side
    array_intersect; the n-gram-heuristic family of language ID)."""
    toks = F.array_distinct(tokens(F.lower(text)))
    return {
        lang: F.size(F.array_intersect(toks, F.lit(words)))
        for lang, words in STOPWORDS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language with deterministic tie-break (lang asc);
    'und' when no stopword hits at all."""
    scores = lang_scores(text)
    pairs = F.array(
        *[F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang")) for lang in sorted(STOPWORDS)]
    )
    best = F.array_min(pairs)
    return F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("und"))


def lang_id_margin(text: Column) -> tuple[Column, Column, Column, Column]:
    """(pred_lang, top_hits, second_hits, margin) — the
    CONFIDENCE-aware language ID: CCNet keeps a page only when the
    classifier's top-language score clears a threshold (Wenzek 2020
    §3.2, fastText score >= 0.5); the stopword-family analog is the
    hit margin between the best and runner-up languages,
    margin = (top - second) / (top + second) in [0, 1] (one IEEE
    division of exact ints; 1.0 when unambiguous, 0.0 on a tie, NULL
    when no language hits at all). Pure column expressions — the
    sorted pair array is built once and min/sliced, no UDF."""
    scores = lang_scores(text)
    pairs = F.array_sort(
        F.array(
            *[
                F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
                for lang in sorted(STOPWORDS)
            ]
        )
    )
    top = F.element_at(pairs, 1)
    second = F.element_at(pairs, 2)
    t, s = -top["neg"], -second["neg"]
    pred = F.when(t > 0, top["lang"]).otherwise(F.lit("und"))
    margin = F.when(
        t > 0, (t - s).cast("double") / (t + s).cast("double")
    )
    return pred, t.cast("bigint"), s.cast("bigint"), margin


# --------------------- fingerprint (rolling hash) ---------------------

_FP_P = np.uint64(1099511628211)  # FNV-ish multiplier
_FP_OFF = np.uint64(14695981039346656037)


_FP_LONG_CUTOFF = 4096


def _fingerprint_series(texts: pd.Series) -> pd.Series:
    """64-bit content fingerprint, pure function of the text bytes
    (the content-hash determinism device, cf. the reference's
    elevation-hash noise, reference algorithms/_impl_lic.py:38-46).

    Texts up to 4096 bytes: FNV-1a vectorized across the batch via a
    fixed-width byte matrix (column j hashes byte j of every row at
    once — FNV is sequential per string but parallel across strings).
    Longer texts: blake2b-derived 64-bit (hashlib, C speed) — the
    byte matrix would be O(batch x maxlen) and a single megabyte
    document must not inflate the whole batch. Both are deterministic
    functions of the bytes; the cutoff is part of the function
    definition.
    """
    arr = texts.fillna("").to_numpy(dtype=object)
    enc = [s.encode("utf-8") for s in arr]
    out = np.full(len(arr), _FP_OFF, dtype=np.uint64)

    long_idx = [i for i, b in enumerate(enc) if len(b) > _FP_LONG_CUTOFF]
    if long_idx:
        import hashlib

        for i in long_idx:
            out[i] = np.frombuffer(hashlib.blake2b(enc[i], digest_size=8).digest(), dtype=np.uint64)[0]

    short_idx = np.array([i for i, b in enumerate(enc) if 0 < len(b) <= _FP_LONG_CUTOFF], dtype=np.int64)
    if len(short_idx):
        senc = [enc[i] for i in short_idx]
        maxlen = max(len(b) for b in senc)
        mat = np.zeros((len(senc), maxlen), dtype=np.uint64)
        lens = np.fromiter((len(b) for b in senc), dtype=np.int64, count=len(senc))
        for i, b in enumerate(senc):  # row fill only; hashing below is columnar
            mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
        h = np.full(len(senc), _FP_OFF, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j in range(maxlen):
                active = lens > j
                h[active] = (h[active] ^ mat[active, j]) * _FP_P
        out[short_idx] = h
    return pd.Series(out.view(np.int64))


@pandas_udf(LongType())
def fingerprint_udf(text: pd.Series) -> pd.Series:
    return _fingerprint_series(text)
