"""PII detection and redaction for web-text training pipelines.

Scrubs the four highest-frequency PII shapes in crawled text — email
addresses, international-style phone numbers, SSN-style identifiers,
and IPv4 addresses — replacing each with a typed placeholder token
(the convention of public corpus-cleaning pipelines, e.g. BigScience
ROOTS / The Pile preprocessing) and counting matches per document.

All patterns are plain column expressions (JVM regexp_count /
regexp_replace, whole-stage codegen — no Python in the hot path) and
deliberately lookaround-free with ASCII character classes only, so
the DuckDB oracle twin runs the IDENTICAL pattern text under RE2 and
hashes bit-for-bit.

Order of application matters and is fixed: email -> phone -> id ->
ip. Emails are scrubbed first so their local parts can't be re-matched
by later numeric patterns; phones (3-3-4 groups) are scrubbed before
SSN-style ids (3-2-4 groups) so neither can partially consume the
other's digits.

Reference parity: the reference repo is the geospatial half of this
graft and has no text pipeline; this extends the LLM-data-pipeline
family (the training-data-pipeline mandate; README capability table).

Scale notes (100 TB): pure per-row column expressions — no shuffle,
no UDF, no state; Catalyst fuses the four rewrites into one codegen
stage and the parquet scan prunes to (id, text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# lookaround-free, ASCII-only, identical semantics under Java regex
# (Spark) and RE2 (DuckDB). \b is the ASCII word boundary in both.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+\\d{1,3}[ -]\\d{3}[ -]\\d{3}[ -]\\d{4}"
ID_RE = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
IPV4_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

# (output count column, pattern, placeholder) in application order
PII_RULES = (
    ("n_emails", EMAIL_RE, "<EMAIL>"),
    ("n_phones", PHONE_RE, "<PHONE>"),
    ("n_ids", ID_RE, "<ID>"),
    ("n_ips", IPV4_RE, "<IP>"),
)


def redact_text(text) -> "F.Column":
    """The sequential PII rewrite as ONE composable column expression
    (the same chain scrub_pii applies) — for pipelines that need the
    redacted text inline without reshaping their relation (e.g. the
    streaming ingest chain, which must keep its timestamp column)."""
    t = text if not isinstance(text, str) else F.col(text)
    for _, pat, token in PII_RULES:
        t = F.regexp_replace(t, pat, token)
    return t


def scrub_pii(df: DataFrame, doc_id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document PII counts + redacted text.

    Counts are taken on the intermediate text each rule actually sees
    (matching the sequential rewrite), so counts and replacements are
    always consistent — e.g. digits inside an already-scrubbed email
    can never be counted again as a phone.
    """
    t = F.col(text_col)
    counts = {}
    for name, pat, token in PII_RULES:
        counts[name] = F.regexp_count(t, F.lit(pat)).cast("bigint")
        t = F.regexp_replace(t, pat, token)
    return df.select(
        F.col(doc_id_col).alias("doc_id"),
        *[counts[name].alias(name) for name, _, _ in PII_RULES],
        t.alias("text_clean"),
        (sum(counts.values()) > F.lit(0)).alias("has_pii"),
    )
