"""Geoparsing: pages (url, html, text) -> points (lat, lon).

The engine's ingest step — the analog of the reference's
prepare/ingest ETL (reference io/dem_preprocess.py:462-727, which
normalizes arbitrary rasters into the canonical float32/NaN model).
Here the canonical model is a point row (lat:double, lon:double)
geoparsed from a Common-Crawl-style page.

Two sources, which must agree (FIXTURES.md §3):
- URL query parameters: ``lat=<decimal>&lon=<decimal>`` or
  micro-degree integers ``mlat=<int>&mlon=<int>`` (exact; used by the
  DuckDB-oracle queries because integer micro-degrees avoid any
  decimal-formatting ambiguity between engines).
- Free text: ``... near (<lat>, <lon>) ...``.

Extraction is regexp_extract — JVM-side, codegen, no Python. The
HTML->text extraction is a pandas UDF (pure function of the html
bytes → byte-identical text per url regardless of plan/partitioning,
the BASELINE.json per-row invariant; the reference's analogous
determinism device is its position-independent elevation-hash noise,
reference algorithms/_impl_lic.py:38-46).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEC = r"(-?\d+(?:\.\d+)?)"
TEXT_COORD_RE = rf"near \({_DEC}, {_DEC}\)"


def lat_lon_from_url(url: Column) -> tuple[Column, Column]:
    """(lat, lon) doubles from URL query params — decimal
    ``lat=/lon=`` or micro-degree integer ``mlat=/mlon=``. NULL when
    absent.

    ONE regex pass per coordinate (the round-1 shape ran 4 separate
    regexp_extract scans over every URL — scan-side CPU dominated the
    ingest stage): a single ``m?lat=`` pattern captures the whole
    ``[?&]m?lat=<value>`` token, then non-regex string ops split the
    value (substring_index) and pick the micro-degree scaling (does
    the MATCHED token start with a micro key). When a URL carries both
    forms the first occurrence wins — the page model puts the decimal
    form first, preserving the decimal-first precedence.
    Bit-parity: ``x / 1.0`` is exact in IEEE, so the decimal path is
    unchanged ulp-for-ulp.
    """

    def coord(key: str) -> Column:
        tok = F.regexp_extract(url, rf"[?&]m?{key}={_DEC}", 0)
        is_micro = F.substring(tok, 2, 1) == "m"  # char 1 is the [?&]
        return F.when(
            tok != "",
            F.substring_index(tok, "=", -1).cast("double")
            / F.when(is_micro, F.lit(100000.0)).otherwise(F.lit(1.0)),
        )

    return coord("lat"), coord("lon")


def lat_lon_from_text(text: Column) -> tuple[Column, Column]:
    lat = F.regexp_extract(text, TEXT_COORD_RE, 1)
    lon = F.regexp_extract(text, TEXT_COORD_RE, 2)
    return (
        F.when(lat != "", lat.cast("double")),
        F.when(lon != "", lon.cast("double")),
    )


def geoparse(pages: DataFrame, url_col: str = "url", text_col: str = "text") -> DataFrame:
    """pages -> pages + (lat, lon), URL-first with text fallback.

    The two sources are required to agree by the golden-cells fixture
    test (FIXTURES.md §3); the fallback exists for pages whose URL
    carries no coordinates (the 'void fill' analog — reference
    io/dem_preprocess.py repairs missing data the same way).
    """
    ulat, ulon = lat_lon_from_url(F.col(url_col))
    tlat, tlon = lat_lon_from_text(F.col(text_col))
    return pages.withColumns(
        {
            "lat": F.coalesce(ulat, tlat),
            "lon": F.coalesce(ulon, tlon),
        }
    )


# ----------------------- html -> text extraction ----------------------

_ENTITIES = [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'")]


def _extract_series(html: pd.Series) -> pd.Series:
    """Vectorized <p>...</p> body extraction + entity unescape.

    Pure function of the html bytes: same bytes -> same text on every
    executor, every partitioning, every run (byte-identical invariant).
    """
    s = html.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else None)
    s = s.str.extract(r"<p>(.*?)</p>", expand=False)
    # &amp; must be unescaped LAST so '&amp;lt;' -> '&lt;' stays literal.
    for ent, ch in reversed(_ENTITIES):
        s = s.str.replace(ent, ch, regex=False)
    return s


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return _extract_series(html)


def extract_text(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Adds ``extracted_text`` from the html binary column."""
    return pages.withColumn("extracted_text", extract_text_udf(F.col(html_col)))
