"""Publish-date resolution: the multi-signal cascade news pipelines use.

A document's publication date is the most valuable piece of provenance a
training corpus carries (temporal dedup, recency weighting, cutoff
filtering), and no single channel is reliable: JSON-LD is authoritative
when present, the Open Graph ``article:published_time`` meta is common on
WordPress, ``<time datetime>`` is the visible-markup fallback, and a
``/YYYY/MM/DD/`` URL segment is the last resort (the default WordPress
permalink structure).

Architecture: ONE Arrow-batched parse extracts all three in-page signals
(:func:`wpextract_spark.kernel.structdata.extract_publish_signals`); the
cascade itself — validation included — is pure JVM (``try_to_date`` per
signal, so garbage in a stronger signal falls through instead of killing
the row; ANSI mode never throws).  The URL pattern never touches Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from wpextract_spark.htmlkit.dom import parse_html
from wpextract_spark.kernel.structdata import extract_publish_signals

SIGNALS_TYPE = StructType(
    [
        StructField("jsonld_date", StringType()),
        StructField("meta_time", StringType()),
        StructField("time_attr", StringType()),
    ]
)

_COLS = ["jsonld_date", "meta_time", "time_attr"]
_URL_DATE = r"/((?:19|20)\d{2})/(\d{2})/(\d{2})/"


def publish_signals_udf():
    """(html) -> struct of raw date signals; unparseable pages -> nulls."""

    @F.pandas_udf(SIGNALS_TYPE)
    def _signals(html: pd.Series) -> pd.DataFrame:
        rows = []
        for doc_html in html:
            if doc_html is None:
                rows.append(dict.fromkeys(_COLS))
                continue
            try:
                doc = parse_html(doc_html)
                rows.append(extract_publish_signals(doc))
                doc.release()
            except Exception:
                rows.append(dict.fromkeys(_COLS))
        return pd.DataFrame(rows, columns=_COLS)

    return _signals


def _norm(raw: Column) -> Column:
    # ISO 8601 prefixes a date; try_to_date nulls anything else (ANSI-safe).
    return F.try_to_date(F.substring(raw, 1, 10))


def publish_dates(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, publish_date, date_source) — cascade jsonld > meta > time > url.

    ``date_source`` names the signal that won (null when none did) so
    downstream consumers can weigh trust per channel.
    """
    sig = publish_signals_udf()(F.col(html_col))
    url_raw = F.when(
        F.regexp_extract(F.col(url_col), _URL_DATE, 1) != "",
        F.concat_ws(
            "-",
            F.regexp_extract(F.col(url_col), _URL_DATE, 1),
            F.regexp_extract(F.col(url_col), _URL_DATE, 2),
            F.regexp_extract(F.col(url_col), _URL_DATE, 3),
        ),
    )
    candidates = [
        ("jsonld", _norm(sig["jsonld_date"])),
        ("meta", _norm(sig["meta_time"])),
        ("time", _norm(sig["time_attr"])),
        ("url", F.try_to_date(url_raw)),
    ]
    date = F.coalesce(*[expr for _, expr in candidates])
    source = F.coalesce(
        *[F.when(expr.isNotNull(), F.lit(name)) for name, expr in candidates]
    )
    return pages.select(
        F.col(id_col),
        date.alias("publish_date"),
        source.alias("date_source"),
    )
