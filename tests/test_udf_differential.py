"""Differential harness for the Arrow UDF factories in ``operators/extract.py``.

Each factory's UDF runs under Spark on one small batch (synthetic pages, a
real scraped page, a head with hreflang alternates, a depth bomb, a null,
PDFs from ``sources/pdfgen``) and
must return exactly what its ``udf.func`` — the Python function Spark ships
to the workers — returns on the same pandas Series. A mismatch means the
Arrow hand-off (struct field matching, null and NaN handling, integer casts)
changed a value between the kernel and the DataFrame.
"""

import inspect
import math
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

from wpextract_spark.operators import extract
from wpextract_spark.sources.pdfgen import build_pdf
from wpextract_spark.sources.synth import synth_page

SCRAPED = (
    Path(__file__).parent
    / "data/e2e/site_scrape/2023/03/26/itaque-temporibus-aut-quia/index.html"
)
BATCH_SCHEMA = "i long, html string, url string, pdf binary, text string, page2 string"

# factory name -> the batch columns it takes
CASES = {
    "content_extract_udf": ["html", "url"],
    "main_content_udf": ["html"],
    "pdf_text_udf": ["pdf"],
    "pdf_build_udf": ["text", "page2"],
    "translations_udf": ["html", "url"],
    "self_url_udf": ["html"],
    "html_text_udf": ["html"],
    "locale_udf": ["url"],
    "page_meta_udf": ["html"],
    "markdown_udf": ["html"],
    "jsonld_udf": ["html"],
    "alternates_udf": ["html"],
}


def _batch() -> pd.DataFrame:
    pages = [synth_page(i) for i in range(6)]
    html = [p["html"].decode() for p in pages]
    url = [p["url"] for p in pages]
    html.append(SCRAPED.read_text(encoding="utf-8"))
    url.append("https://example.org/de/2023/03/26/itaque-temporibus-aut-quia/?preview_id=7")
    html.append(
        '<html><head><link rel="alternate" hreflang="DE" href="/de/">'
        '<link rel="alternate" hreflang="x-default" href="/"></head><body>t</body></html>'
    )
    url.append("/relative/path/")
    html.append("<html><head>" + "<span>" * 3000 + "x")  # depth bomb
    url.append("https://example.org/fr")
    html.append(None)
    url.append(None)
    n = len(html)
    text = [p["text"] for p in pages] + ["héllo 🚀 wörld 漢", "", "", None]
    page2 = (["second page", None] * n)[:n]
    pdf = [build_pdf([t]) if t is not None else None for t in text]
    pdf[-2] = b"%PDF-1.4 truncated"
    return pd.DataFrame(
        {"i": range(n), "html": html, "url": url, "pdf": pdf, "text": text, "page2": page2}
    )


def _plain(value, dtype):
    """One value as plain Python, typed by ``dtype`` the way the Arrow
    conversion types it (NaN in a numeric column is null; struct fields
    are matched by name)."""
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return None
    if isinstance(dtype, StructType):
        get = value.get if isinstance(value, dict) else value.__getitem__
        return tuple(_plain(get(f.name), f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        return [_plain(v, dtype.elementType) for v in value]
    if isinstance(dtype, (LongType, IntegerType)):
        return int(value)
    if isinstance(dtype, BooleanType):
        return bool(value)
    if isinstance(dtype, BinaryType):
        return bytes(value)
    assert isinstance(dtype, StringType), dtype
    return value


def _rows(result, dtype):
    if isinstance(result, pd.DataFrame):
        return [_plain(r, dtype) for r in result.to_dict("records")]
    return [_plain(v, dtype) for v in result]


def test_every_factory_has_a_case():
    factories = {
        name
        for name, fn in inspect.getmembers(extract, inspect.isfunction)
        if name.endswith("_udf") and fn.__module__ == extract.__name__
    }
    assert factories == set(CASES)


@pytest.mark.parametrize("factory", sorted(CASES))
def test_spark_matches_udf_func(spark, factory):
    udf = getattr(extract, factory)()
    cols = CASES[factory]
    batch = _batch()
    expected = _rows(udf.func(*(batch[c] for c in cols)), udf.returnType)

    df = spark.createDataFrame(batch, BATCH_SCHEMA)
    got = df.select("i", udf(*cols).alias("r")).orderBy("i").collect()
    assert [_plain(r["r"], udf.returnType) for r in got] == expected
