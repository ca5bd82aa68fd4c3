"""Arrow-batched UDF stages wrapping the extraction kernel.

Design (SURVEY.md §2.3, §4): the whole per-document kernel — parse, boilerplate
strip, link/image/embed spans — is fused into ONE pandas UDF so each document
is parsed exactly once and no DOM object ever crosses a stage boundary. At the
Spark API level everything is vectorized (Arrow batches); the per-document DOM
walk inside the batch is inherent to the problem (the reference is identical)
and scales by partition parallelism.

All stages are ``F.pandas_udf`` scalar UDFs rather than ``mapInPandas`` so they
compose with arbitrary surrounding columns without re-stating the input schema
(Catalyst keeps column pruning / filter pushdown around them).

One pushdown works against them: a filter on a UDF's *own output* (the
quarantine ``text IS NOT NULL``) is deterministic, so Catalyst substitutes
the UDF into it and pushes it below the projection (and below any join
under that), which evaluates the kernel twice — once under the filter, once
for the projection. The factories stay deterministic so that unrelated
filters (``url = ...``) keep landing below the kernel; the three call sites
that filter on a UDF's output mark it ``.asNondeterministic()`` instead:
``plans.incremental.extract_pages``, ``plans.corpus_build.extract_docs``
and ``sources.scrape.crawl_self_urls``.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wpextract_spark.functions.locale import extract_locale
from wpextract_spark.functions.text import extract_html_text
from wpextract_spark.htmlkit.dom import parse_html
from wpextract_spark.kernel.content import extract_content
from wpextract_spark.kernel.selfurl import extract_self_url
from wpextract_spark.kernel.translations import LangPicker, extract_translations

# ---------------------------------------------------------------------------
# Schemas (the span-record output contract, SURVEY.md §1.3)
# ---------------------------------------------------------------------------

DESTINATION_TYPE = StructType(
    [
        StructField("link", StringType()),
        StructField("data_type", StringType()),
        StructField("idx", LongType()),
    ]
)

RESOLVABLE_LINK_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("href", StringType()),
        StructField("destination", DESTINATION_TYPE),
    ]
)

LINK_TYPE = StructType(
    [StructField("text", StringType()), StructField("href", StringType())]
)

IMAGE_TYPE = StructType(
    [
        StructField("src", StringType()),
        StructField("alt", StringType()),
        StructField("caption", StringType()),
        StructField("destination", DESTINATION_TYPE),
        StructField("internal", BooleanType()),
    ]
)

TRANSLATION_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("href", StringType()),
        StructField("destination", DESTINATION_TYPE),
        StructField("lang", StringType()),
    ]
)

CONTENT_RESULT_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("links_internal", ArrayType(RESOLVABLE_LINK_TYPE)),
        StructField("links_external", ArrayType(LINK_TYPE)),
        StructField("embeds", ArrayType(StringType())),
        StructField("images", ArrayType(IMAGE_TYPE)),
        # Per-document quarantine: at 10^12 docs one pathological page must
        # fail alone, not kill its task (and with it the stage). Non-null =
        # extraction failed; all other fields null. Filter with
        # ``res["error"].isNull()`` / route errors to a quarantine sink.
        StructField("error", StringType()),
    ]
)

PDF_RESULT_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("n_pages", LongType()),
        # Same quarantine contract as CONTENT_RESULT_TYPE: out-of-scope PDFs
        # (encryption, exotic filters) fail alone, never the task.
        StructField("error", StringType()),
    ]
)

TRANSLATION_RESULT_TYPE = StructType(
    [
        StructField("language", StringType()),
        StructField("translations", ArrayType(TRANSLATION_TYPE)),
    ]
)

# ---------------------------------------------------------------------------
# UDF factories
# ---------------------------------------------------------------------------


def content_extract_udf():
    """(html, self_url) -> fused content struct. The flagship kernel stage."""

    _cols = ["text", "links_internal", "links_external", "embeds", "images", "error"]
    _null_row = dict.fromkeys(_cols)

    @F.pandas_udf(CONTENT_RESULT_TYPE)
    def _extract(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        rows = []
        for doc_html, self_link in zip(html, url):
            if doc_html is None:
                rows.append(_null_row)
                continue
            try:
                doc = parse_html(doc_html)
                row = extract_content(doc, self_link or "")
                doc.release()
                row["error"] = None
            except Exception as exc:  # quarantine, never fail the task
                row = dict(_null_row)
                row["error"] = f"{type(exc).__name__}: {exc}"[:500]
            rows.append(row)
        return pd.DataFrame(rows, columns=_cols)

    return _extract


MAIN_CONTENT_RESULT_TYPE = StructType(
    [StructField("text", StringType()), StructField("error", StringType())]
)


def main_content_udf():
    """(html) -> struct<text, error>: readability-style main-content text for
    arbitrary (non-WordPress) pages — the "DOM heuristics" leg of the
    extraction tier. Same quarantine contract as the other kernel UDFs."""
    from wpextract_spark.kernel.maincontent import extract_main_content

    @F.pandas_udf(MAIN_CONTENT_RESULT_TYPE)
    def _main(html: pd.Series) -> pd.DataFrame:
        rows = []
        for doc_html in html:
            if doc_html is None:
                rows.append({"text": None, "error": None})
                continue
            try:
                doc = parse_html(doc_html)
                rows.append({"text": extract_main_content(doc), "error": None})
                doc.release()
            except Exception as exc:  # quarantine, never fail the task
                rows.append(
                    {"text": None, "error": f"{type(exc).__name__}: {exc}"[:500]}
                )
        return pd.DataFrame(rows, columns=["text", "error"])

    return _main


def pdf_text_udf():
    """(pdf binary) -> struct<text, n_pages, error>.

    The "PDF/layout parse" leg of the extraction tier (north_rule): the
    pure-Python parser in ``kernel/pdf.py`` handles the simple-text-PDF
    majority of a crawl; documents outside its scope land in the error
    column for quarantine routing, exactly like pathological HTML.
    """
    from wpextract_spark.kernel.pdf import extract_pdf_text

    @F.pandas_udf(PDF_RESULT_TYPE)
    def _pdf(blob: pd.Series) -> pd.DataFrame:
        rows = []
        for payload in blob:
            if payload is None:
                rows.append({"text": None, "n_pages": None, "error": None})
                continue
            try:
                text, n_pages = extract_pdf_text(payload)
                rows.append({"text": text, "n_pages": n_pages, "error": None})
            except Exception as exc:  # quarantine, never fail the task
                rows.append(
                    {
                        "text": None,
                        "n_pages": None,
                        "error": f"{type(exc).__name__}: {exc}"[:500],
                    }
                )
        return pd.DataFrame(rows, columns=["text", "n_pages", "error"])

    return _pdf


def pdf_build_udf():
    """(text, page2_text) -> binary simple PDF (deterministic generator).

    Test/bench-side inverse of :func:`pdf_text_udf` — synthesizes crawl-style
    PDF payloads from the documents corpus (sandbox rule: no external data).
    """
    from wpextract_spark.sources.pdfgen import build_pdf

    @F.pandas_udf("binary")
    def _build(text: pd.Series, page2: pd.Series) -> pd.Series:
        # Null first page -> null payload; null later pages are dropped
        # rather than crashing the task on one bad row.
        return pd.Series(
            [
                build_pdf([p for p in (a, b) if p is not None])
                if a is not None
                else None
                for a, b in zip(text, page2)
            ],
            dtype="object",
        )

    return _build


def translations_udf(pickers: Optional[list[type[LangPicker]]] = None):
    """(page_html, link) -> struct<language, translations>.

    Picker classes are closed over and pickled to executors — the plugin
    surface of the engine (reference ``extract.py:56``).
    """

    @F.pandas_udf(TRANSLATION_RESULT_TYPE)
    def _translations(html: pd.Series, link: pd.Series) -> pd.DataFrame:
        rows = []
        for page_html, page_link in zip(html, link):
            try:
                doc = parse_html(page_html) if page_html is not None else None
                language, translations = extract_translations(doc, page_link or "", pickers)
                if doc is not None:
                    doc.release()
            except Exception:  # quarantine (e.g. ParseDepthError): no-doc path
                language, translations = None, []
            rows.append({"language": language, "translations": translations})
        return pd.DataFrame(rows, columns=["language", "translations"])

    return _translations


def self_url_udf():
    """html -> canonical/og:url, parsing only the document head (strainer
    analog — a large win when crawl payloads are megabytes)."""

    @F.pandas_udf(StringType())
    def _self_url(html: pd.Series) -> pd.Series:
        out = []
        for page_html in html:
            if page_html is None:
                out.append(None)
                continue
            try:
                doc = parse_html(page_html, head_only=True)
                out.append(extract_self_url(doc))
                doc.release()
            except Exception:  # quarantine (e.g. ParseDepthError)
                out.append(None)
        return pd.Series(out, dtype="object")

    return _self_url


def html_text_udf():
    """HTML fragment -> text (title/excerpt/caption/description columns)."""

    def _safe_text(value):
        if value is None:
            return None
        try:
            return extract_html_text(value)
        except Exception:  # quarantine (e.g. ParseDepthError)
            return None

    @F.pandas_udf(StringType())
    def _html_text(html: pd.Series) -> pd.Series:
        return html.map(_safe_text)

    return _html_text


def locale_udf():
    """URL -> normalized BCP-47 locale of the first path segment, or null."""

    @F.pandas_udf(StringType())
    def _locale(link: pd.Series) -> pd.Series:
        return link.map(lambda value: extract_locale(value) if value is not None else None)

    return _locale


PAGE_META_RESULT_TYPE = StructType(
    [
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("og_title", StringType()),
        StructField("og_image", StringType()),
        StructField("canonical", StringType()),
        StructField("robots_noindex", BooleanType()),
        StructField("robots_nofollow", BooleanType()),
        StructField("lang", StringType()),
        StructField("error", StringType()),
    ]
)


def page_meta_udf():
    """(html) -> head-metadata struct: title, description, Open Graph,
    canonical URL, robots directives, declared lang.

    The crawl-triage stage of the extraction tier: these fields feed quality
    filters (title/description), URL dedup (canonical), retention gates
    (robots), and language routing (lang) *before* the heavier content kernel
    runs — so at 100 TB this UDF sits on the first, widest scan and the
    robots/lang filters it enables prune the expensive stages' input. Same
    quarantine contract as the sibling kernel UDFs (row-level ``error``,
    never a task failure).
    """
    from wpextract_spark.kernel.pagemeta import META_FIELDS, extract_page_meta

    _cols = META_FIELDS + ["error"]
    _null_row = dict.fromkeys(_cols)

    @F.pandas_udf(PAGE_META_RESULT_TYPE)
    def _page_meta(html: pd.Series) -> pd.DataFrame:
        rows = []
        for doc_html in html:
            if doc_html is None:
                rows.append(_null_row)
                continue
            try:
                doc = parse_html(doc_html)
                row = extract_page_meta(doc)
                doc.release()
                row["error"] = None
            except Exception as exc:  # quarantine, never fail the task
                row = dict(_null_row)
                row["error"] = f"{type(exc).__name__}: {exc}"[:500]
            rows.append(row)
        return pd.DataFrame(rows, columns=_cols)

    return _page_meta


def markdown_udf():
    """(html) -> structure-preserving Markdown of the page body.

    The "keep layout tokens" alternative to flat text extraction: headings,
    lists, tables, code blocks, links and emphasis survive as Markdown
    (kernel/markdown.py), which downstream tokenization treats as cheap
    structure signal. Run it on the content subtree the boilerplate strip /
    main-content heuristic selects. Quarantine contract: unparseable rows
    yield null, never a task failure.
    """
    from wpextract_spark.kernel.markdown import render_markdown

    @F.pandas_udf(StringType())
    def _markdown(html: pd.Series) -> pd.Series:
        def one(doc_html):
            if doc_html is None:
                return None
            try:
                doc = parse_html(doc_html)
                markdown = render_markdown(doc)
                doc.release()
                return markdown
            except Exception:
                return None

        return html.map(one)

    return _markdown


JSONLD_RESULT_TYPE = StructType(
    [
        StructField("types", StringType()),  # comma-joined, document order
        StructField("n_objects", IntegerType()),
        StructField("headline", StringType()),
        StructField("date_published", StringType()),
        StructField("author", StringType()),
    ]
)


def jsonld_udf():
    """(html) -> schema.org JSON-LD summary struct.

    The machine-readable metadata channel: Yoast/RankMath emit JSON-LD on
    every WordPress page, and its headline/datePublished/author fields are
    far more reliable than visual heuristics. Malformed blocks are skipped
    per block (never poisoning siblings); unparseable pages quarantine to
    null fields with n_objects = 0 semantics preserved by the kernel.
    """
    from wpextract_spark.kernel.structdata import extract_jsonld, jsonld_summary

    _null = (None, None, None, None, None)

    @F.pandas_udf(JSONLD_RESULT_TYPE)
    def _jsonld(html: pd.Series) -> pd.DataFrame:
        rows = []
        for doc_html in html:
            if doc_html is None:
                rows.append(_null)
                continue
            try:
                doc = parse_html(doc_html)
                objects = extract_jsonld(doc)
                doc.release()
                summary = jsonld_summary(objects)
                rows.append(
                    (
                        ",".join(summary["types"]) or None,
                        len(objects),
                        summary["headline"],
                        summary["date_published"],
                        summary["author"],
                    )
                )
            except Exception:
                rows.append(_null)
        return pd.DataFrame(
            rows,
            columns=["types", "n_objects", "headline", "date_published", "author"],
        )

    return _jsonld


ALTERNATES_TYPE = ArrayType(
    StructType(
        [
            StructField("hreflang", StringType()),
            StructField("href", StringType()),
        ]
    )
)


def alternates_udf():
    """(html) -> array<struct<hreflang, href>> of rel=alternate hreflang
    links — the generic-web translation-discovery channel (hreflang
    protocol), generalizing the reference's Polylang picker scraping to any
    Common-Crawl page. Callers explode + join hrefs against the URL
    registry to build cross-language edges. Quarantine: unparseable pages
    yield an empty array."""
    from wpextract_spark.kernel.pagemeta import extract_alternates

    @F.pandas_udf(ALTERNATES_TYPE)
    def _alternates(html: pd.Series) -> pd.Series:
        def one(doc_html):
            if doc_html is None:
                return []
            try:
                doc = parse_html(doc_html)
                alternates = extract_alternates(doc)
                doc.release()
                return alternates
            except Exception:
                return []

        return html.map(one)

    return _alternates
