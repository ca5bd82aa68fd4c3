"""Operator-level Spark tests: registry last-wins, broadcast resolution with
candidate-key fallback, translation symmetrization, crawl first-wins dedup.

The e2e corpus exercises resolution only via translations (it has no internal
content links), so these synthetic cases pin the join-path semantics."""

from pyspark.sql import functions as F

from wpextract_spark.operators.extract import RESOLVABLE_LINK_TYPE
from wpextract_spark.operators.registry import build_registry, registry_contribution
from wpextract_spark.operators.resolve import resolve_span_array, symmetrize_translations
from wpextract_spark.sources.entities import ORD
from wpextract_spark.sources.scrape import crawl_self_urls


def _entity(spark, rows):
    return spark.createDataFrame(rows, f"id long, link string, {ORD} long")


def test_registry_last_wins(spark):
    media = _entity(spark, [(1, "https://s.org/dup", 0), (2, "https://s.org/m2", 1)])
    posts = _entity(spark, [(10, "https://s.org/dup", 0), (11, "https://s.org/p2", 1)])
    registry = build_registry(
        [
            registry_contribution(media, "link", "media", 0),
            registry_contribution(posts, "link", "post", 1),
        ]
    )
    rows = {r["url"]: r for r in registry.collect()}
    assert len(rows) == 3
    # Duplicate URL: the later stage (posts) wins, like the dict rebuild.
    assert rows["https://s.org/dup"]["data_type"] == "post"
    assert rows["https://s.org/dup"]["idx"] == 10


def test_resolve_span_array(spark):
    registry = spark.createDataFrame(
        [
            ("https://s.org/article-a/", "post", 1),
            ("https://s.org/fr/article-b/", "post", 2),
        ],
        "url string, data_type string, idx long",
    )
    links = [
        # exact hit
        {"text": "a", "href": "https://s.org/article-a/", "destination": None},
        # preview_id strip
        {"text": "b", "href": "https://s.org/article-a/?preview_id=9", "destination": None},
        # category heuristic with lang prefix
        {"text": "c", "href": "https://s.org/fr/news/article-b/", "destination": None},
        # miss
        {"text": "d", "href": "https://s.org/nope/", "destination": None},
        # null href
        {"text": "e", "href": None, "destination": None},
        # pre-resolved: untouched
        {"text": "f", "href": "https://s.org/article-a/",
         "destination": {"link": "x", "data_type": "tag", "idx": 99}},
    ]
    df = spark.createDataFrame(
        [(0, links), (1, []), (2, None), (3, [None, links[0]])],
        f"{ORD} long, links array<struct<text:string,href:string,"
        "destination:struct<link:string,data_type:string,idx:bigint>>>",
    )
    out = resolve_span_array(df, "links", registry)
    rows = {r[ORD]: r["links"] for r in out.collect()}
    resolved = rows[0]
    assert resolved[0]["destination"]["idx"] == 1
    assert resolved[1]["destination"]["idx"] == 1
    assert resolved[2]["destination"]["idx"] == 2
    assert resolved[3]["destination"] is None
    assert resolved[4]["destination"] is None
    assert resolved[5]["destination"]["idx"] == 99  # kept, not re-resolved
    assert [r["text"] for r in resolved] == list("abcdef")  # order preserved
    assert rows[1] == []  # empty arrays stay empty, not null
    assert rows[2] == []  # a null array comes out empty
    assert rows[3][0] is None  # a null element stays null, in place
    assert rows[3][1]["destination"]["idx"] == 1


def test_symmetrize_translations(spark):
    schema = (
        f"id long, link string, language string, {ORD} long, "
        "translations array<struct<text:string,href:string,"
        "destination:struct<link:string,data_type:string,idx:bigint>,lang:string>>"
    )
    dest_b = {"link": "https://s.org/b", "data_type": "post", "idx": 2}
    posts = spark.createDataFrame(
        [
            # A -> B resolved; B has no edge back.
            (1, "https://s.org/a", "en-US", 0,
             [{"text": None, "href": "https://s.org/b", "destination": dest_b, "lang": "fr-FR"}]),
            (2, "https://s.org/b", "fr-FR", 1, []),
            # C -> unresolved edge: ignored.
            (3, "https://s.org/c", "de-DE", 2,
             [{"text": None, "href": "https://s.org/x", "destination": None, "lang": "en-US"}]),
        ],
        schema,
    )
    out = {r["id"]: r["translations"] for r in symmetrize_translations(posts).collect()}
    assert len(out[2]) == 1
    new = out[2][0]
    assert new["href"] == "https://s.org/a"
    assert new["lang"] == "en-US"  # the source post's language
    assert new["destination"] is None  # needs re-resolution
    assert len(out[1]) == 1 and len(out[3]) == 1  # untouched


def test_symmetrize_already_bidirectional(spark):
    schema = (
        f"id long, link string, language string, {ORD} long, "
        "translations array<struct<text:string,href:string,"
        "destination:struct<link:string,data_type:string,idx:bigint>,lang:string>>"
    )
    d1 = {"link": "https://s.org/a", "data_type": "post", "idx": 1}
    d2 = {"link": "https://s.org/b", "data_type": "post", "idx": 2}
    posts = spark.createDataFrame(
        [
            (1, "https://s.org/a", "en", 0,
             [{"text": None, "href": "https://s.org/b", "destination": d2, "lang": "fr"}]),
            (2, "https://s.org/b", "fr", 1,
             [{"text": None, "href": "https://s.org/a", "destination": d1, "lang": "en"}]),
        ],
        schema,
    )
    out = {r["id"]: r["translations"] for r in symmetrize_translations(posts).collect()}
    assert len(out[1]) == 1 and len(out[2]) == 1  # nothing appended


def test_crawl_first_wins(spark):
    canon = '<html><head><link rel="canonical" href="https://s.org/p/"></head></html>'
    pages = spark.createDataFrame(
        [
            ("b/path.html", canon),
            ("a/path.html", canon),
            ("c/other.html", '<html><head><meta property="og:url" content="https://s.org/q/"></head></html>'),
            ("d/junk.html", "<html><head></head><body>no self url</body></html>"),
        ],
        "path string, html string",
    )
    out = {r["url"]: r for r in crawl_self_urls(pages).collect()}
    assert set(out) == {"https://s.org/p/", "https://s.org/q/"}


def test_pdf_udf_roundtrip_and_quarantine(spark):
    """pdf_build_udf -> pdf_text_udf roundtrip on executors, plus the
    quarantine contract for non-PDF payloads."""
    from wpextract_spark.operators.extract import pdf_build_udf, pdf_text_udf

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma\ndelta")], "doc_id long, text string"
    )
    pdf = pdf_build_udf()(F.col("text"), F.lit("page two"))
    res = pdf_text_udf()(pdf)
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", res["text"].alias("t"), res["n_pages"].alias("n"),
        res["error"].alias("e")).collect()}
    assert rows[1]["t"] == "alpha beta\npage two" and rows[1]["n"] == 2
    assert rows[2]["t"] == "gamma\ndelta\npage two"
    assert rows[1]["e"] is None

    junk = spark.createDataFrame([(1, b"<html>nope</html>")], "id long, blob binary")
    bad = junk.select(pdf_text_udf()(F.col("blob")).alias("r")).first()["r"]
    assert bad["text"] is None and "PdfParseError" in bad["error"]


def test_main_content_udf(spark):
    """Readability heuristic runs on executors; pathological page quarantined."""
    from wpextract_spark.operators.extract import main_content_udf

    body = ("<nav>" + "".join(f'<a href="/m{i}">menu {i}</a>' for i in range(12))
            + "</nav><article><p>the actual story text of this page</p></article>"
            + "<footer><a href='/x'>legal</a></footer>")
    bomb = "<div>" * 3000 + "x"
    pages = spark.createDataFrame(
        [(1, f"<html><body>{body}</body></html>"), (2, bomb)], "id long, html string"
    )
    res = main_content_udf()(F.col("html"))
    rows = {r["id"]: r for r in pages.select(
        "id", res["text"].alias("t"), res["error"].alias("e")).collect()}
    assert rows[1]["t"] == "the actual story text of this page"
    assert rows[1]["e"] is None
    assert rows[2]["t"] is None and "ParseDepthError" in rows[2]["e"]


def test_depth_bomb_quarantined_in_all_html_udfs(spark):
    """A >MAX_TREE_DEPTH page must never fail a task: every HTML-parsing UDF
    quarantines it (null / no-doc result), not just the content kernel."""
    from wpextract_spark.operators.extract import (
        html_text_udf,
        self_url_udf,
        translations_udf,
    )

    bomb = "<html><head>" + "<span>" * 3000 + "x"
    good = (
        '<html lang="en-US"><head><link rel="canonical" href="https://ex.org/a/"/>'
        "</head><body><p>fine</p></body></html>"
    )
    pages = spark.createDataFrame([(1, good), (2, bomb)], "id long, html string")

    tr = translations_udf()(F.col("html"), F.lit("https://ex.org/a/"))
    rows = {
        r["id"]: r
        for r in pages.select(
            "id",
            self_url_udf()(F.col("html")).alias("self_url"),
            html_text_udf()(F.col("html")).alias("txt"),
            tr["language"].alias("lang"),
            tr["translations"].alias("trans"),
        ).collect()
    }
    assert rows[1]["self_url"] == "https://ex.org/a/"
    assert rows[2]["self_url"] is None  # quarantined, task survived
    assert rows[2]["txt"] is None
    assert rows[2]["lang"] is None and rows[2]["trans"] == []


def test_pdf_build_non_latin1(spark):
    """Non-Latin-1 text (emoji, CJK) must not fail the build task: chars are
    replaced with '?' (WinAnsi has no codepoint for them), roundtrip intact."""
    from wpextract_spark.operators.extract import pdf_build_udf, pdf_text_udf

    docs = spark.createDataFrame(
        [(1, "héllo 🚀 wörld 漢"), (2, "plain ascii")], "doc_id long, text string"
    )
    pdf = pdf_build_udf()(F.col("text"), F.lit("p2"))
    res = pdf_text_udf()(pdf)
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", res["text"].alias("t"), res["error"].alias("e")).collect()}
    assert rows[1]["t"] == "héllo ? wörld ?\np2"
    assert rows[1]["e"] is None
    assert rows[2]["t"] == "plain ascii\np2"


def test_corpus_profile_exact_percentiles(spark):
    from wpextract_spark.operators.textstats import corpus_profile

    rows = [(i, "en", " ".join(["w"] * n)) for i, n in enumerate([1, 2, 3, 4, 100])]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    r = corpus_profile(df).collect()[0]
    assert r["n_docs"] == 5 and r["total_tokens"] == 110
    assert r["p50_tokens"] == 3.0          # exact interpolated median
    assert r["max_tokens"] == 100
    assert abs(r["mean_tokens"] - 22.0) < 1e-9


def test_corpus_profile_approx_mode_runs(spark):
    from wpextract_spark.operators.textstats import corpus_profile

    rows = [(i, "en" if i % 2 else "de", "a b c") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {r["lang"]: r for r in corpus_profile(df, approx=True).collect()}
    assert set(out) == {"en", "de"}
    # every doc is 3 tokens; any percentile sketch must say exactly 3
    assert out["en"]["p50_tokens"] == 3.0 and out["en"]["p95_tokens"] == 3.0


def test_vocab_build_counts_and_topk(spark):
    from wpextract_spark.operators.textstats import vocab_build

    df = spark.createDataFrame(
        [(0, "a a b c"), (1, "a b"), (2, "c")], ["doc_id", "text"]
    )
    v = {r["token"]: r for r in vocab_build(df, min_count=1).collect()}
    assert v["a"]["term_count"] == 3 and v["a"]["doc_freq"] == 2
    assert v["c"]["term_count"] == 2 and v["c"]["doc_freq"] == 2
    top1 = vocab_build(df, min_count=1, top_k=1).collect()
    assert [r["token"] for r in top1] == ["a"]
    # top-k plans as TakeOrdered (distributed partial top-k), not global sort
    plan = (
        vocab_build(df, min_count=1, top_k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
