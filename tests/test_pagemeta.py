"""Head-metadata kernel + operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from wpextract_spark.htmlkit import parse_html
from wpextract_spark.kernel.pagemeta import extract_page_meta
from wpextract_spark.operators.extract import page_meta_udf


def meta(html: str) -> dict:
    return extract_page_meta(parse_html(html))


class TestPageMetaKernel:
    def test_all_fields(self):
        row = meta(
            '<html lang="en-GB"><head><title> My \n  Page </title>'
            '<meta name="description" content="a desc">'
            '<meta property="og:title" content="OG T">'
            '<meta property="og:image" content="https://x/i.png">'
            '<link rel="canonical" href="https://example.org/p/1/">'
            '<meta name="robots" content="NOINDEX, follow">'
            "</head><body><p>hi</p></body></html>"
        )
        assert row == {
            "title": "My Page",
            "description": "a desc",
            "og_title": "OG T",
            "og_image": "https://x/i.png",
            "canonical": "https://example.org/p/1/",
            "robots_noindex": True,
            "robots_nofollow": False,
            "lang": "en-GB",
        }

    def test_no_head_is_total(self):
        row = meta("<p>no head</p>")
        assert row["title"] is None
        assert row["robots_noindex"] is False and row["robots_nofollow"] is False

    def test_robots_none_implies_both(self):
        row = meta('<head><meta name=robots content="none"></head>')
        assert row["robots_noindex"] and row["robots_nofollow"]

    def test_robots_case_and_spacing(self):
        row = meta('<head><meta name=robots content=" index ,  NoFollow "></head>')
        assert not row["robots_noindex"] and row["robots_nofollow"]

    def test_invalid_canonical_rejected(self):
        # relative canonical fails the absolute-URL validity rule
        row = meta('<head><link rel="canonical" href="/p/1/"></head>')
        assert row["canonical"] is None

    def test_empty_lang_and_title_null(self):
        row = meta('<html lang="  "><head><title>  </title></head></html>')
        assert row["lang"] is None and row["title"] is None

    def test_meta_name_attr_not_confused_with_tag_name(self):
        # a meta with a different name must not match description
        row = meta('<head><meta name="keywords" content="k"></head>')
        assert row["description"] is None


class TestPageMetaOperator:
    def test_null_and_quarantine(self, spark):
        df = spark.createDataFrame(
            [("<head><title>T</title></head>",), (None,)], ["html"]
        )
        out = (
            df.select(page_meta_udf()(F.col("html")).alias("m"))
            .select("m.*")
            .collect()
        )
        by_title = {r["title"]: r for r in out}
        assert by_title["T"]["error"] is None
        assert by_title[None]["robots_noindex"] is None  # null input -> null row


# --- hreflang alternates ------------------------------------------------------


def test_alternates_extraction():
    from wpextract_spark.htmlkit import parse_html
    from wpextract_spark.kernel.pagemeta import extract_alternates

    html = (
        '<head><link rel="alternate" hreflang="EN-us" href="https://e/en/">'
        '<link rel="stylesheet alternate" hreflang="de" href="https://e/de/">'
        '<link rel="alternate" hreflang="x-default" href="https://e/">'
        '<link rel="alternate" hreflang="fr">'
        '<link rel="alternate" type="application/rss+xml" href="/feed">'
        "</head>"
    )
    got = extract_alternates(parse_html(html))
    assert got == [
        {"hreflang": "en-us", "href": "https://e/en/"},
        {"hreflang": "de", "href": "https://e/de/"},  # multi-token rel
        {"hreflang": "x-default", "href": "https://e/"},
    ]


def test_alternates_no_head_and_body_links_ignored():
    from wpextract_spark.htmlkit import parse_html
    from wpextract_spark.kernel.pagemeta import extract_alternates

    assert extract_alternates(parse_html("<p>x</p>")) == []
    # links in body are not head metadata
    html = '<head></head><body><link rel="alternate" hreflang="de" href="u"></body>'
    assert extract_alternates(parse_html(html)) == []
