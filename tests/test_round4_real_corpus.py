"""Round-4 kernels over the REAL golden corpus (not constructed HTML).

The construction oracles prove exact semantics on synthetic variants; these
tests prove the same kernels are total and sane on the reference's own 54
real WordPress posts — the messy-markup regime that breaks naive parsers.
"""

import json
from pathlib import Path

import pytest

from wpextract_spark.htmlkit import parse_html
from wpextract_spark.kernel.markdown import render_markdown
from wpextract_spark.kernel.pagemeta import extract_alternates
from wpextract_spark.kernel.structdata import (
    extract_jsonld,
    extract_publish_signals,
    jsonld_summary,
)

E2E = Path(__file__).parent / "data" / "e2e"


@pytest.fixture(scope="module")
def posts():
    return json.load(open(E2E / "download_out" / "posts.json"))


def test_markdown_renders_every_real_post(posts):
    for post in posts:
        html = post["content"]["rendered"]
        md = render_markdown(parse_html(html))
        assert isinstance(md, str)
        # every real post has body text; the renderer must not eat it.
        if "<p" in html:
            assert md.strip(), post["link"]


def test_markdown_contains_real_links(posts):
    # posts with <a href> must surface at least one markdown link.
    import re

    linked = [
        p
        for p in posts
        if re.search(r'<a [^>]*href="http', p["content"]["rendered"])
    ]
    assert linked  # corpus sanity
    for post in linked:
        md = render_markdown(parse_html(post["content"]["rendered"]))
        assert "](" in md, post["link"]


def test_structdata_kernels_total_on_real_posts(posts):
    for post in posts:
        root = parse_html(post["content"]["rendered"])
        summary = jsonld_summary(extract_jsonld(root))
        assert isinstance(summary["types"], list)
        signals = extract_publish_signals(root)
        assert set(signals) == {"jsonld_date", "meta_time", "time_attr"}
        assert isinstance(extract_alternates(root), list)


def test_real_scrape_pages_alternates(posts):
    # the multilingual scrape pages carry real hreflang/translation markup;
    # extract_alternates must be total on every scraped index.html.
    pages = sorted((E2E / "site_scrape").rglob("index.html"))
    assert pages
    for page in pages:
        root = parse_html(page.read_text(encoding="utf8"))
        alts = extract_alternates(root)
        for alt in alts:
            assert alt["href"] and alt["hreflang"]
