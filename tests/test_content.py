"""Content-kernel parity tests.

Golden values from the reference's tests/parse/test_content.py, run against
the same fixture bytes (tests/data/parse/*.html)."""

import gc
from pathlib import Path

import pandas as pd
import pytest

from wpextract_spark.htmlkit import Document, Node, parse_html
from wpextract_spark.kernel.content import (
    extract_content,
    extract_embeds,
    extract_images,
    extract_links,
    extract_text,
)

DATA = Path(__file__).parent / "data" / "parse"


def _doc(name: str):
    return parse_html((DATA / name).read_text())


def test_extract_links():
    internal, external = extract_links(_doc("links.html"), "https://example.org/home")
    assert internal == [
        {"text": "An internal link", "href": "https://example.org/link1", "destination": None},
        {"text": "Another internal link", "href": "https://example.org/link2", "destination": None},
        {"text": "A relative internal link", "href": "https://example.org/link3", "destination": None},
    ]
    assert external == [{"text": "An external link", "href": "https://gate.ac.uk"}]


def test_extract_links_no_href():
    internal, external = extract_links(parse_html("<a>No href</a>"), "https://example.org/home")
    assert internal == []
    assert external == [{"text": "No href", "href": None}]


def test_extract_embeds():
    assert extract_embeds(_doc("embeds.html")) == [
        "https://www.youtube-nocookie.com/embed/dQw4w9WgXcQ"
    ]


def test_extract_images():
    images = extract_images(_doc("images.html"), "https://example.org/home")
    assert images == [
        {"src": "https://example.org/justimg.png", "alt": "The alt text", "caption": None,
         "destination": None, "internal": True},
        {"src": "https://example.org/img-fig.png", "alt": "The alt text", "caption": "A caption",
         "destination": None, "internal": True},
        {"src": "https://example.org/relative-img.png", "alt": "A relative image", "caption": None,
         "destination": None, "internal": True},
        {"src": "https://example.com/external-img.png", "alt": "An external image", "caption": None,
         "destination": None, "internal": False},
    ]


def test_extract_image_without_src():
    images = extract_images(parse_html("<img alt='No src'>"), "https://example.org/home")
    assert images == [
        {"src": "", "alt": "No src", "caption": None, "destination": None, "internal": False}
    ]


def test_extract_content_text():
    text = extract_text(_doc("content_extraction.html"))
    assert text == (
        "The first paragraph.\n"
        "The second paragraph.\n"
        "The third paragraph.\n"
        "Not in a paragraph.\n"
        "Heavily nested."
    )


def test_extract_content_br_newline():
    text = extract_text(_doc("whitespace_br.html"))
    assert text == (
        "Before break\nAfter break. Don't break here.\nBefore break\nAfter break."
    )


def test_extract_content_whitespace_collapse():
    text = extract_text(_doc("whitespace_collapse.html"))
    assert text == "First para.\nAfter empty.\nAfter gap in doc."


def test_fused_extract_content():
    result = extract_content(_doc("content_extraction.html"), "https://example.org/home")
    assert result["text"].startswith("The first paragraph.")
    assert result["links_internal"] == [] and result["links_external"] == []
    assert result["embeds"] == []
    assert [img["src"] for img in result["images"]] == [
        "https://example.org/example-image.png",
        "https://example.org/example-image.png",
    ]
    assert [img["caption"] for img in result["images"]] == ["A caption", "A second caption"]


@pytest.mark.parametrize(
    "fragment,expected",
    [
        # Unclosed <p> recovery: block elements close an open paragraph.
        ("<p>one<p>two</p>", "one\ntwo"),
        # div is not a NEWLINE_TAG: no break contributed, matching the reference.
        ("<p>one<div>two</div>", "onetwo"),
        # Stray end tags are ignored.
        ("<p>one</div></p>", "one"),
        # Comments never contribute text.
        ("<p>a<!-- hidden -->b</p>", "ab"),
        # Nested table inside excluded table: whole subtree gone.
        ("<p>keep</p><table><tr><td>drop<table><tr><td>deep</td></tr></table></td></tr></table>", "keep"),
    ],
)
def test_recovery_and_exclusion(fragment, expected):
    assert extract_text(parse_html(fragment)) == expected


def test_absolutize_fast_path_matches_urllib():
    """The regex fast path in kernel/content.py must agree with the urllib
    slow path on every href it accepts — fixtures plus adversarial shapes
    plus deterministic fuzz (trailing-empty query/fragment, params drops,
    control chars, unbalanced brackets all route to the slow path)."""
    import json
    import random
    import string
    from pathlib import Path

    from wpextract_spark.kernel.content import (
        _FAST_ABS,
        _absolutize,
        _absolutize_slow,
    )

    bases = ["https://example.org/a/b/", "http://h/x", "https://h"]
    hrefs = [
        "https://other.com/x/y", "http://h/p?q=1#f", "https://h", "https://h/",
        "HTTP://H/x", "https://h/x/../y", "https://h//double", "https://h/x;params",
        "https://h:8080/x", "https://h/x%20y", "https://h/x?", "https://h/#",
        "ftp://h/x", "https://user:p@h/x", "https://[::1]:8080/p",
        "https://h/x?a=b&c=d#frag", "https://h\t/x", "https://h/x\ny",
        "https:///x", "https://", "//proto/rel", "/root/rel", "rel/path",
        "?query", "#frag", "mailto:x@y", "https://h/?#", "https://h/x#",
        "https://h/x;", "https://h/x;?q", "https://h/x\n", "https://h/x?\n",
        "https://h/x?#frag", "https://h;/x", "https://h/p[1]",
    ]
    rng = random.Random(13)
    alphabet = string.ascii_letters + string.digits + ":/?#[]@!$&'()*+,;=._~%- \t\n\\"
    for _ in range(20000):
        h = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        if rng.random() < 0.6:
            h = rng.choice(["https://", "http://", "HTTPS://", "https:/", "//"]) + h
        hrefs.append(h)
    data = Path(__file__).parent / "data" / "e2e" / "extract_out"
    for ent in ("posts", "pages"):
        for p in json.loads((data / f"{ent}.json").read_text()):
            links = p.get("links") or {}
            for l in (links.get("internal") or []) + (links.get("external") or []):
                if l.get("href"):
                    hrefs.append(l["href"])
    taken = 0
    for base in bases:
        for h in hrefs:
            m = _FAST_ABS.match(h)
            if m and h[-1] not in "?#" and "?#" not in h:
                taken += 1
            assert _absolutize(base, h) == _absolutize_slow(base, h), (base, h)
    assert taken > 1000  # the fast path actually engages


def test_content_udf_frees_trees_without_cyclic_gc(monkeypatch):
    """The content UDF releases each tree, so with the cyclic collector off
    a later collection finds no DOM garbage — and releasing changes no row."""
    from wpextract_spark.operators.extract import content_extract_udf
    from wpextract_spark.sources.synth import synth_page

    pages = [synth_page(i) for i in range(50)]
    html = pd.Series([p["html"] for p in pages])
    url = pd.Series([p["url"] for p in pages])
    extract = content_extract_udf().func

    gc.collect()
    gc.disable()
    gc.set_debug(gc.DEBUG_SAVEALL)  # keep what a collection frees, to look at it
    try:
        rows = extract(html, url)
        gc.collect()
        dom_garbage = sum(isinstance(o, Node) for o in gc.garbage)
    finally:
        gc.set_debug(0)
        gc.garbage.clear()
        gc.enable()
    assert dom_garbage == 0
    assert rows["error"].isna().all()

    monkeypatch.setattr(Document, "release", lambda self: None)
    unreleased = extract(html, url)
    assert rows.to_dict("records") == unreleased.to_dict("records")
