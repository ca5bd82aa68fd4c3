"""Differential tests: fast tokenizer vs the stdlib-HTMLParser oracle.

``htmlkit.tokenize.fast_feed`` must produce the identical node tree to the
stdlib-driven ``parse_html_stdlib`` (``tests/htmlkit_oracle.py``, same
tree-building rules) on every input the engine is specified
over: the reference's golden fixture documents, the deterministic synthetic
corpus, and generated well-formed-ish soup. (Documented divergences exist
only for pathological constructs — malformed start tags emitted as text,
unterminated declarations — where the stdlib itself behaves erratically;
see the tokenize module docstring.)
"""

from pathlib import Path

from hypothesis import given, settings, strategies as st

from tests.htmlkit_oracle import parse_html_stdlib
from wpextract_spark.htmlkit.dom import CommentNode, TextNode, parse_html
from wpextract_spark.sources.synth import synth_page

DATA = Path(__file__).parent / "data"


def _dump(node):
    """Canonical tree shape. Adjacent text runs are merged: how a text span
    is split into TextNodes is tokenizer-internal and unobservable (every
    consumer — get_text, _walk_text — concatenates runs)."""
    if isinstance(node, TextNode):
        return ("text", node.text)
    if isinstance(node, CommentNode):
        return ("comment", node.text)
    children = []
    for child in node.children:
        dumped = _dump(child)
        if (
            children
            and isinstance(child, TextNode)
            and children[-1][0] == "text"
        ):
            children[-1] = ("text", children[-1][1] + dumped[1])
        else:
            children.append(dumped)
    return (node.name, tuple(sorted(node.attrs.items())), tuple(children))


def _assert_same(html):
    assert _dump(parse_html(html)) == _dump(parse_html_stdlib(html))


def test_fixture_documents_identical():
    fixtures = sorted(DATA.rglob("*.html"))
    assert fixtures, "golden fixture corpus missing"
    for path in fixtures:
        _assert_same(path.read_text(encoding="utf-8"))


def test_synth_corpus_identical():
    for i in range(300):
        _assert_same(synth_page(i)["html"].decode())


def test_span_registers_match_find_all():
    doc = parse_html(synth_page(7)["html"].decode())
    assert doc.anchors == doc.find_all("a")
    assert doc.images == doc.find_all("img")
    assert doc.iframes == doc.find_all("iframe")


def test_tricky_constructs_identical():
    cases = [
        # charrefs in data and attribute values
        '<p>a &amp; b &lt;c&gt; &#65; &#x42; &notareal;</p>',
        '<a href="/x?a=1&amp;b=2" title=\'it&apos;s\'>t</a>',
        # self-closing, valueless and duplicate attributes
        '<img src=x alt>', '<img src="a" src="b"/>', '<br />', '<input disabled>',
        # uppercase names, whitespace soup
        '<DIV CLASS="A"><P>x</P></DIV>', '<a\nhref="x"\t>y</a>',
        # comments incl. tricky closers
        '<p>a<!-- c --d -->b</p>', '<!---->x', '<!-- -- >still comment -->y',
        # bogus comments / declarations / PIs / doctype / CDATA
        '<!doctype html><p>x</p>', '<?php echo 1; ?><p>x</p>',
        '</ weird>x', '<![CDATA[a>b]]>x', '<!bogus stuff>x',
        # script/style raw-text mode
        '<script>if (a < b && c > d) { x("</div>"); }</script><p>t</p>',
        '<script>var x = 1;</scriptx></script><p>t</p>',
        '<style>a > b { color: red }</style><p>t</p>',
        # stray brackets and entities in text
        '<p>1 < 2 and 3 > 2</p>', 'a < b', 'x<3 y</3>',
        # end tags with junk, unclosed elements
        '<p>a</p extra="1"><p>b', '<ul><li>a<li>b</ul>',
        '<table><tr><td>a<td>b<tr><td>c</table>',
        # quoted '>' inside attribute values
        '<a href="/x" data-t="a>b">y</a>',
        # nested anchors (adoption agency simplification)
        '<a href="1">x<a href="2">y</a>',
        # empty end tag (silently dropped by the stdlib)
        'a</>b',
        # attribute lists at the edge of the plain-list fast path
        '<a href=v/>x</a>', '<input disabled/>x', '<img src="a" />', '<a href=x=y>z</a>',
        '<a href="1"alt="2">z</a>', '<div id=a class="b c"\x0bdata-x=\'d\'>z</div>',
        '<script src="/s.js" async>var a = "<p>";</script>t', '<script src="/s.js"/>t',
        # a quote where no value can start ends the tag at the first '>'
        "<a 'x>y'>", "<a href= href='x>y'>", "<a href=v/href='x>y'>",
        # unclosed quote: both builders recover without crashing
        # (documented divergence class — only totality is asserted)
    ]
    for html in cases:
        _assert_same(html)


# Well-formed-ish soup: tags from a fixed alphabet, balanced quotes, text with
# entities. Randomized structure, deterministic equivalence.
_soup_bits = st.one_of(
    st.text(alphabet="ab &;#xLT<>", max_size=8),
    st.sampled_from(
        [
            "<p>", "</p>", "<div>", "</div>", "<br/>", "<br>",
            '<a href="/x/">', "</a>", '<img src="/i.png" alt="a"/>',
            "<figure>", "</figure>", "<figcaption>", "</figcaption>",
            "<table>", "</table>", "<li>", "<ul>", "</ul>",
            "<!-- note -->", "&amp;", "&lt;", "&#65;",
            "<script>a<b</script>", "<iframe src='/e'>", "</iframe>",
            "<!doctype html>", "<DIV>", "</DIV>",
        ]
    ),
)
soup = st.lists(_soup_bits, max_size=40).map("".join)


@settings(max_examples=300, deadline=None)
@given(soup)
def test_soup_identical(html):
    _assert_same(html)


# Start tags whose attribute text mixes plain attribute lists (which the
# tokenizer reads with one fullmatch) with the near misses that must fall
# back to the stdlib's per-attribute grammar. Quotes, '=', '/' and '>' also
# appear where no value can start (in a name, glued after a bare value,
# between attributes), where the stdlib ends the tag at the first '>'.
_attr = st.builds(
    lambda name, eq, value: name + (eq + value if eq else ""),
    st.sampled_from(["href", "HREF", "data-x", "_:y", "x.y", "alt", "a?", "'x", 'q"', "a'b"]),
    st.sampled_from(["", "=", " = ", "==", "=\n", "= href="]),
    st.sampled_from(
        ['"a b"', "'c'", '"&amp;&#1;"', "'x>y'", '""', "v ", "v/ ", "a&lt;b ", "` ", "v/", "v'"]
    ),
)
_attr_tag = st.builds(
    lambda name, attrs, end, text: f"<{name} {''.join(attrs)}{end}{text}",
    st.sampled_from(["a", "img", "div", "script", "P"]),
    st.lists(
        st.tuples(
            st.sampled_from([" ", "\t", "\n", "\x0b", "\xa0", "/", "", " / ", "'", '"', "=", ">"]),
            _attr,
        ).map("".join),
        max_size=5,
    ),
    st.sampled_from([">", "/>", " />", " "]),
    st.sampled_from(["", "t</script>u", "x</a>"]),
)


@settings(max_examples=500, deadline=None)
@given(st.lists(_attr_tag, min_size=1, max_size=4).map("".join))
def test_attribute_lists_identical(html):
    _assert_same(html)
