"""A minimal, dependency-free HTML DOM for the extraction kernel.

The reference engine (wpextract, ``parse/html.py:10-19``) parses HTML with
BeautifulSoup+lxml. Neither library is available in this environment, and
the goal is a from-scratch engine anyway, so this module implements the
small slice of DOM behaviour the extraction kernel actually depends on:

* a node tree with tags / text / comments and parent pointers,
* document-order descendant traversal (pre-order, tags before their children),
* ``get_text()`` that concatenates text nodes (comments excluded),
* ``find`` / ``find_all`` / ``find_parent`` with simple attribute filters,
* HTML5-style error recovery for the common WordPress malformations
  (unclosed ``<p>``/``<li>``, void elements, stray end tags).

``htmlkit.tokenize.fast_feed`` scans the source once and creates the nodes
itself; element tokens go through the tree-building rules here
(``open_tag``/``close_tag``). No ``html.parser`` is involved: the stdlib
tokenizer drives the same rules only in the test oracle
(``tests/htmlkit_oracle.py``). A parsed tree is one reference cycle
(parent <-> children), so callers that parse page after page call
``Document.release()`` once done, and the tree is freed by refcount instead
of by the cyclic garbage collector. No DOM object ever crosses a Spark
stage boundary.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Optional, Union

#: Elements that never have children (HTML5 void elements).
VOID_ELEMENTS = frozenset(
    {
        "area",
        "base",
        "br",
        "col",
        "embed",
        "hr",
        "img",
        "input",
        "link",
        "meta",
        "param",
        "source",
        "track",
        "wbr",
    }
)

#: Opening one of these implicitly closes an open <p> (HTML5 parsing rules;
#: matches libxml2's recovery for the structures WordPress emits).
_P_CLOSERS = frozenset(
    {
        "address",
        "article",
        "aside",
        "blockquote",
        "details",
        "dd",
        "div",
        "dl",
        "dt",
        "fieldset",
        "figcaption",
        "figure",
        "footer",
        "form",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "header",
        "hr",
        "main",
        "menu",
        "nav",
        "ol",
        "p",
        "pre",
        "section",
        "table",
        "ul",
    }
)

#: tag -> set of tags it implicitly closes when they sit at the top of the
#: open-element stack (sibling-style auto-closing).
_SIBLING_CLOSERS = {
    # A new <a> start tag implicitly closes an open <a> (HTML5 "adoption
    # agency" simplification; matches libxml2 on nested anchors, which occur
    # in real WordPress content).
    "a": frozenset({"a"}),
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "tr": frozenset({"tr", "td", "th"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    "option": frozenset({"option"}),
    "optgroup": frozenset({"option", "optgroup"}),
    "thead": frozenset({"tr", "td", "th"}),
    "tbody": frozenset({"tr", "td", "th", "thead"}),
    "tfoot": frozenset({"tr", "td", "th", "tbody", "thead"}),
    "colgroup": frozenset({"colgroup"}),
}

#: Scope boundaries: an implicit <p> close never crosses one of these.
_P_SCOPE_BOUNDARY = frozenset({"[document]", "html", "body", "table", "td", "th", "caption"})

#: Tags that can trigger any implicit close at all — the early-exit gate of
#: open_tag's implicit closes.
_ANY_CLOSER = frozenset(_SIBLING_CLOSERS) | _P_CLOSERS

#: Maximum open-element depth. Real pages nest a few dozen levels; browsers
#: and libxml2 cap recovery-parse depth in the same order of magnitude. An
#: adversarial page (<div> x 100k) otherwise costs unbounded memory at
#: corpus scale — exceeding the cap raises, and the UDF-level quarantine
#: (operators/extract.py) routes the document to the error column.
MAX_TREE_DEPTH = 1000


class ParseDepthError(ValueError):
    """Open-element stack exceeded MAX_TREE_DEPTH (adversarial nesting)."""


class Node:
    """Base node with a parent pointer."""

    __slots__ = ("parent",)

    def __init__(self) -> None:
        self.parent: Optional[Tag] = None


class TextNode(Node):
    """A run of character data."""

    __slots__ = ("text",)

    def __init__(self, text: str) -> None:
        self.parent = None
        self.text = text

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"TextNode({self.text!r})"


class CommentNode(Node):
    """An HTML comment. Deliberately *not* a TextNode so that text
    extraction skips it (the reference excludes ``bs4.Comment`` explicitly,
    ``parse/content.py:131-133``)."""

    __slots__ = ("text",)

    def __init__(self, text: str) -> None:
        self.parent = None
        self.text = text

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"CommentNode({self.text!r})"


class Tag(Node):
    """An element node."""

    __slots__ = ("name", "attrs", "children")

    def __init__(self, name: str, attrs: Optional[dict[str, str]] = None) -> None:
        self.parent = None
        self.name = name
        self.attrs: dict[str, str] = attrs or {}
        self.children: list[Node] = []

    # -- tree access ---------------------------------------------------

    def append(self, node: Node) -> None:
        node.parent = self
        self.children.append(node)

    @property
    def descendants(self) -> Iterator[Node]:
        """All descendant nodes in document order (pre-order).

        Iterative with an explicit stack: the naive recursive generator
        chains one generator frame per tree level, turning every ``next()``
        into O(depth) resumptions — measured ~25% of total parse+extract
        time on real pages.
        """
        stack = [iter(self.children)]
        while stack:
            for node in stack[-1]:
                yield node
                if isinstance(node, Tag) and node.children:
                    stack.append(iter(node.children))
                    break
            else:
                stack.pop()

    def iter_tags(self) -> Iterator["Tag"]:
        for node in self.descendants:
            if isinstance(node, Tag):
                yield node

    # -- attribute access ----------------------------------------------

    def has_attr(self, name: str) -> bool:
        return name in self.attrs

    def get(self, name: str, default: Optional[str] = None) -> Optional[str]:
        return self.attrs.get(name, default)

    def __getitem__(self, name: str) -> str:
        return self.attrs[name]

    # -- text ------------------------------------------------------------

    def get_text(self) -> str:
        """Concatenate all text node descendants (comments excluded)."""
        parts: list[str] = []
        for node in self.descendants:
            if isinstance(node, TextNode):
                parts.append(node.text)
        return "".join(parts)

    # -- searching -------------------------------------------------------

    def _attrs_match(self, filters: dict[str, str]) -> bool:
        for key, want in filters.items():
            val = self.attrs.get(key)
            if val is None:
                return False
            if key in ("rel", "class"):
                # Multi-valued attributes: match the whole value or any token.
                if val != want and want not in val.split():
                    return False
            elif val != want:
                return False
        return True

    def find_all(self, name: Optional[str] = None, **filters: str) -> list["Tag"]:
        out = []
        for tag in self.iter_tags():
            if name is not None and tag.name != name:
                continue
            if filters and not tag._attrs_match(filters):
                continue
            out.append(tag)
        return out

    def find(self, name: Optional[str] = None, **filters: str) -> Optional["Tag"]:
        for tag in self.iter_tags():
            if name is not None and tag.name != name:
                continue
            if filters and not tag._attrs_match(filters):
                continue
            return tag
        return None

    def find_parent(self, name: str) -> Optional["Tag"]:
        node = self.parent
        while node is not None:
            if isinstance(node, Tag) and node.name == name:
                return node
            node = node.parent
        return None

    # CSS selection is provided by htmlkit.select; bound here for ergonomics.
    def select(self, selector: str) -> list["Tag"]:
        from wpextract_spark.htmlkit.select import select

        return select(self, selector)

    def select_one(self, selector: str) -> Optional["Tag"]:
        from wpextract_spark.htmlkit.select import select_one

        return select_one(self, selector)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.name} {self.attrs!r} children={len(self.children)}>"


class Document(Tag):
    """Root of a parsed document.

    The builder records every ``<a>``/``<img>``/``<iframe>`` element here as
    it is constructed (document order), so the span extractors read a ready
    list instead of re-walking the whole tree once per tag kind — the walks
    were ~25% of kernel time on real pages. The lists are exactly what
    ``find_all`` on the root would return. ``tags`` holds every element the
    builder pushed onto the open-element stack: the only ones that can have
    children, and so the only ones :meth:`release` has to empty.
    """

    __slots__ = ("anchors", "images", "iframes", "tags")

    def __init__(self) -> None:
        super().__init__("[document]")
        self.anchors: list[Tag] = []
        self.images: list[Tag] = []
        self.iframes: list[Tag] = []
        self.tags: list[Tag] = []

    def release(self) -> None:
        """Break the tree's reference cycles so it is freed by refcount.

        Every node points at its parent and every parent lists its
        children, so a parsed page is one big cycle that only the cyclic
        garbage collector can free — collecting it cost as much per page as
        stripping its boilerplate. Emptying each child list (and the span
        and element registers) leaves only child-to-parent references, so
        the whole tree goes the moment the caller drops it. The document is
        empty afterwards: call this once the caller holds nothing but plain
        values taken from the tree.
        """
        for tag in self.tags:
            tag.children.clear()
        self.children.clear()
        self.anchors.clear()
        self.images.clear()
        self.iframes.clear()
        self.tags.clear()

    @property
    def head(self) -> Optional[Tag]:
        return self.find("head")

    @property
    def body(self) -> Optional[Tag]:
        return self.find("body")


# -- tree-building rules ---------------------------------------------------
# ``stack`` is the open-element stack; ``stack[0]`` is the Document and is
# never popped.

_SPAN_TAGS = frozenset({"a", "img", "iframe"})


def open_tag(stack: list[Tag], name: str, attrs: dict[str, str], self_closing: bool = False) -> None:
    """Start tag ``name``: apply implicit closes, attach the new element to
    the current open element, and push it unless it is void or written
    self-closing (``<x/>``)."""
    if name in _ANY_CLOSER:
        # Sibling-style auto close: <li> closes an open <li>, etc.
        closers = _SIBLING_CLOSERS.get(name)
        if closers:
            while len(stack) > 1 and stack[-1].name in closers:
                stack.pop()
        # Block elements close an open <p> within scope.
        if name in _P_CLOSERS:
            for i in range(len(stack) - 1, 0, -1):
                node_name = stack[i].name
                if node_name in _P_SCOPE_BOUNDARY:
                    break
                if node_name == "p":
                    del stack[i:]
                    break
    node = Tag(name, attrs)
    top = stack[-1]
    node.parent = top
    top.children.append(node)
    root = stack[0]
    if not self_closing and name not in VOID_ELEMENTS:
        if len(stack) >= MAX_TREE_DEPTH:
            raise ParseDepthError(f"element depth exceeds {MAX_TREE_DEPTH} at <{name}>")
        stack.append(node)
        root.tags.append(node)
    if name in _SPAN_TAGS:
        if name == "img":
            root.images.append(node)
        elif name == "a":
            root.anchors.append(node)
        else:
            root.iframes.append(node)


def close_tag(stack: list[Tag], name: str) -> None:
    """End tag ``name``: pop to the nearest matching open element; end tags
    of void elements and stray end tags are ignored."""
    if name in VOID_ELEMENTS:
        return
    i = len(stack) - 1
    while i > 0:
        if stack[i].name == name:
            del stack[i:]
            return
        i -= 1


_HEAD_CLOSE_RE = re.compile(r"</head\s*>", re.IGNORECASE)


def _truncate_to_head(html: str) -> str:
    # A real close tag only — a bare find("</head") would false-match the
    # prefix of "</header>" and cut mid-body.
    m = _HEAD_CLOSE_RE.search(html)
    if m is not None:
        return html[: m.end()]
    # No head close tag: a <body> open tag also ends the head.
    cut = html.lower().find("<body")
    if cut != -1:
        return html[:cut]
    return html


def parse_html(html: Union[str, bytes], head_only: bool = False) -> Document:
    """Parse an HTML document or fragment into a :class:`Document`.

    Args:
        html: the document source. Bytes are decoded as UTF-8 (errors
            replaced), matching how crawl payloads are stored.
        head_only: if True, stop feeding the parser after ``</head>`` — the
            analog of the reference's ``SoupStrainer(["head", "link", "meta"])``
            fast path for self-URL discovery (``scrape/crawler.py:90-94``),
            which avoids building a DOM for megabyte bodies.

    Returns:
        The parsed document root.
    """
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    if head_only:
        html = _truncate_to_head(html)
    return _tokenize.fast_feed(html)


# The tokenizer builds this module's nodes, so it is imported last: either
# module can then be imported first.
from wpextract_spark.htmlkit import tokenize as _tokenize  # noqa: E402
