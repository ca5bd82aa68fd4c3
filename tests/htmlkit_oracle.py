"""The differential oracle for ``htmlkit``'s tokenizer.

``parse_html_stdlib`` tokenizes with the stdlib ``html.parser.HTMLParser``
and hands every element token to the tree-building rules the runtime parser
uses (``htmlkit.dom.open_tag``/``close_tag``), so the two parsers differ only
in tokenization, which is what ``tests/test_htmlkit_diff.py`` pins.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Union

from wpextract_spark.htmlkit.dom import (
    CommentNode,
    Document,
    TextNode,
    _truncate_to_head,
    close_tag,
    open_tag,
)


def _attrs(pairs) -> dict[str, str]:
    out: dict[str, str] = {}
    for key, value in pairs:
        if key not in out:  # first occurrence wins, like libxml2
            out[key] = value if value is not None else ""
    return out


class _StdlibAdapter(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Document()
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs) -> None:
        open_tag(self.stack, tag, _attrs(attrs))

    def handle_startendtag(self, tag, attrs) -> None:
        open_tag(self.stack, tag, _attrs(attrs), True)

    def handle_endtag(self, tag) -> None:
        close_tag(self.stack, tag)

    def handle_data(self, data) -> None:
        if data:
            self.stack[-1].append(TextNode(data))

    def handle_comment(self, data) -> None:
        self.stack[-1].append(CommentNode(data))


def parse_html_stdlib(html: Union[str, bytes], head_only: bool = False) -> Document:
    """``parse_html`` with the stdlib tokenizer."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    if head_only:
        html = _truncate_to_head(html)
    parser = _StdlibAdapter()
    parser.feed(html)
    parser.close()
    return parser.root
