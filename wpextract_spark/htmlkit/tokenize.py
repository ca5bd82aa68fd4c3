"""Single-pass regex tokenizer that builds the DOM as it scans.

``fast_feed`` recognizes each complete tag with ONE compiled regex match and
creates the nodes itself, with no callback interface in between. Element
tokens go through the tree-building rules in ``htmlkit.dom`` (``open_tag``/
``close_tag``: implicit closes, void elements, ``MAX_TREE_DEPTH``); text
without ``&`` skips charref decoding.

The token-level grammar (tag name / attribute / end-tag / comment /
declaration recovery rules) deliberately matches the stdlib
``html.parser.HTMLParser(convert_charrefs=True)`` tokenizer, whose patterns
implement the WHATWG HTML5 tokenization rules. Equivalence is pinned by a
differential test against a stdlib-``HTMLParser`` adapter driving the same
tree-building rules (``tests/htmlkit_oracle.py``) over the golden fixtures,
the synthetic corpus, and generated soup (``tests/test_htmlkit_diff.py``).

Known intentional divergences, all on pathological input only:

* a malformed start tag that is emitted as character data is never
  entity-unescaped here (the stdlib unescapes it on some recovery paths and
  not others);
* character data recovered around unterminated constructs may be split into
  different runs (the concatenated text is identical);
* ``<![foo]>`` (unknown marked-section keyword) is consumed as a bogus
  comment, where the stdlib raises ``NotImplementedError`` — totality over
  arbitrary crawl bytes matters more than emulating a crash.
"""

from __future__ import annotations

import re
from html import unescape
from typing import Optional

from wpextract_spark.htmlkit.dom import (
    CommentNode,
    Document,
    Tag,
    TextNode,
    close_tag,
    open_tag,
)

# One match per complete tag. The attrs body admits any run of non-quote,
# non-'>' characters or balanced quoted spans (quoted attribute values may
# contain '>'). That '>' is the one the stdlib's whole-tag locator finds
# only when the attribute text is empty or a plain list (_plain_attrs): a
# quote in attribute-name position ('<a 'x>y'>') opens no value for the
# stdlib, so its tag ends at the first '>'. Every other start tag, balanced
# or not, is located again by _slow_starttag.
_TAG = re.compile(
    r"<(?:"
    r"(?P<start>[a-zA-Z][^\t\n\r\f />\x00]*)"
    r"(?P<attrs>(?:[^>\"']|\"[^\"]*\"|'[^']*')*)>"
    r"|/\s*(?P<endname>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"  # well-formed end tag
    r"|(?P<end>/)"
    r"|(?P<comment>!--)"
    r"|(?P<pi>\?)"
    r"|(?P<decl>!)"
    r")"
)

# The stdlib tokenizer's sub-grammars (html/parser.py; WHATWG tokenization
# states) — reproduced so token boundaries are bit-identical.
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_LOCATE_STARTTAG_END = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    re.VERBOSE,
)
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_COMMENTCLOSE = re.compile(r"--\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKEDCLOSE = re.compile(r"]\s*]\s*>")
_MSMARKEDCLOSE = re.compile(r"]\s*>")
# Raw-text close patterns — exactly the stdlib's set_cdata_mode pattern
# (r'</\s*%s\s*>' with re.I): a junk close like '</style x=y>' does NOT end
# raw-text mode, and unterminated raw text swallows to end of input.
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}
# Plain attribute lists — whitespace-separated ``name``, ``name="v"``,
# ``name='v'`` or ``name=v`` — tokenize exactly as the stdlib's _ATTRFIND
# loop does, so one fullmatch plus one findall stands in for a regex match
# per attribute. Anything else (spaces around '=', attributes glued
# together, odd characters) fails the fullmatch and takes _emit_starttag.
_PLAIN_ATTRS = re.compile(
    r"""(?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*(?:=(?:"[^"]*"|'[^']*'|[^\s"'=<>`]+))?)*\s*"""
)
_PLAIN_ATTR = re.compile(
    r"""\s+([a-zA-Z_:][-a-zA-Z0-9_:.]*)(?:=(?:"([^"]*)"|'([^']*)'|([^\s"'=<>`]+)))?"""
)
_ASCII_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _plain_attrs(attrstr: str) -> Optional[tuple[dict[str, str], bool]]:
    """``(attrs, self_closing)`` of a plain attribute list, else None."""
    self_closing = attrstr[-1] == "/"
    if self_closing:
        # '/>' after a quote or a space; after a bare value the slash
        # belongs to the value ('href=x/>').
        if attrstr[-2:-1] not in "\"' \t\n\r\f":
            return None
        attrstr = attrstr[:-1]
    if _PLAIN_ATTRS.fullmatch(attrstr) is None:
        return None
    attrs: dict[str, str] = {}
    for name, dquoted, squoted, bare in _PLAIN_ATTR.findall(attrstr):
        name = name.lower()
        if name not in attrs:  # first occurrence wins
            value = dquoted or squoted or bare
            attrs[name] = unescape(value) if "&" in value else value
    return attrs, self_closing


def _data(stack: list[Tag], data: str) -> None:
    if data:
        stack[-1].append(TextNode(data))


def _recover(stack: list[Tag], rawdata: str, i: int) -> int:
    """Unterminated construct: consume to the next '>' (or '<', or one char)
    and emit the span as unescaped data — the stdlib's end-of-input recovery."""
    k = rawdata.find(">", i + 1)
    if k < 0:
        k = rawdata.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    _data(stack, unescape(rawdata[i:k]))
    return k


def _emit_starttag(stack: list[Tag], rawdata: str, i: int, endpos: int) -> Optional[str]:
    """The stdlib ``parse_starttag`` body for the tag span [i, endpos).
    Returns the tag name when it opened an element, which puts 'script'
    and 'style' into raw-text content mode."""
    match = _TAGFIND.match(rawdata, i + 1)
    k = match.end()
    tag = match.group(1).lower()
    # First occurrence wins on duplicate attribute names (libxml2
    # behavior); valueless attrs map to "".
    attrs: dict = {}
    while k < endpos:
        am = _ATTRFIND.match(rawdata, k)
        if am is None:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif attrvalue[:1] == "'" == attrvalue[-1:] or attrvalue[:1] == '"' == attrvalue[-1:]:
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape(attrvalue)
        attrname = attrname.lower()
        if attrname not in attrs:
            attrs[attrname] = attrvalue if attrvalue is not None else ""
        k = am.end()
    end = rawdata[k:endpos].strip()
    if end not in (">", "/>"):
        # Bogus content inside the tag: the whole span is character data
        # (raw — the stdlib does not unescape on this path).
        _data(stack, rawdata[i:endpos])
        return None
    open_tag(stack, tag, attrs, end == "/>")
    return None if end == "/>" else tag


def _slow_starttag(stack: list[Tag], rawdata: str, i: int) -> int:
    """Start tags the fast path cannot take (attribute text that is not a
    plain list, unbalanced quotes, truncated tags): the stdlib
    ``check_for_whole_start_tag`` decision."""
    j = _LOCATE_STARTTAG_END.match(rawdata, i).end()
    nxt = rawdata[j : j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/" and rawdata.startswith("/>", j):
        endpos = j + 2
    elif nxt == "" or nxt == "/" or nxt == "=" or nxt in _ASCII_LETTERS:
        # End of input in or before an attribute value.
        return _recover(stack, rawdata, i)
    else:
        endpos = j if j > i else i + 1
    cdata_elem = _emit_starttag(stack, rawdata, i, endpos)
    if cdata_elem in _CDATA_CLOSE:
        return _cdata(stack, rawdata, endpos, cdata_elem)
    return endpos


def _cdata(stack: list[Tag], rawdata: str, i: int, elem: str) -> int:
    """script/style raw-text content mode. Text is emitted verbatim (no
    charref conversion) until a PROPER matching end tag (``</elem\\s*>``);
    a junk close like ``</style x=y>`` does not end raw-text mode, and
    everything after an unclosed script/style is swallowed — exactly the
    stdlib's cdata-mode semantics."""
    m = _CDATA_CLOSE[elem].search(rawdata, i)
    if m is None:
        return len(rawdata)  # unterminated: remaining data is dropped
    if i < m.start():
        _data(stack, rawdata[i : m.start()])
    close_tag(stack, elem)
    return m.end()


def _parse_endtag(stack: list[Tag], rawdata: str, i: int) -> int:
    gt = rawdata.find(">", i + 1)
    if gt < 0:
        return _recover(stack, rawdata, i)
    m = _ENDTAGFIND.match(rawdata, i)
    if m is not None:
        close_tag(stack, m.group(1).lower())
        return gt + 1
    nm = _TAGFIND.match(rawdata, i + 2)
    if nm is None:
        if rawdata[i : i + 3] == "</>":
            return i + 3
        stack[-1].append(CommentNode(rawdata[i + 2 : gt]))  # bogus comment
        return gt + 1
    # Junk between the name and '>' is consumed and ignored.
    close_tag(stack, nm.group(1).lower())
    gt2 = rawdata.find(">", nm.end())
    return gt2 + 1


def _parse_decl(stack: list[Tag], rawdata: str, i: int) -> int:
    """'<!' constructs other than comments: doctype, marked sections, bogus
    comments. None contribute extractable content; boundaries must match."""
    if rawdata[i : i + 3] == "<![":
        nm = _DECLNAME.match(rawdata, i + 3)
        name = nm.group().strip().lower() if nm is not None else None
        if name in ("temp", "cdata", "ignore", "include", "rcdata"):
            cm = _MARKEDCLOSE.search(rawdata, i + 3)
        elif name in ("if", "else", "endif"):
            cm = _MSMARKEDCLOSE.search(rawdata, i + 3)
        else:
            cm = None
            gt = rawdata.find(">", i + 2)
            if gt >= 0:
                stack[-1].append(CommentNode(rawdata[i + 2 : gt]))
                return gt + 1
        if cm is None:
            return _recover(stack, rawdata, i)
        return cm.end()
    if rawdata[i : i + 9].lower() == "<!doctype":
        gt = rawdata.find(">", i + 9)
        if gt < 0:
            return _recover(stack, rawdata, i)
        return gt + 1
    gt = rawdata.find(">", i + 2)
    if gt < 0:
        return _recover(stack, rawdata, i)
    stack[-1].append(CommentNode(rawdata[i + 2 : gt]))  # bogus comment
    return gt + 1


def fast_feed(rawdata: str) -> Document:
    """Tokenize ``rawdata`` in one pass and return the built document."""
    root = Document()
    stack: list[Tag] = [root]
    n = len(rawdata)
    i = 0
    find = rawdata.find
    match = _TAG.match
    while i < n:
        j = find("<", i)
        if j < 0:
            j = n
        if i < j:
            data = rawdata[i:j]
            if "&" in data:
                data = unescape(data)
            if data:
                node = TextNode(data)
                top = stack[-1]
                node.parent = top
                top.children.append(node)
            if j == n:
                break
        i = j
        m = match(rawdata, i)
        if m is not None:
            kind = m.lastgroup
            if kind == "attrs":
                name, attrstr = m.group(1, 2)
                if not attrstr:  # the most common tags: <p>, <div>, …
                    cdata_elem = name.lower()
                    open_tag(stack, cdata_elem, {})
                elif (plain := _plain_attrs(attrstr)) is not None:
                    tag = name.lower()
                    open_tag(stack, tag, plain[0], plain[1])
                    cdata_elem = None if plain[1] else tag
                else:
                    i = _slow_starttag(stack, rawdata, i)
                    continue
                i = m.end()
                if cdata_elem in _CDATA_CLOSE:
                    i = _cdata(stack, rawdata, i, cdata_elem)
            elif kind == "endname":
                close_tag(stack, m.group(3).lower())
                i = m.end()
            elif kind == "end":
                i = _parse_endtag(stack, rawdata, i)
            elif kind == "comment":
                cm = _COMMENTCLOSE.search(rawdata, i + 4)
                if cm is None:
                    i = _recover(stack, rawdata, i)
                else:
                    stack[-1].append(CommentNode(rawdata[i + 4 : cm.start()]))
                    i = cm.end()
            elif kind == "pi":
                gt = find(">", i + 2)
                if gt < 0:
                    i = _recover(stack, rawdata, i)
                else:
                    i = gt + 1  # processing instructions carry no content
            else:  # decl
                i = _parse_decl(stack, rawdata, i)
            continue
        c = rawdata[i + 1 : i + 2]
        if c in _ASCII_LETTERS:
            i = _slow_starttag(stack, rawdata, i)
        else:
            _data(stack, "<")
            i += 1
    return root
