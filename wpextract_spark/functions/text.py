"""Scalar text functions of the extraction kernel.

Pure Python on purpose: the whitespace-squash semantics are defined by Python
``re`` (reference ``util/str.py:106-120``), and running them inside the
Arrow-batched UDFs keeps byte parity with the reference fixtures. Java
``regexp_replace`` is deliberately NOT used here — Java and Python regex
semantics differ at corners (``\\s`` coverage, multiline anchoring), which is
a parity risk flagged in SURVEY.md §2.2 P10.

``squash_whitespace`` runs on every page text and every link text, so it is
one anchored-on-newline regex pass plus ``strip()``; ``extract_html_text``
releases its parsed tree (``Document.release``) so it is freed by refcount.
"""

from __future__ import annotations

import re

from wpextract_spark.htmlkit.dom import parse_html

#: A newline and the whitespace after it (newlines included).
_NEWLINE_WS = re.compile(r"\n\s+")

#: Fast-path probe: a string without '<' or an entity-like sequence is not
#: HTML and is returned verbatim (unsquashed!) — reference ``parse/html.py:7,34-35``.
PROBABLY_HTML = re.compile(r"<|&\S+;")


def squash_whitespace(string: str) -> str:
    """Collapse runs of newlines, strip line-leading whitespace, trim ends.

    The reference's two passes — ``\\n{2,}`` -> ``\\n``, then a MULTILINE
    ``^\\s+`` -> ``""`` — in one: a MULTILINE ``^`` matches only at 0 or
    right after ``\\n``, and ``\\s`` includes ``\\n``, so a whitespace run
    after a newline swallows any newline runs in it (whitespace-only lines
    vanish, pinned by the reference's ``tests/util/test_str.py`` squash
    cases). A run at position 0 goes with the final ``strip()``, which
    strips the same Unicode whitespace set ``\\s`` matches.
    """
    return _NEWLINE_WS.sub("\n", string).strip()


def extract_html_text(html: str) -> str:
    """Text of an HTML fragment; non-HTML strings pass through untouched.

    Mirrors ``parse/html.py:22-37``: the fast path returns the raw string
    (notably *without* squashing), otherwise parse + get_text + squash.
    """
    if PROBABLY_HTML.search(html) is None:
        return html
    doc = parse_html(html)
    text = doc.get_text()
    doc.release()
    return squash_whitespace(text)


def remove_prefix(text: str, prefix: str) -> str:
    return text[len(prefix) :] if text.startswith(prefix) else text


def remove_suffix(text: str, suffix: str) -> str:
    return text[: -len(suffix)] if suffix and text.endswith(suffix) else text


def remove_ends(text: str, affix: str) -> str:
    """Strip ``affix`` from both ends if present."""
    return remove_prefix(remove_suffix(text, affix), affix)


def attr_concat(val) -> str:
    """Join multi-valued attribute lists with a space; pass strings through."""
    if isinstance(val, list):
        return " ".join(val)
    return val
