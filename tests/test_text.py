"""String-kernel parity tests (golden values from the reference's
tests/util/test_str.py)."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wpextract_spark.functions.text import (
    extract_html_text,
    remove_ends,
    remove_prefix,
    remove_suffix,
    squash_whitespace,
)


def test_affix_helpers():
    assert remove_prefix("pypython", "py") == "python"
    assert remove_prefix("python", "foo") == "python"
    assert remove_suffix("pythonpy", "py") == "python"
    assert remove_suffix("python", "py") == "python"
    assert remove_ends("pypythonpy", "py") == "python"
    assert remove_ends("python", "foo") == "python"


@pytest.mark.parametrize(
    ("trial", "expected"),
    [
        ("foo\n\nbar", "foo\nbar"),
        ("  foo  ", "foo"),
        ("foo\n bar", "foo\nbar"),
        ("foo\n\t\tbar", "foo\nbar"),
        ("foo\n  \nbar", "foo\nbar"),
    ],
)
def test_squash_whitespace(trial, expected):
    assert squash_whitespace(trial) == expected


# The reference's two-pass squash (util/str.py), kept as the model of the
# one-regex form: collapse newline runs, then strip line-leading whitespace.
_ADJACENT_NEWLINES = re.compile("\n{2,}")
_LINE_LEADING_WS = re.compile(r"^\s+", re.MULTILINE)


def _squash_two_pass(string):
    return _LINE_LEADING_WS.sub("", _ADJACENT_NEWLINES.sub("\n", string)).strip()


# Every whitespace class the two regexes and strip() could disagree on:
# ASCII, the \x1c-\x1f separators, NEL, NBSP, Unicode spaces and line
# separators, plus a zero-width space (not whitespace) and letters.
_SQUASH_ALPHABET = list("\n\r\t\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u2003\u2028\u2029\u3000\u200b  ab")


@settings(max_examples=3000, deadline=None)
@given(st.text(alphabet=_SQUASH_ALPHABET, max_size=40))
def test_squash_whitespace_matches_two_pass_model(text):
    assert squash_whitespace(text) == _squash_two_pass(text)


def test_extract_html_text_fast_path():
    # Non-HTML passes through verbatim — notably unsquashed.
    assert extract_html_text("plain  text \n\n here") == "plain  text \n\n here"


def test_extract_html_text_parses():
    assert extract_html_text("<p>Hello <b>world</b></p>") == "Hello world"
    assert extract_html_text("A &amp; B") == "A & B"
