"""Differential tests: round-5 column expressions vs pure-Python models.

Each operator already has a DuckDB oracle at the registry level; these
tests add a THIRD independent implementation (stdlib ``re``/string ops)
and compare over an adversarial corpus — unicode, empty strings, bare
dots, control characters, scheme-less URLs, long digit/hex runs — so the
expression semantics are pinned by two unrelated engines plus Python.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

# ---------------------------------------------------------------- corpus

NASTY_TEXT = [
    "",
    ".",
    "...",
    "?!?!",
    "a",
    "No.",
    "No. 5 is alive. Really!",
    "Dr. Who? Mr. Dr. Prof. chain.",
    "e.g. start. i.e. middle e.g. end",
    "ends with abbrev etc.",
    "tab\tand  spaces   squash?",
    "unicode: caf\u00e9 na\u00efve \u4e2d\u6587\u3002 done.",
    "mixed!terminators?inline.words",
    "trailing tail no dot",
    "dots..between..words.",
    " leading space. and one more ",
    "!",
    "a.b.c.d",
    "UPPER CASE. lower case. MiXeD!",
    "digits 1.5 and 2.75 in numbers.",
    "raw\x01sentinel char. Dr\x01. next",
]

NASTY_HOSTS = [
    "example.org",
    "EXAMPLE.ORG",
    "www.example.org",
    "www2.example.org",
    "a.b.c.d.example.co.uk",
    "co.uk",
    "uk",
    "localhost",
    "192.168.0.1",
    "example.org.",
    "xn--bcher-kva.example",
    "a",
    "sub.example.com.br",
    "weird..double.dot.org",
]

NASTY_URLS = [
    "https://example.org/a/2019/11/30",
    "https://a.example/hex/deadbeefcafe1234/x",
    "http://A.EXAMPLE/Path/7",
    "https://a.example",
    "https://a.example/?q=1",
    "https://a.example/#frag",
    "not a url at all",
    "ftp://files.example/1/2",
    "https://a.example/a1b2c3d4e5f6a7b8/y",
    "https://a.example/v1.2.3/download",
]

# ------------------------------------------------------- python models

_LATIN = re.compile(r"\b([ei])\.([ge])\.")
_ABBREV = re.compile(
    r"\b(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|No|Fig|Jr|Sr|Inc|Ltd|cf|al)\."
)
_SENT = re.compile(r"[^.!?]+[.!?]+|[^.!?]+$")


def py_split_sentences(text: str) -> list[str]:
    p = _LATIN.sub("\\1\x01\\2\x01", text.replace("\x01", ""))
    p = _ABBREV.sub("\\1\x01", p)
    out = [m.replace("\x01", ".").strip() for m in _SENT.findall(p)]
    return [s for s in out if s]


def py_registered_domain(host: str) -> str:
    from wpextract_spark.functions.domains import MULTI_SUFFIXES

    h = re.sub(r"\.$", "", host).lower()
    labels = h.split(".")
    if re.fullmatch(r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+", h) or len(labels) <= 1:
        return h
    if len(labels) >= 3 and ".".join(labels[-2:]) in MULTI_SUFFIXES:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def py_url_pattern(url: str) -> str:
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", url)
    path = (m.group(1) if m else "").lower() or "/"
    path = re.sub(r"[0-9a-f]{8,}", "{H}", path)
    return re.sub(r"[0-9]+", "{N}", path)


# -------------------------------------------------------------- tests


def test_split_sentences_matches_python_model(spark):
    from wpextract_spark.operators.sentences import split_sentences

    df = spark.createDataFrame([(t,) for t in NASTY_TEXT], "text string")
    got = [
        r["s"]
        for r in df.select(split_sentences("text").alias("s")).collect()
    ]
    assert got == [py_split_sentences(t) for t in NASTY_TEXT]


def test_registered_domain_matches_python_model(spark):
    from wpextract_spark.functions.domains import registered_domain

    df = spark.createDataFrame([(h,) for h in NASTY_HOSTS], "host string")
    got = [r[0] for r in df.select(registered_domain("host")).collect()]
    assert got == [py_registered_domain(h) for h in NASTY_HOSTS]


def test_url_pattern_matches_python_model(spark):
    from wpextract_spark.operators.traps import url_pattern

    df = spark.createDataFrame([(u,) for u in NASTY_URLS], "url string")
    got = [r[0] for r in df.select(url_pattern("url")).collect()]
    assert got == [py_url_pattern(u) for u in NASTY_URLS]


def test_sentence_split_loses_no_content(spark):
    # totality property: joining the sentences back preserves every
    # non-whitespace character of the input, in order — except a LEADING
    # terminator run, the one thing the extraction pattern cannot attach
    # to any sentence (punctuation-only prefixes carry no content) — and
    # U+0001, which split_sentences deletes before protecting abbreviations
    from wpextract_spark.operators.sentences import split_sentences

    df = spark.createDataFrame([(t,) for t in NASTY_TEXT], "text string")
    rows = df.select(
        "text", split_sentences("text").alias("s")
    ).collect()
    for r in rows:
        expect = re.sub(r"^[.!?]+", "", r["text"].replace("\x01", ""))
        assert re.sub(r"\s", "", "".join(r["s"])) == re.sub(
            r"\s", "", expect
        )
