"""Differential tests: round-5 column expressions vs pure-Python models.

Each operator already has a DuckDB oracle at the registry level; these
tests add a THIRD independent implementation (stdlib ``re``/string ops)
and compare over an adversarial corpus — unicode, empty strings, bare
dots, control characters — so the expression semantics are pinned by
two unrelated engines plus Python.
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


# -------------------------------------------------------------- tests


def test_split_sentences_matches_python_model(spark):
    from wpextract_spark.operators.sentences import split_sentences

    df = spark.createDataFrame([(t,) for t in NASTY_TEXT], "text string")
    got = [
        r["s"]
        for r in df.select(split_sentences("text").alias("s")).collect()
    ]
    assert got == [py_split_sentences(t) for t in NASTY_TEXT]


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
