"""Sentence segmentation as pure column expressions.

Training pipelines need sentence boundaries constantly — sentence-level
dedup (the WMT/ParaCrawl regime) and quality signals (mean sentence length
is a Gopher-style filter).
A full Punkt model is overkill for corpus statistics; the workhorse is a
deterministic rule: protect known abbreviation dots, then treat every
maximal ``[.!?]+`` run as a terminator.

The implementation is deliberately regex-minimal so it runs identically in
two engines: no lookbehind/lookahead (RE2 has none — the DuckDB oracle
restates the same steps), one capture in the replacement. Everything
is built-in JVM expressions over arrays — whole-stage codegen, no UDF, no
shuffle; at 10^12 documents this is a map-only pass.

Steps:
0. delete every U+0001 from the input, so the sentinel of step 1 is the
   only one in the text (the pages pipeline strips control chars already,
   but ``split_sentences`` is a library function and raw text may carry
   them — without this a stray U+0001 would come back as a dot);
1. rewrite ``<abbrev>.`` to ``<abbrev>\\x01`` (sentinel);
2. extract maximal ``[^.!?]+[.!?]+`` runs plus the unterminated tail;
3. restore sentinels to dots, trim, drop empties.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Title/latin abbreviations whose trailing dot never ends a sentence.
ABBREVS = (
    "Mr", "Mrs", "Ms", "Dr", "Prof", "St", "vs", "etc", "No", "Fig",
    "Jr", "Sr", "Inc", "Ltd", "cf", "al",
)
_ABBREV_RE = r"\b(" + "|".join(ABBREVS) + r")\."
#: Latinate two-letter abbreviations (e.g. / i.e.) carry an INTERNAL dot
#: that must be neutralized too — a replacement cannot rewrite inside a
#: captured group, so they get their own rule with both dots sentineled.
_LATIN_RE = r"\b([ei])\.([ge])\."
#: Maximal non-terminator run followed by its terminator run, or the
#: unterminated tail. RE2-compatible (no lookaround).
_SENT_RE = r"[^.!?]+[.!?]+|[^.!?]+$"
_SENTINEL = "\x01"


def split_sentences(text: Column | str) -> Column:
    """Array of trimmed sentences (terminators kept, abbreviations safe)."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.translate(t, _SENTINEL, "")
    protected = F.regexp_replace(
        t, _LATIN_RE, "$1" + _SENTINEL + "$2" + _SENTINEL
    )
    protected = F.regexp_replace(protected, _ABBREV_RE, "$1" + _SENTINEL)
    sents = F.regexp_extract_all(protected, F.lit(_SENT_RE), F.lit(0))
    sents = F.transform(
        sents, lambda s: F.trim(F.translate(s, _SENTINEL, "."))
    )
    return F.filter(sents, lambda s: s != "")


def sentence_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document sentence census: count, exact total/max sentence chars
    (integers — no float-rounding hazard in cross-engine compares), and the
    first sentence for spot inspection."""
    arr = split_sentences(text_col)
    lens = F.transform(arr, lambda s: F.length(s))
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(arr).alias("n_sentences"),
        F.aggregate(
            lens, F.lit(0), lambda acc, x: acc + x
        ).alias("sentence_chars"),
        F.coalesce(F.array_max(lens), F.lit(0)).alias("max_sentence_len"),
        F.element_at(arr, 1).alias("first_sentence"),
    )
