"""Text analysis operators: token counts, quality scoring, fingerprinting,
language identification.

Counts/ratios/fingerprints are built-in JVM expressions (whole-stage codegen,
oracle-expressible). Language-ID is a stopword-profile heuristic in a pandas
UDF (profiles ship with the closure); the voting is relational, so its oracle
restates the same profiles in SQL (plans/queries.py:_oracle_lang_id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from wpextract_spark.operators.dedup import WS, split_words

#: Small multilingual stopword profiles for the lang-id heuristic.
_LANG_PROFILES = {
    "en": {"the", "a", "of", "and", "to", "in", "is", "that", "for", "it", "on", "with"},
    "fr": {"le", "la", "les", "de", "des", "et", "un", "une", "est", "que", "pour", "dans"},
    "de": {"der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von", "mit", "für"},
    "es": {"el", "la", "los", "las", "de", "y", "un", "una", "es", "que", "por", "con"},
}

_STOPWORDS_EN = sorted(_LANG_PROFILES["en"])


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_chars, approx_bpe_tokens).

    ``approx_bpe_tokens`` is the chars/4 heuristic commonly used to budget
    LLM token counts without a tokenizer.
    """
    return docs.select(
        F.col(id_col),
        F.size(split_words(text_col)).alias("n_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
        F.ceil(F.length(F.col(text_col)) / 4).cast("long").alias("approx_bpe_tokens"),
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, stopword_ratio, mean_word_len, quality) per document.

    The quality score is the trivial-but-effective web-corpus filter: enough
    tokens, plausible mean word length, presence of function words.
    """
    words = split_words(text_col)
    n_tokens = F.size(words)
    # InSet hash probe per word (stopword list > inSetConversionThreshold)
    # instead of an O(|stopwords|) array scan per word.
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(_STOPWORDS_EN)))
    # sum(len(word)) == len(text with all separator runs removed): one JVM
    # regexp pass instead of an interpreted higher-order aggregate.
    sum_word_len = F.length(F.regexp_replace(F.trim(F.col(text_col)), WS, ""))
    mean_len = sum_word_len / F.greatest(n_tokens, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    quality = (
        F.when((n_tokens >= 10) & (mean_len >= 2.0) & (mean_len <= 12.0), 0.5).otherwise(0.0)
        + F.when(stop_ratio > 0.02, 0.5).otherwise(0.0)
    )
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_len, 6).alias("mean_word_len"),
        quality.alias("quality"),
    )


def fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """(id, fingerprint): min-hash over word ``n``-grams (winnowing-lite).

    A single stable 32-hex fingerprint robust to local edits outside the
    minimal shingle; shift-resistant unlike a whole-text hash.
    """
    words = split_words(text_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, n))),
    )
    return docs.select(F.col(id_col), F.array_min(grams).alias("fingerprint"))


def lang_id_udf():
    """text -> best-guess language code by stopword-profile voting."""

    import re as _re

    # ASCII whitespace explicitly (not str.split()'s Unicode set) so the SQL
    # oracle's split on the same explicit class (queries.WS_SQL) has
    # identical token boundaries.
    ascii_ws = _re.compile(r"[ \t\n\r\f\v]+")

    @F.pandas_udf(StringType())
    def _lang_id(text: pd.Series) -> pd.Series:
        def guess(value: str | None) -> str | None:
            if not value:
                return None
            tokens = [t for t in ascii_ws.split(value.lower()) if t]
            if not tokens:
                return None
            scores = {
                lang: sum(t in profile for t in tokens)
                for lang, profile in _LANG_PROFILES.items()
            }
            best = max(scores, key=lambda l: (scores[l], l))
            return best if scores[best] > 0 else "und"

        return text.map(guess)

    return _lang_id


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, lang_guess) via the stopword-profile heuristic."""
    return docs.select(F.col(id_col), lang_id_udf()(F.col(text_col)).alias("lang_guess"))


#: Characteristic character trigrams per language (n-gram heuristic variant).
_LANG_TRIGRAMS = {
    "en": [" th", "the", "he ", "ing", " an", "nd ", " of", "ion"],
    "fr": [" le", "es ", " de", "ent", "que", " et", "ait", "eur"],
    "de": ["der", "ein", "sch", "ich", "und", "die", "en ", "cht"],
    "es": [" de", "los", " la", "ado", "ión", " el", "ent", "que"],
}


def lang_id_ngram_udf():
    """text -> best-guess language by character-trigram profile voting.

    Score per language = number of (overlapping) text trigrams contained in
    that language's profile; tie-break and null/und semantics identical to
    the stopword variant. Relational, so the oracle restates it in SQL."""

    @F.pandas_udf(StringType())
    def _lang(text: pd.Series) -> pd.Series:
        def guess(value: str | None) -> str | None:
            if not value:
                return None
            low = value.lower()
            if len(low) < 3:
                return None
            grams = [low[i : i + 3] for i in range(len(low) - 2)]
            scores = {
                lang: sum(g in profile for g in grams)
                for lang, profile in _LANG_TRIGRAMS.items()
            }
            best = max(scores, key=lambda l: (scores[l], l))
            return best if scores[best] > 0 else "und"

        return text.map(guess)

    return _lang


def lang_id_ngram(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, lang_guess) via the character-trigram heuristic."""
    return docs.select(
        F.col(id_col), lang_id_ngram_udf()(F.col(text_col)).alias("lang_guess")
    )


#: BPE-ish pre-tokenization regex (contractions, letter runs, digit runs,
#: punctuation runs) — deliberately lookahead-free AND \s-free so the
#: identical pattern runs in Java regex (Spark) and RE2 (DuckDB oracles);
#: `\s` itself diverges between the engines on \x0B.
BPE_SPLIT_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\x0B\f\r']+"


def corpus_profile(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus shape report: ``(group, n_docs, total_tokens,
    mean_tokens, p50_tokens, p95_tokens, max_tokens)`` over whitespace
    token counts — the summary a pipeline prints before/after every
    curation stage.

    Percentiles are exact and interpolated: Spark's ``percentile`` buffers
    each group's values (fine up to millions of rows per group) and is
    bit-identical to DuckDB's ``quantile_cont``, which the oracle gate
    checks.
    """
    n_tokens = F.size(split_words(text_col)).cast("long")
    return (
        docs.select(F.col(group_col), n_tokens.alias("_nt"))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.round(F.avg("_nt"), 6).alias("mean_tokens"),
            F.round(F.percentile(F.col("_nt"), F.lit(0.5)), 6).alias("p50_tokens"),
            F.round(F.percentile(F.col("_nt"), F.lit(0.95)), 6).alias("p95_tokens"),
            F.max("_nt").alias("max_tokens"),
        )
    )
