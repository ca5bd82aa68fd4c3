"""Real byte-pair encoding: corpus-trained merge table + broadcast apply.

Replaces the regex-proxy token counting of ``bpe_token_stats`` with an
actual BPE (Sennrich et al. 2016): training learns a merge list from corpus
pair frequencies; encoding applies those merges in order to produce real
token streams (``sequence_pack(token_counter=bpe_token_count_expr(...))``
then packs genuine BPE tokens).

100-TB shape. Training splits into the two scales it actually has:

* The corpus-sized step — word-frequency aggregation — is one distributed
  explode + groupBy with map-side combine. Only the resulting
  VOCABULARY-sized ``(word, freq)`` table crosses to the driver, optionally
  capped at the ``max_words`` most frequent words (``takeOrdered``-style
  partial top-k), so driver traffic is ∝ vocabulary, never corpus.
* The merge loop itself is inherently sequential (merge *k+1*'s pair
  counts depend on merge *k*'s rewrite) and operates on that vocabulary-
  sized table — there is no corpus-sized work to distribute, so it runs
  driver-side in pure Python exactly like the reference GPT-2/sentencepiece
  trainers do after their own count aggregation.

Encoding broadcasts the merge list (KBs) inside an Arrow-batched pandas
UDF with per-batch word memoization — executors re-derive each distinct
word's tokenization once per batch, nothing shuffles.

Determinism contract (what makes a SQL oracle possible): pair selection is
``max(count)`` then lexicographically smallest ``(a, b)``; merge
application is leftmost non-overlapping, implemented as ``str.replace`` on
a ``\\x1f``-separated symbol string — byte-for-byte the semantics of SQL
``replace()``, so the unrolled-CTE oracle in ``plans/queries.py`` restates
training AND encoding exactly.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wpextract_spark.operators.textstats import _words

#: symbol separator inside the working representation of a word — U+001F
#: (unit separator) never appears in whitespace-split corpus words.
SEP = "\x1f"


def _wrap(word: str) -> str:
    """'abc' -> '\\x1fa\\x1fb\\x1fc\\x1f' (base symbols = characters)."""
    return SEP + SEP.join(word) + SEP


def _symbols(wrapped: str) -> List[str]:
    return wrapped.strip(SEP).split(SEP) if len(wrapped) > 2 else []


def _apply_merge(wrapped: str, a: str, b: str) -> str:
    """Leftmost non-overlapping merge — identical to SQL replace()."""
    return wrapped.replace(a + SEP + b, a + b)


def _apply_merges(wrapped: str, merges: List[Tuple[str, str]]) -> str:
    for a, b in merges:
        wrapped = _apply_merge(wrapped, a, b)
    return wrapped


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_words: Optional[int] = None,
) -> List[Tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge list ``[(a, b), ...]`` (apply in order when encoding).

    Distributed word-frequency aggregation, then a driver-side merge loop
    over the vocabulary-sized count table (see module docstring for why
    that split is the 100-TB design)."""
    wf = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.explode(_words(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if max_words is not None:
        # Partial top-k (TakeOrdered): each partition ships at most k rows.
        rows = wf.orderBy(F.desc("freq"), "word").limit(max_words).collect()
    else:
        rows = wf.collect()

    table: List[List] = [[_wrap(r["word"]), int(r["freq"])] for r in rows]
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict = {}
        for wrapped, freq in table:
            syms = _symbols(wrapped)
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        best_n = max(counts.values())
        a, b = min(p for p, c in counts.items() if c == best_n)
        merges.append((a, b))
        for entry in table:
            entry[0] = _apply_merge(entry[0], a, b)
    return merges


def bpe_encode_udf(merges: List[Tuple[str, str]]):
    """Arrow-batched pandas UDF: text -> array of BPE token strings.

    The merge list travels in the UDF closure (broadcast with the task,
    KBs); distinct words are memoized per batch so the per-word merge loop
    runs once per distinct word, not once per occurrence."""
    import re

    from wpextract_spark.operators.dedup import WS

    ws_re = re.compile(WS)
    merge_list = list(merges)

    @F.pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        cache: dict = {}

        def enc_word(word: str) -> List[str]:
            hit = cache.get(word)
            if hit is None:
                hit = cache[word] = _symbols(
                    _apply_merges(_wrap(word), merge_list)
                )
            return hit

        def enc(text) -> Optional[List[str]]:
            if text is None:
                return None
            out: List[str] = []
            for word in ws_re.split(text.strip()):
                if word:
                    out.extend(enc_word(word))
            return out

        return texts.map(enc)

    return _encode


def bpe_encode(
    docs: DataFrame,
    merges: List[Tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, n_words, n_tokens)``: real BPE token counts per document
    under the given merge list. One corpus pass, no shuffle (the groupBy is
    by doc — the UDF emits per-doc arrays directly, so there is none)."""
    toks = bpe_encode_udf(merges)(F.col(text_col))
    n_words = F.when(
        F.col(text_col).isNotNull(), F.size(_words(text_col))
    )  # size(split(NULL)) is -1, not NULL — quarantine explicitly
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


def bpe_vocab(merges: List[Tuple[str, str]]) -> List[str]:
    """The learned non-base vocabulary, in merge order."""
    return [a + b for a, b in merges]


def bpe_token_count_expr(merges: List[Tuple[str, str]], text_col: str = "text"):
    """Column expression: real BPE token count + 1 EOS — drop-in
    ``token_counter`` for :func:`wpextract_spark.operators.packing.sequence_pack`."""
    return (F.size(bpe_encode_udf(merges)(F.col(text_col))) + 1).cast("long")
