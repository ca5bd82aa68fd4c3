"""Deduplication operators for training-data pipelines.

All variants are pure DataFrame algebra over built-in JVM functions (no Python
in the hot path): hashing uses ``md5`` over UTF-8 so the semantics are
reproducible in any engine (the DuckDB oracles run the same expressions).

Scale notes:
* exact dedup: one hash + one shuffle on the hash key (uniform by design);
* MinHash: explode-distinct words is a flatMap + partial-agg (map-side
  combine) before the per-doc groupBy — the shuffle carries (doc, word-min)
  partial rows, not raw shingles;
* LSH banding: candidate generation shuffles on band keys; a band bucket with
  B docs yields B² candidate pairs, so bucket width is the skew knob — cap
  with more bands/rows at scale;
* n-gram Jaccard: the gram self-join is quadratic per shared gram — it is a
  verifier for candidate pairs, not a corpus-wide sweep (LSH prunes first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Split pattern for whitespace tokenization, shared with the oracles.
#: Spelled as an explicit class because `\s` is NOT engine-identical: Java's
#: includes \x0B (vertical tab) while RE2's (DuckDB) excludes it — this class
#: is exactly Java's \s and behaves identically in Java, RE2, and Python.
WS = r"[ \t\n\x0B\f\r]+"


def split_words(text_col: str) -> Column:
    """Whitespace tokens of the trimmed text (``[""]`` for blank text)."""
    return F.split(F.trim(F.col(text_col)), WS)


def exact_duplicate_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_dups, keep_id).

    ``keep_id`` is the smallest id (deterministic survivor policy); only
    groups with >1 member are returned.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """MinHash signature per document over the distinct-word set.

    Hash family i is ``md5(i || ':' || word)``; the min is taken over the hex
    string (fixed-width lowercase hex, so string order == value order). Output:
    (id, sig_0..sig_{k-1}).

    Entirely row-local — ``array_min`` over a ``transform`` of the distinct-
    word array, NO explode/groupBy: the signature never shuffles, so every
    LSH consumer starts its plan one exchange lighter. (``split_words`` always
    yields at least one element — split of an empty string is [''] — so no
    doc row is lost and no null signature appears, matching what the old
    explode+min aggregation produced.)
    """
    words = F.array_distinct(split_words(text_col))

    # Bind i in a helper, NOT a default arg: transform() dispatches on lambda
    # ARITY, so a two-parameter lambda would receive the element index as its
    # second argument and silently clobber the default.
    def _sig(i: int):
        return F.array_min(
            F.transform(words, lambda w: F.md5(F.concat(F.lit(f"{i}:"), w)))
        ).alias(f"sig_{i}")

    return docs.select(F.col(id_col), *[_sig(i) for i in range(k)])


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = 100,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Signature split into ``bands`` rows of ``k/bands`` values; docs sharing a
    band bucket become a candidate pair (a < b). Output: (id_a, id_b, n_bands)
    with the number of agreeing bands.

    ``max_bucket`` drops band buckets holding more than that many documents
    before the self-join — the mega-bucket guard. A bucket of B docs emits
    B^2/2 pairs, so one degenerate key (boilerplate-only pages, empty text)
    turns the join quadratic; capping bounds the worst case at
    ``buckets * max_bucket^2 / 2`` and loses only candidates that ``bands``
    other bands can still propose. Pass None to disable.
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    rows = k // bands
    sig = minhash_signatures(docs, id_col, text_col, k)
    band_cols = [
        F.concat_ws("|", F.lit(b), *[F.col(f"sig_{b * rows + r}") for r in range(rows)]).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("band_key"))
    if max_bucket is not None:
        # One extra shuffle on band_key; the self-join below re-uses the same
        # hash partitioning, so AQE plans scan->window->join without a second
        # exchange of the big side.
        bucket_n = F.count("*").over(Window.partitionBy("band_key"))
        banded = banded.withColumn("_n", bucket_n).where(F.col("_n") <= max_bucket).drop("_n")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, F.col("l.band_key") == F.col("r.band_key"))
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_bands"))
    )


def _gram_pair_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    candidates: DataFrame | None,
) -> DataFrame:
    """(id_a, id_b, common, na, nb) for every pair sharing >= 1 distinct
    word-n-gram — the shared propose/verify machinery behind both the
    symmetric (Jaccard) and directed (containment) gram metrics."""
    words = split_words(text_col)
    # Docs with fewer than n words yield NO grams: sequence(0, size-n) with
    # size < n would DESCEND (0, -1, ...) and slice(words, 0, n) aborts the
    # whole stage — one short/empty doc must not kill a corpus-scale job.
    # (DuckDB's range() is already empty for negative stops, so the oracle
    # agrees.)
    grams = F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    if candidates is not None:
        # Verify path: ship each doc's DISTINCT gram ARRAY to its candidate
        # pairs (two id-keyed joins) and intersect per pair in one JVM array
        # op. One output row per candidate — no per-gram fan-out rows, no
        # pair re-aggregation shuffle, and sizes come free from the arrays
        # (same shuffled bytes as exploding, minus the row overhead and two
        # extra shuffles). common > 0 preserves the explode path's
        # semantics: disjoint or gram-less pairs emit nothing even at
        # threshold 0.
        arrays = docs.select(F.col(id_col), grams.alias("gs"))
        common = F.size(F.array_intersect("ga", "gb"))
        return (
            candidates.select("id_a", "id_b")
            .join(
                arrays.select(F.col(id_col).alias("id_a"), F.col("gs").alias("ga")),
                "id_a",
            )
            .join(
                arrays.select(F.col(id_col).alias("id_b"), F.col("gs").alias("gb")),
                "id_b",
            )
            .withColumn("common", common)
            .where(F.col("common") > 0)
            .select(
                "id_a",
                "id_b",
                "common",
                F.size("ga").alias("na"),
                F.size("gb").alias("nb"),
            )
        )

    # Propose-free path: self-join on shared grams. Explode the gram
    # expression INLINE: explode over a separately projected alias column
    # measures ~10x slower here (the generate re-evaluates the projected
    # array), and a size()>0 pre-filter is unnecessary — explode drops empty
    # arrays and the inner joins exclude gram-less docs.
    sizes = docs.select(F.col(id_col), F.size(grams).alias("n_grams"))
    exploded = docs.select(F.col(id_col), F.explode(grams).alias("g"))
    pairs = (
        exploded.alias("l")
        .join(exploded.alias("r"), F.col("l.g") == F.col("r.g"))
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    return pairs.join(
        sizes.withColumnsRenamed({id_col: "id_a", "n_grams": "na"}), "id_a"
    ).join(sizes.withColumnsRenamed({id_col: "id_b", "n_grams": "nb"}), "id_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Document pairs with word-``n``-gram Jaccard similarity >= threshold.

    Output: (id_a, id_b, jaccard). Without ``candidates`` this self-joins on
    shared grams — quadratic in per-gram document frequency, only safe on
    small slices. With ``candidates`` (a DataFrame with id_a/id_b, e.g. from
    :func:`lsh_candidate_pairs`) the join fans out linearly in
    ``|candidates| x grams-per-doc``: the scale path is LSH propose ->
    Jaccard verify.
    """
    counts = _gram_pair_counts(docs, id_col, text_col, n, candidates)
    return (
        counts.withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Directed near-dup detection: pairs where one document's gram set is
    (mostly) CONTAINED in the other's — ``C(A→B) = |A∩B| / |A|``.

    Catches what symmetric Jaccard structurally cannot: quotations, partial
    scrapes, a page embedded in a longer roll-up — a 50-word quote inside a
    5000-word article has Jaccard ≈ 0.01 but containment 1.0.  Output
    ``(id_a, id_b, cont_a_in_b, cont_b_in_a)`` for pairs whose LARGER
    containment crosses ``threshold``; the direction with the higher value
    names the contained (smaller) side.  Same propose/verify scale contract
    as :func:`ngram_jaccard_pairs` (pass LSH ``candidates`` at scale;
    common > 0 guarantees both denominators are positive).
    """
    counts = _gram_pair_counts(docs, id_col, text_col, n, candidates)
    cont_a = F.col("common") / F.col("na")
    cont_b = F.col("common") / F.col("nb")
    return (
        counts.withColumn("cont_a_in_b", F.round(cont_a, 6))
        .withColumn("cont_b_in_a", F.round(cont_b, 6))
        .where(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )


# ---------------------------------------------------------------------------
# Incremental dedup against an already-ingested corpus (bloom prefilter)
# ---------------------------------------------------------------------------


def _bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for a Bloom filter; m rounded up to a
    whole byte."""
    import math

    expected_items = max(expected_items, 1)
    m = int(math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    m = max((m + 7) // 8 * 8, 8)
    k = max(int(round(m / expected_items * math.log(2))), 1)
    return m, k


def _bloom_positions(hex_hashes, m: int, k: int):
    """Bit positions for a batch of md5-hex keys: double hashing
    ``(h1 + i*h2) mod m`` over the two 64-bit halves of the digest —
    vectorized with numpy after the per-row hex parse (the only Python-level
    loop, ~100ns/row inside an Arrow batch)."""
    import numpy as np

    h1 = np.array([int(s[:16], 16) for s in hex_hashes], dtype=np.uint64)
    h2 = np.array([int(s[16:], 16) for s in hex_hashes], dtype=np.uint64)
    mm = np.uint64(m)
    return [(h1 + np.uint64(i) * h2) % mm for i in range(k)]


def build_text_bloom(
    hashes: DataFrame,
    hash_col: str = "text_hash",
    expected_items: int = 1_000_000,
    fpp: float = 0.01,
) -> tuple[bytes, int, int]:
    """Distributed Bloom-filter build over a column of md5 hex hashes.

    Each partition folds its rows into a local bitmap via ``mapInPandas``;
    the driver ORs the per-partition bitmaps — the same partial-aggregate
    shape as Spark's own ``BloomFilterAggregate`` (driver traffic is
    ``num_partitions * m/8`` bytes, independent of row count). Returns
    ``(bitmap, m, k)``.

    Sizing: m ≈ 9.6 bits/item at fpp=1% — 1e9 seen documents is a ~1.2 GB
    broadcast. That is the standard cost of runtime-filter dedup at corpus
    scale; raise ``fpp`` (the exact verify join removes false positives
    anyway, fpp only tunes how much prunes early) to shrink it.
    """
    import numpy as np
    import pandas as pd

    m, k = _bloom_params(expected_items, fpp)

    def fold(batches):
        bits = np.zeros(m // 8, dtype=np.uint8)
        one = np.uint8(1)
        for pdf in batches:
            # md5(NULL text) is None — skip it rather than kill the task;
            # the exact anti-join never matches NULL keys either.
            col = pdf[hash_col].dropna()
            if col.empty:
                continue
            for pos in _bloom_positions(col, m, k):
                np.bitwise_or.at(bits, pos >> 3, one << (pos & 7).astype(np.uint8))
        yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    parts = hashes.select(hash_col).mapInPandas(fold, "bitmap binary").collect()
    bitmap = np.zeros(m // 8, dtype=np.uint8)
    for row in parts:
        bitmap |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return bitmap.tobytes(), m, k


def _might_contain_udf(bc, m: int, k: int):
    """Arrow-batched bloom probe over the broadcast bitmap. Module-level
    factory (not a closure-local def) so the type hints resolve against
    module globals when PySpark introspects the signature."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def probe(col):
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        # NULL hashes (md5 of NULL text) count as bloom misses: the exact
        # anti-join keeps NULL-key rows too (NULL never equi-matches), so
        # both branches agree and no task dies on a bad row.
        hit = np.zeros(len(col), dtype=bool)
        valid = col.notna().to_numpy()
        vals = col[valid]
        if len(vals):
            vhit = np.ones(len(vals), dtype=bool)
            for pos in _bloom_positions(vals, m, k):
                vhit &= (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 == 1
            hit[valid] = vhit
        return pd.Series(hit)

    probe.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(probe, "boolean")


def incremental_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seen_text_col: str = "text",
    expected_seen: int = 1_000_000,
    fpp: float = 0.01,
    prefilter: bool = True,
) -> DataFrame:
    """Exact-dedup a new batch against an already-ingested corpus.

    Returns the rows of ``new_docs`` whose text hash does not occur in
    ``seen`` — the idempotent-ingest primitive (re-crawls, snapshot diffs).

    The naive plan is one anti-join, which shuffles BOTH full sides on the
    hash. With ``prefilter`` a Bloom filter built from ``seen`` is broadcast
    and splits the new batch map-side: misses (the overwhelming majority of
    a typical increment) are provably unseen and bypass the shuffle
    entirely; only bloom hits — true dups plus an fpp sliver — reach the
    anti-join that removes false positives. Output is exact either way;
    the bloom only prunes the shuffle, so ``fpp`` is a cost knob, not a
    correctness knob. The two branches are filters over the same scan
    (columnar re-scan beats shuffling the corpus; persist ``new_docs``
    upstream to make it one pass).
    """
    new_h = new_docs.withColumn("_h", F.md5(F.col(text_col)))
    seen_h = seen.select(F.md5(F.col(seen_text_col)).alias("_h"))
    if prefilter:
        bitmap_bytes, m, k = build_text_bloom(seen_h, "_h", expected_seen, fpp)
        bc = new_docs.sparkSession.sparkContext.broadcast(bitmap_bytes)
        might_contain = _might_contain_udf(bc, m, k)

        flagged = new_h.withColumn("_maybe_seen", might_contain(F.col("_h")))
        definite_new = flagged.where(~F.col("_maybe_seen")).drop("_maybe_seen")
        candidates = flagged.where(F.col("_maybe_seen")).drop("_maybe_seen")
        out = definite_new.unionByName(
            candidates.join(seen_h, "_h", "left_anti")
        )
    else:
        out = new_h.join(seen_h, "_h", "left_anti")
    return out.drop("_h")


def span_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    max_gram_docs: int | None = 50,
) -> DataFrame:
    """Document pairs sharing at least one verbatim ``n``-token span.

    The cross-document form of substring dedup (Lee et al.'s "Deduplicating
    Training Data" argues span-level copies are what actually harm models:
    quotes, syndicated paragraphs, templated sections that whole-document
    near-dup misses). Output: ``(id_a, id_b, n_shared_spans)`` counting
    *distinct* shared grams, ``id_a < id_b``.

    Scale shape: per-doc distinct grams are md5-hashed (fixed 32-byte keys,
    not 13-word strings) and self-joined on the hash — quadratic per shared
    gram, so ``max_gram_docs`` drops grams appearing in more than that many
    documents before the join. That cap is semantic as well as protective: a
    span in 10k documents is boilerplate, not copying, and boilerplate is
    ``line_dedup``'s job. Pass None to disable.
    """
    from wpextract_spark.operators.decontam import _grams, _tokens

    grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(_grams(_tokens(text_col), n))).alias("g"),
    ).select(F.col(id_col), F.md5(F.col("g")).alias("gram"))
    if max_gram_docs is not None:
        freq = F.count("*").over(Window.partitionBy("gram"))
        grams = grams.withColumn("_n", freq).where(
            F.col("_n") <= max_gram_docs
        ).drop("_n")
    left = grams.alias("l")
    right = grams.alias("r")
    return (
        left.join(right, F.col("l.gram") == F.col("r.gram"))
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared_spans"))
    )
