"""Training-sequence packing: global token offsets via distributed prefix sum.

Pretraining pipelines concatenate the token streams of all documents (with an
EOS separator) and slice the result into fixed-length training sequences.
The operator every such pipeline needs is the *global exclusive prefix sum*
of per-document token counts in a deterministic corpus order — given that,
each document knows its byte-exact position: start offset, covering sequence
index, and how many sequence boundaries it straddles.

A naive Spark expression — ``sum(n) OVER (ORDER BY id)`` with no PARTITION
BY — is correct but serializes the whole corpus through ONE task (Spark
plans an un-partitioned window as a single-partition sort). This module
implements the classic two-level scan instead:

1. bucket documents by an order-preserving key function (default: id range);
2. cumsum *within* each bucket — a partitioned window, fully parallel;
3. cumsum the per-bucket totals — a window over ``n_buckets`` rows, i.e.
   driver-scale data even when the corpus is 10^12 documents;
4. broadcast-join the bucket base offsets back.

Total cost: one parallel window + one tiny aggregation + one broadcast join.
The single-partition step touches one row per bucket, never per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wpextract_spark.operators.textstats import BPE_SPLIT_RE


def sequence_pack(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    bucket_width: int = 65536,
) -> DataFrame:
    """Per-document packing position: ``(id, n_tokens, offset, seq_index,
    n_seqs_spanned)``.

    ``n_tokens`` counts BPE-style regex tokens (``BPE_SPLIT_RE``) plus one
    EOS separator; ``offset`` is the exclusive prefix sum of ``n_tokens`` in
    ``id`` order (the document's first token position in the packed stream);
    ``seq_index`` is the training sequence containing that first token;
    ``n_seqs_spanned`` is how many ``seq_len`` windows the document touches.

    ``bucket_width`` groups ``bucket_width`` consecutive ids per bucket for
    the two-level scan — any value keeps results identical (it only changes
    physical parallelism); size it so the id range / bucket_width is
    comfortably driver-small while each bucket holds enough rows to fill a
    task.
    """
    n_tokens = (
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)) + 1
    ).cast("long")
    base = docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.floor(F.col(id_col) / bucket_width).alias("_bucket"),
    )
    in_bucket = Window.partitionBy("_bucket").orderBy(id_col)
    # Exclusive cumsum within the bucket: sum over preceding rows only.
    local = base.withColumn(
        "_local_off",
        F.coalesce(
            F.sum("n_tokens").over(
                in_bucket.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    # Bucket total = max of the INCLUSIVE cumsum. Expressing it through
    # _local_off (not a fresh sum over `base`) makes the totals branch
    # consume the window's output, so both sides share one exchange and the
    # scan + tokenization run once — a plain sum(n_tokens) gets its window
    # pruned by the optimizer and re-scans the corpus.
    totals = local.groupBy("_bucket").agg(
        F.max(F.col("_local_off") + F.col("n_tokens")).alias("_bucket_tok")
    )
    bucket_order = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = totals.select(
        "_bucket",
        F.coalesce(F.sum("_bucket_tok").over(bucket_order), F.lit(0)).alias(
            "_bucket_base"
        ),
    )
    offset = F.col("_bucket_base") + F.col("_local_off")
    return local.join(F.broadcast(bases), "_bucket").select(
        F.col(id_col),
        F.col("n_tokens"),
        offset.alias("offset"),
        F.floor(offset / seq_len).cast("long").alias("seq_index"),
        (
            F.floor((offset + F.col("n_tokens") - 1) / seq_len)
            - F.floor(offset / seq_len)
            + 1
        )
        .cast("long")
        .alias("n_seqs_spanned"),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    bucket_width: int = 65536,
    eos: str = "<|eos|>",
) -> DataFrame:
    """Materialized packed training sequences: ``(seq_id, text, n_tokens,
    n_docs)`` — the actual fixed-length windows, not just positions.

    Built on :func:`sequence_pack`'s offsets: each document explodes into
    one *piece* per ``seq_len`` window it straddles (one row for almost
    every document — only boundary-crossers emit two or more), the piece is
    a pure JVM ``slice`` of the document's token array, and one shuffle
    keyed by ``seq_id`` assembles the windows, ordering pieces by their
    in-window position via ``array_sort`` over (pos, piece) structs.
    Every sequence holds exactly ``seq_len`` tokens except the final one.

    Scale shape: the explode factor is ~(1 + seq_len^-1 · E[n_tokens]), so
    the assembly shuffle carries the corpus token stream approximately
    once; there is no skew dimension (sequence ids are uniform by
    construction) and no driver-side state.
    """
    positions = sequence_pack(docs, id_col, text_col, seq_len, bucket_width)
    tokens = F.concat(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0),
        F.array(F.lit(eos)),
    )
    joined = positions.join(docs.select(F.col(id_col), tokens.alias("_toks")), id_col)
    pieces = joined.select(
        "offset",
        "n_tokens",
        "_toks",
        F.explode(
            F.sequence(
                F.col("seq_index"),
                F.col("seq_index") + F.col("n_seqs_spanned") - 1,
            )
        ).alias("seq_id"),
    )
    gstart = F.greatest(F.col("offset"), F.col("seq_id") * seq_len)
    gend = F.least(F.col("offset") + F.col("n_tokens"), (F.col("seq_id") + 1) * seq_len)
    placed = pieces.select(
        "seq_id",
        (gstart - F.col("seq_id") * F.lit(seq_len)).cast("long").alias("pos"),
        F.slice(
            F.col("_toks"),
            (gstart - F.col("offset") + 1).cast("int"),
            (gend - gstart).cast("int"),
        ).alias("piece"),
    )
    # One aggregation buffer (the piece list), then a projection assembles
    # the window — two agg expressions over collect_list would build the
    # buffer twice.
    grouped = placed.groupBy("seq_id").agg(
        F.collect_list(F.struct("pos", "piece")).alias("_pieces"),
        F.count("*").alias("n_docs"),
    )
    ordered = F.flatten(
        F.transform(F.array_sort(F.col("_pieces")), lambda s: s["piece"])
    )
    return grouped.select(
        "seq_id",
        F.array_join(ordered, " ").alias("text"),
        F.size(ordered).alias("n_tokens"),
        "n_docs",
    )
