"""End-to-end training-corpus build: pages table in, training shards out.

The composition a pretraining data team actually runs, stitched from this
engine's operators in the canonical order:

1. **extract** — fused single-parse kernel over ``html`` (text + spans);
2. **curate** — Gopher/C4 flags, exact dedup, LSH→Jaccard→connected-
   components near-dup clustering (one verdict, first-fail attribution);
3. **decontaminate** — drop documents sharing any 13-gram with the
   benchmark set (skipped when no benchmark is given);
4. **split** — deterministic url-keyed train/val/test hash split (stable
   across reruns and repartitionings — eval membership never drifts);
5. **pack** — the train split's token stream materialized into fixed-length
   sequences and written as numbered parquet shards; val/test stay
   document-level;
6. **profile + metrics** — per-language corpus profile of the kept set and
   a stage-by-stage count ledger, written as ``metrics.json`` next to the
   data (the lineage artifact a resumed/audited run reads first).

Stage order is the cost order: shuffle-free row filters first, dedup's
id-keyed shuffles on survivors only, packing last on the smallest set.

Document ids: ``monotonically_increasing_id`` AFTER the curation filter —
per-partition contiguous ranges, so the packing prefix-sum's id-range
buckets stay dense (a content-hash id would scatter one doc per bucket and
break the two-level scan's driver-small invariant).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def extract_docs(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, lang, text) via the content kernel; pages whose
    extraction fails are dropped (quarantine). The kernel is marked
    nondeterministic so the quarantine filter cannot push a second copy of
    it below the projection (see ``operators.extract``): one parse per
    page."""
    from wpextract_spark.operators.extract import content_extract_udf

    res = content_extract_udf().asNondeterministic()(F.col("html"), F.col("url"))
    return pages.select(
        "url",
        "warc_ts",
        "lang",
        res["text"].alias("text"),
    ).where(F.col("text").isNotNull())


def build_training_corpus(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    benchmark: DataFrame | None = None,
    curate: bool = True,
    curation_stages: tuple[str, ...] | None = None,
    seq_len: int = 2048,
    seqs_per_shard: int = 1024,
    split_weights: dict[str, float] | None = None,
    decontam_n: int = 13,
) -> dict[str, Any]:
    """Run the full build; returns (and writes) the metrics ledger."""
    from wpextract_spark.operators.curation import curation_pipeline
    from wpextract_spark.operators.decontam import ngram_decontaminate
    from wpextract_spark.operators.packing import pack_sequences
    from wpextract_spark.operators.sampling import hash_split
    from wpextract_spark.operators.textstats import corpus_profile
    from wpextract_spark.sinks.shards import write_training_shards

    metrics: dict[str, Any] = {"stages": {}}

    # 1. extract — one parse per document, keyed by url.
    docs = extract_docs(pages)
    # doc_id must be identical on every lineage that re-evaluates it —
    # curation and decontamination each recompute the docs projection and
    # join back on it, and monotonically_increasing_id() is
    # partitioning-dependent (a re-layout or a speculative retry would
    # silently keep/drop the wrong documents). url is already the stable
    # key downstream, so derive the id from it deterministically.
    docs = docs.withColumn("doc_id", F.xxhash64(F.col("url")))
    n_pages = pages.count()
    # Enforce the uniqueness the deterministic id relies on: documents
    # sharing a url (or a colliding 64-bit hash) would silently conflate
    # dedup keys, joins, and chunk offsets downstream. Piggybacked on the
    # extract count — a url-column aggregate, not a corpus re-layout (the
    # upstream crawl contract already guarantees first-wins-unique urls).
    counts = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("n_ids"),
    ).collect()[0]
    n_extracted = counts["n"]
    if counts["n_ids"] != n_extracted:
        raise ValueError(
            f"doc_id collision: {n_extracted} extracted docs but only "
            f"{counts['n_ids']} distinct xxhash64(url) ids — input pages "
            "must have unique urls (run crawl first-wins dedup upstream)"
        )
    metrics["stages"]["extract"] = {"in": n_pages, "out": n_extracted}

    # 2. curate
    if curate:
        from wpextract_spark.operators.curation import CURATION_STAGES

        verdicts = curation_pipeline(
            docs, stages=curation_stages or CURATION_STAGES
        )
        reasons = {
            r["reject_reason"]: r["n"]
            for r in verdicts.where(~F.col("keep"))
            .groupBy("reject_reason")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        docs = docs.join(
            verdicts.where(F.col("keep")).select("doc_id"), "doc_id"
        )
        n_curated = docs.count()
        metrics["stages"]["curate"] = {
            "in": n_extracted,
            "out": n_curated,
            "rejects_by_reason": reasons,
        }
    else:
        n_curated = n_extracted

    # 3. decontaminate
    if benchmark is not None:
        verdict = ngram_decontaminate(docs, benchmark, n=decontam_n)
        docs = docs.join(
            verdict.where(~F.col("contaminated")).select("doc_id"), "doc_id"
        )
        n_clean = docs.count()
        metrics["stages"]["decontaminate"] = {
            "in": n_curated,
            "out": n_clean,
        }
    else:
        n_clean = n_curated

    # 4. split (url-keyed: stable across reruns)
    split = hash_split(docs, weights=split_weights, id_col="url")
    split_counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    metrics["stages"]["split"] = split_counts

    # 5. pack train; keep val/test document-level
    train = split.where(F.col("split") == "train")
    for name in (k for k in split_counts if k != "train"):
        split.where(F.col("split") == name).drop("split").write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, name))
    seqs = pack_sequences(train, seq_len=seq_len)
    write_training_shards(
        seqs, os.path.join(out_dir, "train_shards"), seqs_per_shard
    )
    agg = seqs.agg(
        F.count("*").alias("n_seqs"), F.sum("n_tokens").alias("n_tokens")
    ).first()
    metrics["stages"]["pack"] = {
        "n_sequences": agg["n_seqs"],
        "n_tokens": int(agg["n_tokens"] or 0),
        "seq_len": seq_len,
    }

    # 6. profile the kept corpus
    metrics["profile_by_lang"] = [
        row.asDict() for row in corpus_profile(docs).orderBy("lang").collect()
    ]

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "metrics.json"), "w") as fh:
        json.dump(metrics, fh, indent=2, default=str)
    return metrics
