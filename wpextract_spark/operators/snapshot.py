"""Crawl snapshot diff: added / removed / changed / unchanged between runs.

Continuous web corpora arrive as periodic snapshots (Common Crawl ships
monthly); the standard first question against a new snapshot is the delta —
which documents are new, which disappeared, which changed content behind a
stable URL. Downstream, the delta drives incremental work: only ``added`` /
``changed`` rows need re-extraction, re-embedding, or re-deduplication
(compose with ``operators/dedup.incremental_dedup``), and ``removed`` rows
feed retention/takedown handling.

Scale shape: one full-outer join keyed on the document identity (URL —
uniform by construction, the same key the extraction job chunks on) between
two fingerprint projections. Fingerprints are md5 over the content column,
computed row-locally, so the shuffle moves (key, 32-byte hash) pairs — not
documents. No other shuffle, no Python, whole-stage codegen throughout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    fingerprint: Column | None = None,
) -> DataFrame:
    """Diff two snapshots of the same corpus by document identity.

    Output: ``(id, old_fp, new_fp, status)`` with status one of ``added``
    (only in ``new``), ``removed`` (only in ``old``), ``changed`` (both,
    fingerprints differ), ``unchanged``. ``fingerprint`` defaults to
    ``md5(text_col)``; pass any deterministic column expression to choose
    what counts as a change.

    Precondition: ``id_col`` is unique per snapshot (run
    ``corpusfilters.url_dedup`` first on raw crawls) — a full-outer join on
    a duplicated key would fan out.
    """
    fp = fingerprint if fingerprint is not None else F.md5(F.col(text_col))
    o = old.select(F.col(id_col).alias("_id"), fp.alias("old_fp"))
    n = new.select(F.col(id_col).alias("_id"), fp.alias("new_fp"))
    joined = o.join(n, "_id", "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.col("_id").alias(id_col),
        "old_fp",
        "new_fp",
        status.alias("status"),
    )


def classify_changes(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "url",
    raw_col: str = "html",
    text_col: str = "text",
) -> DataFrame:
    """Diff two snapshots at TWO granularities: raw bytes and extracted
    text.  Output ``(id, status)`` with status one of ``added``,
    ``removed``, ``unchanged``, ``template_change`` (raw bytes differ but
    the extracted text is identical — theme/widget/ad churn that must NOT
    re-trigger downstream dedup or training-set updates), and
    ``content_change`` (the text itself moved).

    On a real crawl the overwhelming majority of "changed" pages are
    template churn — rotating sidebars, timestamps, CSRF tokens — so this
    split is what keeps the incremental pipeline's re-extraction set small
    and honest.  Same scale shape as :func:`snapshot_diff`: only
    ``(id, fp_raw, fp_text)`` triples cross the full-outer join; html and
    text are pruned before the exchange.  Precondition: unique ``id_col``
    per snapshot.
    """
    def _fps(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.md5(F.col(raw_col)).alias(prefix + "_raw"),
            F.md5(F.col(text_col)).alias(prefix + "_text"),
        )

    joined = _fps(old, "o").join(_fps(new, "n"), "_id", "full_outer")
    status = (
        F.when(F.col("o_raw").isNull(), F.lit("added"))
        .when(F.col("n_raw").isNull(), F.lit("removed"))
        .when(F.col("o_raw") == F.col("n_raw"), F.lit("unchanged"))
        .when(F.col("o_text") == F.col("n_text"), F.lit("template_change"))
        .otherwise(F.lit("content_change"))
    )
    return joined.select(F.col("_id").alias(id_col), status.alias("status"))
