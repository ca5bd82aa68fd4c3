"""End-to-end corpus curation: one verdict per document.

Composes the individual passes — Gopher quality rules, C4 line/page
heuristics, exact dedup, and LSH-propose → Jaccard-verify → connected-
components near-dup clustering — into a single keep/reject decision with
the first failing stage as the reject reason. This is the shape a real
training-data job runs: cheap per-row flags first, then the shuffle-bearing
dedup stages.

Scale notes: every stage keys its joins on the document id (uniform); the
quality flags are shuffle-free row expressions; at corpus scale you would
additionally *filter* after the cheap stages so the dedup stages only see
survivors — kept un-filtered here so the verdict table reports every
document, which is what the correctness oracle checks. The near-dup stage
inherits the bucket caps and candidate-keyed joins of its components
(`operators/dedup.py`, `operators/clustering.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wpextract_spark.operators.clustering import near_dup_keep_list
from wpextract_spark.operators.corpusfilters import (
    c4_page_keep_expr,
    gopher_keep_expr,
)
from wpextract_spark.operators.dedup import (
    containment_pairs,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    split_words,
)


#: Stage names in pipeline (and attribution) order.
CURATION_STAGES = ("gopher", "c4", "exact_dup", "near_dup")

#: Opt-in stages, not part of the default pipeline. "containment" drops
#: documents (mostly) contained in a kept larger document — quotations,
#: partial scrapes, roll-ups — which symmetric Jaccard structurally misses.
#: Off by default because containment of short snippets is corpus-policy
#: (a legitimate pull-quote page is not always junk).
OPTIONAL_STAGES = ("containment",)


def curation_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact_key_words: int | None = 5,
    jaccard_threshold: float = 0.05,
    containment_threshold: float = 0.9,
    stages: tuple[str, ...] = CURATION_STAGES,
) -> DataFrame:
    """Per-document verdict: ``(id, gopher_keep, c4_keep, exact_keep,
    neardup_keep, containment_keep, keep, reject_reason)``.

    ``exact_key_words`` selects the exact-dup key: the first N words
    (None = full text). ``reject_reason`` is the FIRST failing stage in
    pipeline order (gopher, c4, exact_dup, near_dup, containment) or ''
    when kept — mirroring how a staged job would attribute drops.

    ``stages`` selects which passes run (real pipelines tune this per
    corpus — C4's terminal-punctuation rule, e.g., is wrong for code or
    forum text). A disabled stage contributes ``keep=true`` and its flag
    column stays in the schema, so consumers are shape-stable. The
    opt-in ``"containment"`` stage (see :data:`OPTIONAL_STAGES`) drops
    the CONTAINED side of directed gram-containment pairs
    (:func:`wpextract_spark.operators.dedup.containment_pairs`), keeping
    the containing document; on mutual containment the smaller id wins,
    matching the exact-dup convention.
    """
    unknown = set(stages) - set(CURATION_STAGES) - set(OPTIONAL_STAGES)
    if unknown:
        raise ValueError(f"unknown curation stages: {sorted(unknown)}")

    # The gopher/C4 verdicts are pure per-row expressions and the exact-dup
    # verdict is one window over a derived key — all three live on ONE
    # lineage of the corpus scan (no self-joins of docs against docs for
    # row-local facts). Only near-dup, whose keep-set comes out of the LSH/
    # verify/CC subplan with its own keying, joins back by id.
    gopher_col = (
        gopher_keep_expr(text_col) if "gopher" in stages else F.lit(True)
    )
    c4_col = c4_page_keep_expr(text_col) if "c4" in stages else F.lit(True)
    flags = docs.select(
        F.col(id_col),
        F.col(text_col),
        gopher_col.alias("gopher_keep"),
        c4_col.alias("c4_keep"),
    )

    if "exact_dup" in stages:
        if exact_key_words is None:
            key = F.md5(F.col(text_col))
        else:
            key = F.md5(
                F.concat_ws(
                    " ",
                    F.slice(split_words(text_col), 1, exact_key_words),
                )
            )
        ew = Window.partitionBy("_key")
        flags = (
            flags.withColumn("_key", key)
            .withColumn("exact_keep", F.col(id_col) == F.min(id_col).over(ew))
            .drop("_key")
        )
    else:
        flags = flags.withColumn("exact_keep", F.lit(True))
    flags = flags.drop(text_col)

    if "near_dup" in stages:
        cands = lsh_candidate_pairs(docs, id_col, text_col, k=8, bands=2, max_bucket=100)
        pairs = ngram_jaccard_pairs(
            docs, id_col, text_col, n=3, threshold=jaccard_threshold, candidates=cands
        )
        nd = near_dup_keep_list(docs, pairs, id_col).select(
            id_col, F.col("keep").alias("neardup_keep")
        )
        out = flags.join(nd, id_col)
    else:
        out = flags.withColumn("neardup_keep", F.lit(True))

    if "containment" in stages:
        cp = containment_pairs(
            docs, id_col, text_col, n=3, threshold=containment_threshold
        )
        # The contained (smaller) side is the direction with the strictly
        # higher containment; on a tie (mutual containment — effectively a
        # near-dup) drop id_b so the smaller id survives, matching the
        # exact-dup min-id convention. Distinct ids only — one doc can be
        # contained in many, and the join back must stay 1:1.
        contained = F.when(
            F.col("cont_a_in_b") > F.col("cont_b_in_a"), F.col("id_a")
        ).otherwise(F.col("id_b"))
        dropped = (
            cp.select(contained.alias(id_col))
            .distinct()
            .withColumn("_contained", F.lit(True))
        )
        out = (
            out.join(dropped, id_col, "left")
            .withColumn("containment_keep", F.col("_contained").isNull())
            .drop("_contained")
        )
    else:
        out = out.withColumn("containment_keep", F.lit(True))

    keep = (
        F.col("gopher_keep")
        & F.col("c4_keep")
        & F.col("exact_keep")
        & F.col("neardup_keep")
        & F.col("containment_keep")
    )
    reason = (
        F.when(~F.col("gopher_keep"), F.lit("gopher"))
        .when(~F.col("c4_keep"), F.lit("c4"))
        .when(~F.col("exact_keep"), F.lit("exact_dup"))
        .when(~F.col("neardup_keep"), F.lit("near_dup"))
        .when(~F.col("containment_keep"), F.lit("containment"))
        .otherwise(F.lit(""))
    )
    return out.select(
        id_col,
        "gopher_keep",
        "c4_keep",
        "exact_keep",
        "neardup_keep",
        "containment_keep",
        keep.alias("keep"),
        reason.alias("reject_reason"),
    )
