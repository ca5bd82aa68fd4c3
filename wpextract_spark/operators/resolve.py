"""Span resolution + translation symmetrization.

Resolution (SURVEY.md §2.4 J2/J3/J6) is one narrow map probe. The
deduplicated registry (one row per site entity) is collected once into a
``url -> {link, data_type, idx}`` dict and broadcast; an Arrow-batched UDF
walks each row's span array and resolves every element with
``kernel/linkresolve.py::resolve_against_map`` — the exact key (href with a
``preview_id`` query stripped) first, then the category-slug heuristic.
Span order, already-resolved elements and null elements are kept as they
are; a null array comes out as ``[]``.

Symmetrization (J7) is pure relational algebra: resolved edges anti-joined
against their reverses produce the missing back-edges, which are appended and
re-resolved — the reference's resolve -> fix -> resolve sequence
(``extract.py:135-142``) with no iteration (the fixpoint is one round).

Scale notes: the registry is site-entity sized — the same rows a broadcast
join would ship — and the span arrays never leave their partition: no
explode, no join, no shuffle.
"""

from __future__ import annotations

from typing import Union

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wpextract_spark.kernel.linkresolve import resolve_against_map
from wpextract_spark.sources.entities import ORD


def registry_map(registry: DataFrame) -> Broadcast:
    """Collect the deduplicated ``(url, data_type, idx)`` registry into a
    broadcast ``url -> destination`` dict."""
    return registry.sparkSession.sparkContext.broadcast(
        {
            row["url"]: {"link": row["url"], "data_type": row["data_type"], "idx": row["idx"]}
            for row in registry.collect()
        }
    )


def resolve_span_array(
    df: DataFrame, array_col: str, registry: Union[DataFrame, Broadcast]
) -> DataFrame:
    """Resolve the ``destination`` of every span in ``df[array_col]``.

    ``array_col`` holds ``array<struct>`` whose element has at least
    ``href`` and ``destination`` fields; already-resolved elements are kept
    as-is (reference ``link_resolver.py:20-24``). ``registry`` is the
    deduplicated registry frame, or the :func:`registry_map` built from it
    (to resolve several columns with one collect).
    """
    if isinstance(registry, DataFrame):
        registry = registry_map(registry)

    @F.pandas_udf(df.schema[array_col].dataType)
    def _resolve(spans: pd.Series) -> pd.Series:
        index = registry.value
        return pd.Series(
            [
                []
                if arr is None
                else [None if s is None else resolve_against_map(s, index) for s in arr]
                for arr in spans
            ],
            dtype="object",
        )

    return df.withColumn(array_col, _resolve(F.col(array_col)))


def symmetrize_translations(posts: DataFrame) -> DataFrame:
    """Append reverse translation edges where A->B exists but B->A does not.

    Mirrors ``extractors/posts.py:179-231``: only *resolved* edges are
    considered; the reverse edge carries ``href = A.link`` and ``lang =
    A.language`` with text/destination null; appended edges need re-resolving.
    Appending order follows the reference's iteration order (source row, then
    span position).
    """
    edges = posts.select(
        F.col(ORD).alias("src_ord"),
        F.col("id").alias("src_id"),
        F.col("link").alias("src_link"),
        F.col("language").alias("src_lang"),
        F.posexplode("translations").alias("pos", "edge"),
    )
    resolved = edges.where(F.col("edge.destination").isNotNull()).select(
        "src_ord", "src_id", "src_link", "src_lang", "pos",
        F.col("edge.destination.idx").alias("dst_id"),
    )
    # The reference indexes posts_df.loc[dst_id]: the destination must be an
    # existing post for a reverse edge to be considered.
    post_ids = posts.select(F.col("id").alias("dst_id"))
    resolved = resolved.join(F.broadcast(post_ids), "dst_id", "left_semi")

    # An edge A->B needs no fix iff some actual edge B->A exists (the
    # reference checks dst's translations for destination.idx == A,
    # posts.py:205-211).
    actual = resolved.select(
        F.col("src_id").alias("r_src"), F.col("dst_id").alias("r_dst")
    )
    missing = resolved.join(
        actual,
        (resolved["dst_id"] == actual["r_src"]) & (resolved["src_id"] == actual["r_dst"]),
        "left_anti",
    )

    new_edges = missing.groupBy("dst_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("src_ord"),
                    F.col("pos"),
                    F.struct(
                        F.lit(None).cast("string").alias("text"),
                        F.col("src_link").alias("href"),
                        F.lit(None)
                        .cast("struct<link:string,data_type:string,idx:bigint>")
                        .alias("destination"),
                        F.col("src_lang").alias("lang"),
                    ).alias("edge"),
                )
            )
        ).alias("_new_sorted")
    ).select(
        F.col("dst_id").alias("id"),
        F.transform("_new_sorted", lambda x: x["edge"]).alias("_new_translations"),
    )

    return posts.join(F.broadcast(new_edges), "id", "left").withColumn(
        "translations",
        F.when(
            F.col("translations").isNotNull(),
            F.concat(
                F.col("translations"),
                F.coalesce(F.col("_new_translations"), F.array().cast("array<struct<text:string,href:string,destination:struct<link:string,data_type:string,idx:bigint>,lang:string>>")),
            ),
        ).otherwise(F.col("_new_translations")),
    ).drop("_new_translations")
