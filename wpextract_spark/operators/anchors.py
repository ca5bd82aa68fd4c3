"""Anchor-text aggregation over the internal-link graph.

The classic web-scale "anchor file": for every link *target*, aggregate the
anchor texts that point at it across the whole crawl. Targets' anchor
profiles feed search indexing, query expansion, and page-importance signals
(the same link spans the reference extracts per document —
``src/wpextract/parse/content.py`` — viewed from the receiving end).

100-TB design: two chained hash aggregations, both with map-side partial
combine. Stage 1 keys on ``(target, anchor)`` — a mega-target (every page
linking to the home page) is split across its distinct anchor strings, so
the hot key is diluted before stage 2 ever sees it. Stage 2 keys on
``target`` alone but consumes only per-``(target, anchor)`` partial rows —
bounded by distinct anchor vocabulary, orders of magnitude smaller than the
span table. No window functions, no explode re-shuffle: the top anchor is an
argmax via ``max(struct(cnt, anchor))``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def anchor_text_agg(
    spans: DataFrame,
    target_col: str = "target",
    text_col: str = "anchor",
) -> DataFrame:
    """Per-target anchor-text profile from a ``(target, anchor)`` span table.

    Returns ``(target, n_links, n_texts, top_text, top_text_cnt)`` where
    ``top_text`` is the most frequent anchor for the target, ties broken by
    the lexicographically greatest text (the ``max(struct)`` ordering —
    deterministic across partitionings and engines).
    """
    target: Column = F.col(target_col)
    per_text = spans.groupBy(target.alias("target"), F.col(text_col).alias("anchor")).agg(
        F.count(F.lit(1)).alias("text_cnt")
    )
    top = F.max(F.struct(F.col("text_cnt"), F.col("anchor"))).alias("top")
    return (
        per_text.groupBy("target")
        .agg(
            F.sum("text_cnt").alias("n_links"),
            F.count(F.lit(1)).alias("n_texts"),
            top,
        )
        .select(
            "target",
            "n_links",
            "n_texts",
            F.col("top.anchor").alias("top_text"),
            F.col("top.text_cnt").alias("top_text_cnt"),
        )
    )


def domain_link_graph(
    edges: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
) -> DataFrame:
    """Roll a page-level link graph up to the registered-domain level:
    ``(src_domain, dst_domain, n_links, intra)`` — the graph domain-level
    PageRank, link-farm detection, and host-reputation priors run on.

    Both endpoints map through
    :func:`wpextract_spark.functions.domains.registered_domain` (eTLD+1),
    so a publisher's subdomain mesh collapses into one node and ``intra``
    separates self-promotion (navigation, subdomain cross-links) from
    genuine endorsements — the distinction domain-trust signals key on.

    100-TB design: one expression-level projection (host extract + suffix
    rule, no UDF) then a single hash aggregation on the (src, dst) domain
    pair with map-side partial combine. The domain-pair key space is
    orders of magnitude smaller than the edge table, and the mega-pair
    (everyone -> big-platform) is exactly the row partial aggregation
    collapses before the shuffle. Output size is bounded by distinct
    domain pairs, making the rollup the scale-safe input to iterative
    graph algorithms weighted by ``n_links``.
    """
    from wpextract_spark.functions.domains import registered_domain
    from wpextract_spark.functions.urls import url_host

    src_dom = registered_domain(url_host(src_col)).alias("src_domain")
    dst_dom = registered_domain(url_host(dst_col)).alias("dst_domain")
    return (
        edges.select(src_dom, dst_dom)
        .groupBy("src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).alias("n_links"))
        .withColumn("intra", F.col("src_domain") == F.col("dst_domain"))
    )
