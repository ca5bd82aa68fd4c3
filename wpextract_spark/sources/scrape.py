"""Scrape-mirror source: HTML files / page tables -> (url, html) DataFrame.

The reference crawls a directory of HTML files, extracting each page's own
URL from canonical/og:url meta tags with a head-only parse, deduplicating
first-wins on URL (``scrape/crawler.py:79-110``). Here the crawl is a
distributed stage: a binaryFile scan (or any pages-table DataFrame), a
head-only pandas-UDF parse, and a window dedup.

At Common-Crawl scale the input is the Iceberg pages table itself
(``pages(url, warc_ts, html, text, lang)``); ``crawl_self_urls`` then runs on
that table directly — column pruning means the scan reads only (html, order
column) for this stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wpextract_spark.operators.extract import self_url_udf


def load_scrape_dir(spark: SparkSession, root: str) -> DataFrame:
    """Scan a directory tree of HTML files -> (path, html binary)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.html")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select(F.col("path"), F.col("content").alias("html"))
    )


def crawl_self_urls(pages: DataFrame, html_col: str = "html", order_col: str = "path") -> DataFrame:
    """Discover each page's self-URL and dedup first-wins.

    Returns (url, html) with one row per discovered URL. The reference's
    first-wins order is filesystem glob order; distributed scans have no such
    order, so the deterministic tie-break is ``order_col`` ascending
    (documented divergence — affects only corpora with duplicate canonical
    URLs *and* differing content).
    """
    # Nondeterministic so the IS NOT NULL filter stays above the UDF instead
    # of a pushed-down second evaluation (operators/extract.py docstring).
    self_url = self_url_udf().asNondeterministic()
    with_url = pages.withColumn("_self_url", self_url(F.col(html_col))).where(
        F.col("_self_url").isNotNull()
    )
    window = Window.partitionBy("_self_url").orderBy(F.asc(order_col))
    return (
        with_url.withColumn("_rank", F.row_number().over(window))
        .where(F.col("_rank") == 1)
        .select(F.col("_self_url").alias("url"), F.col(html_col).alias("html"))
    )
