"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction over a deterministic synthetic pages
table derived from sf0.001; ``queries``/``oracle_sql`` expose every
implemented operator from SURVEY.md §2 plus the training-data operators,
EVERY one checked against a full DuckDB oracle at sf0.01 (no rows-only
entries: the extraction kernels compare against construction-derived
expected columns, lang-id against stopword voting restated in SQL).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).parent))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fused HTML extraction over pages synthesized from the
    sf0.001 documents corpus — parse, boilerplate strip, span records."""
    from wpextract_spark.operators.extract import content_extract_udf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    html = F.concat(
        F.lit('<html><head><link rel="canonical" href="https://example.org/doc-'),
        F.col("doc_id").cast("string"),
        F.lit('/"/></head><body><nav>home | about</nav><main><p>'),
        F.col("text"),
        F.lit('</p><figure><img src="/wp-content/i.jpg" alt="a"/>'),
        F.lit("<figcaption>cap</figcaption></figure>"),
        F.lit('<a href="/next/">next</a>'),
        F.lit("<table><tr><td>chrome</td></tr></table></main>"),
        F.lit("<footer>share</footer></body></html>"),
    )
    url = F.concat(
        F.lit("https://example.org/doc-"), F.col("doc_id").cast("string"), F.lit("/")
    )
    res = content_extract_udf()(html, url)
    return docs.select(
        "doc_id",
        url.alias("url"),
        "lang",
        res["text"].alias("extracted_text"),
        F.size(res["links_internal"]).alias("n_internal_links"),
        F.size(res["images"]).alias("n_images"),
        F.get(res["images"], 0)["caption"].alias("first_caption"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + training ops."""
    from wpextract_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query — every query has one: relational
    restatements for the DataFrame ops, and construction-derived golden VALUES
    for the synthetic-page extraction flagship."""
    from wpextract_spark.plans.queries import ORACLES

    return dict(ORACLES)
