"""Link registry as a DataFrame (SURVEY.md §2.4 J1/J2).

The reference keeps an append-only list of ``Linkable(link, data_type, idx)``
with a dict index rebuilt so that **the last insertion wins** on duplicate
URLs (``extractors/data/links.py:85-89``); insertion order is fixed by the
pipeline: media -> posts -> pages -> tags -> categories (``extract.py:72-91``).

Here the registry is a union of per-entity projections with an explicit
precedence (stage ordinal, row ordinal); last-wins dedup is a max-precedence
window. The deduped registry is small (one row per site entity); resolution
collects it once into a broadcast url -> destination map
(``operators/resolve.py::registry_map``) — the "broadcast URL->post-id index"
of the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wpextract_spark.sources.entities import ORD


def registry_contribution(df: DataFrame, url_col: str, data_type: str, stage: int) -> DataFrame:
    """One entity's (url, data_type, idx) rows with precedence columns."""
    return df.select(
        F.col(url_col).alias("url"),
        F.lit(data_type).alias("data_type"),
        F.col("id").cast("long").alias("idx"),
        F.lit(stage).alias("_stage"),
        F.col(ORD).alias("_row"),
    )


def build_registry(contributions: list[DataFrame]) -> DataFrame:
    """Union contributions and keep the last-wins row per URL.

    Returns columns (url, data_type, idx), deduplicated.
    """
    if not contributions:
        raise ValueError("registry needs at least one contribution")
    unioned = contributions[0]
    for contribution in contributions[1:]:
        unioned = unioned.unionByName(contribution)
    # Last-wins: highest (stage, row) per url.
    window = Window.partitionBy("url").orderBy(F.desc("_stage"), F.desc("_row"))
    return (
        unioned.withColumn("_rank", F.row_number().over(window))
        .where(F.col("_rank") == 1)
        .select("url", "data_type", "idx")
    )
