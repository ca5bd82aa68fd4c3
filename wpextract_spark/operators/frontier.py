"""Crawl-frontier prioritization: one score per URL for the next run.

The capstone of the crawl-ops family: takes the signals the other
operators produce — per-URL change tier
(:func:`wpextract_spark.operators.recrawl.change_rates`), per-host
politeness delay (:func:`wpextract_spark.operators.robots
.robots_directives_udf`), and sitemap-declared freshness
(:func:`wpextract_spark.operators.sitemap.sitemap_udf` ``lastmod``) — and
joins them into the fetch-priority score a scheduler sorts by.

Score model (deterministic, orderable, no clock):
``priority = tier_score * politeness_weight + freshness_bonus`` where
tier_score rewards observed volatility (hot 1.0, new 0.8, warm 0.5,
cool 0.2, static 0.05), ``politeness_weight = 1 / (1 + crawl_delay)``
discounts hosts that throttle us (a 9-second-delay host yields a tenth of
the fetch slots), and a sitemap ``lastmod`` newer than our last fetch adds
0.5 (the site TOLD us it changed — cheaper evidence than any probe).

Plan shape: the politeness table is per-host (broadcast); schedule and
freshness join on url — co-partitioned hash joins on the frontier's own
key. Pure column arithmetic after the joins; no windows, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIER_SCORES = {"hot": 1.0, "new": 0.8, "warm": 0.5, "cool": 0.2, "static": 0.05}


def frontier_priority(
    urls: DataFrame,
    schedule: DataFrame,
    politeness: DataFrame | None = None,
    freshness: DataFrame | None = None,
) -> DataFrame:
    """(url, host, tier, priority) for every frontier URL.

    ``urls``: (url, host); ``schedule``: (url, tier) from change_rates —
    URLs absent from it default to the ``new`` tier (never observed);
    ``politeness``: (host, crawl_delay) — absent/null delay means no
    throttle; ``freshness``: (url, recently_modified bool) from sitemap
    lastmod vs the last fetch.
    """
    tier_score = F.coalesce(
        *[
            F.when(F.col("tier") == name, F.lit(score))
            for name, score in TIER_SCORES.items()
        ],
        F.lit(TIER_SCORES["new"]),
    )
    out = urls.join(schedule.select("url", "tier"), "url", "left").withColumn(
        "tier", F.coalesce(F.col("tier"), F.lit("new"))
    )
    if politeness is not None:
        out = out.join(
            F.broadcast(politeness.select("host", "crawl_delay")), "host", "left"
        )
    else:
        out = out.withColumn("crawl_delay", F.lit(None).cast("double"))
    if freshness is not None:
        out = out.join(
            freshness.select("url", "recently_modified"), "url", "left"
        )
    else:
        out = out.withColumn("recently_modified", F.lit(None).cast("boolean"))
    weight = F.lit(1.0) / (F.lit(1.0) + F.coalesce(F.col("crawl_delay"), F.lit(0.0)))
    bonus = F.when(F.col("recently_modified"), F.lit(0.5)).otherwise(F.lit(0.0))
    return out.select(
        "url",
        "host",
        "tier",
        F.round(tier_score * weight + bonus, 6).alias("priority"),
    )


def fetch_schedule(
    prioritized: DataFrame,
    default_delay: float = 1.0,
) -> DataFrame:
    """Turn prioritized frontier rows into a politeness-respecting fetch
    plan: ``(url, host, fetch_rank, fetch_offset_s)``.

    Within each host, URLs are ranked by descending priority (ties ->
    lexicographically smallest url, deterministic across engines) and the
    k-th fetch is offset ``(k-1) * crawl_delay`` seconds from the host's
    first — the schedule a per-host token-bucket fetcher realizes.
    A host's delay is the largest ``crawl_delay`` on any of its rows (the
    most polite reading when rows disagree); hosts without a declared
    delay use ``default_delay``.

    Input: (url, host, priority) + optional crawl_delay column (from
    robots directives via :func:`frontier_priority`'s politeness input).

    Scale shape: ONE shuffle — the window keys on host, and per-host rows
    are bounded by frontier-budgeting upstream (a crawl never schedules
    millions of URLs on one host in one wave precisely because of the
    delay math this computes: 100k urls x 1s delay is already a day).
    The mega-host that WOULD skew the window is exactly the one the
    offset arithmetic proves un-crawlable in a wave, so cap per-host
    candidates upstream (e.g. top-N by priority per host via the same
    window) rather than salting here.
    """
    from pyspark.sql import Window

    cols = set(prioritized.columns)
    # One delay per host: rows of a host may disagree (or some carry null),
    # and per-row delays would make its offsets collide or run backwards.
    delay = (
        F.coalesce(
            F.max("crawl_delay").over(Window.partitionBy("host")),
            F.lit(float(default_delay)),
        )
        if "crawl_delay" in cols
        else F.lit(float(default_delay))
    )
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("url")
    )
    rank = F.row_number().over(w).cast("long")
    return prioritized.select(
        "url",
        "host",
        rank.alias("fetch_rank"),
        F.round((rank - F.lit(1)) * delay, 6).alias("fetch_offset_s"),
    )
