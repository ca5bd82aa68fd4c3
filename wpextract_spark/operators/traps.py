"""Crawler-trap detection: URL-pattern explosion per host.

Web-scale frontiers die on traps — calendar pages that enumerate
``/events/2019/11/30`` forever, faceted search that mints a URL per
filter combination, session-id paths. The classic defence (Heritrix's
``PathologicalPathDecideRule``, cc-crawl frontier hygiene) is structural:
mask the variable parts of the path, count how many distinct URLs collapse
into each (host, pattern) template, and flag templates that both exceed an
absolute URL budget and dominate their host's URL population. A blog with
50k posts has many templates sharing the mass; a calendar trap is one
template that IS the host.

Scale shape (10^12 URLs): one ``distinct`` on (host, pattern, url) —
partial-aggregated map-side, keys are uniform because url is in the key —
then a hash agg down to (host, pattern) counts, then a host-partitioned
window for host totals over the already-aggregated rows (bounded by
distinct templates per host, not by URL count). No join, no collect; the
flag compare is integer cross-multiplication, so no float boundary
ambiguity. Masking is plain RE2-compatible ``regexp_replace`` (whole-stage
codegen; the DuckDB oracle restates it verbatim).

Reference scope note: wpextract itself never crawls (it consumes a dump),
but its input corpus comes from a crawler; this operator belongs to the
crawl-ops family (robots / redirects / sitemap / frontier / recrawl) that
feeds the pages table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wpextract_spark.functions.urls import url_host

#: Path masking, applied in order: long hex runs (session ids, content
#: hashes) first so they don't decay into digit-runs, then digit runs.
HEX_RUN_RE = r"[0-9a-f]{8,}"
DIGIT_RUN_RE = r"[0-9]+"

PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"


def url_pattern(url: Column | str) -> Column:
    """Mask the variable parts of a URL path into a structural template:
    ``/calendar/2019/11/30`` -> ``/calendar/{N}/{N}/{N}``."""
    u = F.col(url) if isinstance(url, str) else url
    path = F.lower(F.regexp_extract(u, PATH_RE, 1))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.regexp_replace(path, HEX_RUN_RE, "{H}")
    return F.regexp_replace(path, DIGIT_RUN_RE, "{N}")


def url_trap_signals(
    df: DataFrame,
    url_col: str = "url",
    min_urls: int = 40,
    share_pct: int = 50,
) -> DataFrame:
    """Per (host, pattern) template census with trap flags.

    A template is flagged when it holds at least ``min_urls`` distinct
    URLs AND at least ``share_pct`` percent of its host's distinct URLs.
    Returns host, pattern, n_urls, host_urls, is_trap.
    """
    u = F.col(url_col)
    shaped = df.select(
        url_host(u).alias("host"),
        url_pattern(u).alias("pattern"),
        u.alias("_url"),
    )
    counts = (
        shaped.distinct()
        .groupBy("host", "pattern")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )
    host_w = Window.partitionBy("host")
    return counts.select(
        "host",
        "pattern",
        "n_urls",
        F.sum("n_urls").over(host_w).alias("host_urls"),
    ).withColumn(
        "is_trap",
        (F.col("n_urls") >= F.lit(min_urls))
        & (F.col("n_urls") * 100 >= F.col("host_urls") * F.lit(share_pct)),
    )


def pathological_path(url: Column | str, min_repeats: int = 3) -> Column:
    """Heritrix's second classic trap rule (PathologicalPathDecideRule):
    a path segment repeated ``min_repeats``-or-more times CONSECUTIVELY
    (``/a/b/b/b/c``) marks self-referencing-link recursion — relative-href
    bugs that mint ``/gallery/gallery/gallery/...`` forever.

    Heritrix expresses this as a backreference regex (``(/[^/]+)\\1{2,}``);
    RE2 engines have no backreferences, so this is array logic instead —
    split the path into segments and test every window of ``min_repeats``
    for equality — which both Spark (``exists`` over a ``sequence``) and
    the DuckDB oracle (``list_contains`` over ``generate_series``) run
    natively. Map-only, empty/short paths are False. ``min_repeats`` below
    2 raises ``ValueError``: one occurrence is not a repeat.
    """
    if min_repeats < 2:
        raise ValueError(f"min_repeats must be >= 2, got {min_repeats}")
    u = F.col(url) if isinstance(url, str) else url
    path = F.lower(F.regexp_extract(u, PATH_RE, 1))
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    n = F.size(segs)
    win = F.lit(int(min_repeats))
    idx = F.sequence(F.lit(1), F.greatest(n - win + 1, F.lit(0)))
    all_equal = lambda i: F.forall(  # noqa: E731
        F.sequence(F.lit(1), win - 1),
        lambda j: F.element_at(segs, i + j) == F.element_at(segs, i),
    )
    return F.when(n >= win, F.exists(idx, all_equal)).otherwise(F.lit(False))
