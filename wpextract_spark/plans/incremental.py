"""Incremental recrawl update: re-extract only what changed.

Between two crawls of the web, the overwhelming majority of pages are
byte-identical; running the extraction kernel (DOM parse + boilerplate
strip — the most expensive stage in the pipeline) over all of them again is
the single largest avoidable cost of a refresh at 10^12-page scale.  This
plan composes the snapshot diff with the extraction stage so the kernel
touches ONLY added and changed pages:

1. fingerprint the new crawl's raw payloads (a map-side ``md5(html)``);
2. :func:`wpextract_spark.operators.snapshot.snapshot_diff` against the
   fingerprints stored with the previous run's extraction output — one
   full-outer join moving (url, fp) pairs only, never text or html;
3. the extraction kernel runs over the ``added``/``changed`` subset —
   once per stale page, above the stale-subset join, because
   :func:`extract_pages` keeps its quarantine filter from dragging a copy
   of the kernel down onto the raw crawl scan (see its docstring);
4. ``unchanged`` rows carry the PREVIOUS run's extracted text forward
   verbatim; ``removed`` urls drop out.

The invariant that makes this safe — incremental output ≡ extracting the
new crawl from scratch — holds because extraction is a pure per-row
function of (html, url), and is pinned by an equivalence test
(``tests/test_incremental.py``).

Previous-run contract: ``(url, page_fp, text)`` where ``page_fp`` is the
fingerprint of the raw page the text was extracted from (exactly what
:func:`extract_pages` emits — store it with the corpus).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def extract_pages(pages: DataFrame) -> DataFrame:
    """Default extraction stage: (url, page_fp, text) via the real content
    kernel; rows whose page fails to parse are dropped (quarantine).

    The kernel is marked nondeterministic so the quarantine filter on its
    own output stays above the one projection that evaluates it. A
    deterministic UDF is substituted into the filter and pushed through the
    stale-subset join onto the raw crawl scan, which runs the kernel on
    every new page and then again on the stale ones (plan shape pinned by
    ``tests/test_plans.py``)."""
    from wpextract_spark.operators.extract import content_extract_udf

    res = content_extract_udf().asNondeterministic()(F.col("html"), F.col("url"))
    return pages.select(
        "url",
        F.md5(F.col("html")).alias("page_fp"),
        res["text"].alias("text"),
    ).where(F.col("text").isNotNull())


def incremental_update(
    prev: DataFrame, new_pages: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(updated_corpus, diff) for the new crawl.

    ``prev`` is the previous run's ``(url, page_fp, text)``; ``new_pages``
    the raw new crawl ``(url, html, ...)``.

    ``updated_corpus`` has the ``prev`` schema and equals
    ``extract_pages(new_pages)`` row-for-row; ``diff`` is the snapshot_diff
    status table (url, old_fp, new_fp, status) for metrics/scheduling.
    """
    from wpextract_spark.operators.snapshot import snapshot_diff

    new_fp = new_pages.select("url", F.md5(F.col("html")).alias("fp"))
    diff = snapshot_diff(
        prev.select("url", F.col("page_fp").alias("fp")),
        new_fp,
        id_col="url",
        fingerprint=F.col("fp"),
    )
    # Three consumers read the diff (stale re-extract, carried filter, and
    # the caller's metrics/scheduling pass). Without a shared
    # materialization each one re-executes the full-outer join AND its
    # upstream fingerprint lineages — the executed plan showed the
    # SortMergeJoin (with both hash exchanges) twice. Lazy-checkpoint so
    # the diff computes once; it is (url, fp, status) rows only, never
    # text or html, so the materialized footprint stays tiny relative to
    # the corpus. Plan shape pinned by tests/test_plans.py.
    diff = diff.localCheckpoint(eager=False)
    stale = diff.where(F.col("status").isin("added", "changed")).select("url")
    fresh = extract_pages(new_pages.join(stale, "url"))
    carried = prev.join(
        diff.where(F.col("status") == "unchanged").select("url"), "url"
    ).select("url", "page_fp", "text")
    return fresh.unionByName(carried), diff


def update_metrics(diff: DataFrame) -> dict[str, Any]:
    """One-aggregation ledger: counts per status + kernel-savings ratio."""
    counts = {
        row["status"]: row["n"]
        for row in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    new_total = sum(
        counts.get(s, 0) for s in ("added", "changed", "unchanged")
    )
    return {
        "by_status": counts,
        "extracted": counts.get("added", 0) + counts.get("changed", 0),
        "carried": counts.get("unchanged", 0),
        "kernel_savings": (
            counts.get("unchanged", 0) / new_total if new_total else 0.0
        ),
    }
