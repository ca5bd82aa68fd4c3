"""Incremental recrawl: equivalence with full re-extraction, kernel savings."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wpextract_spark.plans.incremental import (
    extract_pages,
    incremental_update,
    update_metrics,
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, ["url", "html"])


def _crawls(spark):
    run1 = _pages(
        spark,
        [(f"u{i}", f"<p>body {i}</p>") for i in range(1, 7)],
    )
    run2 = _pages(
        spark,
        # u1 removed; u2 changed; u3-u6 unchanged; u7 added.
        [("u2", "<p>body 2 EDITED</p>")]
        + [(f"u{i}", f"<p>body {i}</p>") for i in range(3, 7)]
        + [("u7", "<p>body 7</p>")],
    )
    return run1, run2


def test_incremental_equals_full_rebuild(spark):
    run1, run2 = _crawls(spark)
    full = {(r.url, r.page_fp, r.text) for r in extract_pages(run2).collect()}
    corpus, _ = incremental_update(extract_pages(run1), run2)
    incr = {(r.url, r.page_fp, r.text) for r in corpus.collect()}
    assert incr == full


def _count_kernel_rows(spark, monkeypatch):
    """Swap the content kernel for a wrapper that adds each Arrow batch's
    row count to an accumulator: the rows the kernel really parses in the
    executed plan, not the rows handed to the ``extract`` stage."""
    from wpextract_spark.operators import extract as ext

    real = ext.content_extract_udf
    rows = spark.sparkContext.accumulator(0)

    def counting_factory():
        kernel = real().func

        @F.pandas_udf(ext.CONTENT_RESULT_TYPE)
        def _counted(html: pd.Series, url: pd.Series) -> pd.DataFrame:
            rows.add(len(html))
            return kernel(html, url)

        return _counted

    monkeypatch.setattr(ext, "content_extract_udf", counting_factory)
    return rows


def test_kernel_runs_only_on_stale_pages(spark, monkeypatch):
    run1, run2 = _crawls(spark)
    prev = extract_pages(run1).localCheckpoint()  # previous run, on disk
    kernel_rows = _count_kernel_rows(spark, monkeypatch)
    corpus, _ = incremental_update(prev, run2)
    assert sorted(r.url for r in corpus.collect()) == [
        "u2", "u3", "u4", "u5", "u6", "u7",
    ]
    assert kernel_rows.value == 2  # changed + added ONLY, each parsed once


def test_diff_statuses_and_metrics(spark):
    run1, run2 = _crawls(spark)
    _, diff = incremental_update(extract_pages(run1), run2)
    by_url = {r.url: r.status for r in diff.collect()}
    assert by_url["u1"] == "removed"
    assert by_url["u2"] == "changed"
    assert by_url["u3"] == "unchanged"
    assert by_url["u7"] == "added"
    metrics = update_metrics(diff)
    assert metrics["extracted"] == 2
    assert metrics["carried"] == 4
    assert metrics["by_status"]["removed"] == 1
    assert metrics["kernel_savings"] == pytest.approx(4 / 6)


def test_carried_text_is_previous_runs_output(spark):
    # Carried rows must be the stored text, not a re-extraction: feed a
    # prev corpus whose text was post-processed after extraction.
    run1, run2 = _crawls(spark)
    prev = extract_pages(run1).withColumn(
        "text", F.concat(F.col("text"), F.lit(" [annotated]"))
    )
    corpus, _ = incremental_update(prev, run2)
    got = {r.url: r.text for r in corpus.collect()}
    assert got["u3"] == "body 3 [annotated]"  # carried verbatim
    assert got["u2"] == "body 2 EDITED"  # freshly extracted


def test_second_refresh_with_same_crawl_is_a_noop(spark, monkeypatch):
    run1, run2 = _crawls(spark)
    corpus1, _ = incremental_update(extract_pages(run1), run2)
    corpus1 = corpus1.localCheckpoint()  # the first refresh's output
    kernel_rows = _count_kernel_rows(spark, monkeypatch)
    corpus2, diff = incremental_update(corpus1, run2)
    assert {r.status for r in diff.collect()} == {"unchanged"}
    assert {(r.url, r.text) for r in corpus2.collect()} == {
        (r.url, r.text) for r in corpus1.collect()
    }
    assert kernel_rows.value == 0  # the kernel never ran
