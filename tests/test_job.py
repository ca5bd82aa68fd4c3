"""Checkpoint-resume protocol: a job interrupted mid-run resumes with no
repeated or lost work, and the per-partition lineage totals agree exactly
with the committed output (reference analog: crawl cache reuse,
``tests/scrape/test_crawler.py:20-79``)."""

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from wpextract_spark.plans.job import METRICS_SCHEMA, ResumableExtractJob
from wpextract_spark.sources.synth import generate_pages

N_PAGES = 120
N_CHUNKS = 4


def test_resume_after_interrupt(spark, tmp_path):
    pages = generate_pages(spark, n_pages=N_PAGES, seed=7)
    out = tmp_path / "job_out"

    first = ResumableExtractJob(spark, pages, out, n_chunks=N_CHUNKS)
    partial = first.run(max_chunks=2)  # "crash" after two chunks
    assert sum(not r.skipped for r in partial) == 2
    assert len(first.completed_chunks()) == 2

    second = ResumableExtractJob(spark, pages, out, n_chunks=N_CHUNKS)
    final = second.run(resume=True)
    assert [r.chunk for r in final] == list(range(N_CHUNKS))
    assert sum(r.skipped for r in final) == 2  # completed chunks not re-run

    result = second.output()
    assert result.count() == N_PAGES
    assert result.select("url").distinct().count() == N_PAGES  # no url twice

    # Lineage totals agree exactly with the committed output.
    m = second.metrics()
    assert m.agg(F.sum("n_docs")).first()[0] == N_PAGES
    n_bytes_out = m.agg(F.sum("n_bytes_out")).first()[0]
    assert (
        result.agg(F.sum(F.octet_length("content.text"))).first()[0] == n_bytes_out
    )
    # Per-partition granularity: more lineage rows than chunks.
    assert m.count() > N_CHUNKS


def test_no_resume_reruns_everything(spark, tmp_path):
    pages = generate_pages(spark, n_pages=40, seed=9)
    out = tmp_path / "job_out"
    job = ResumableExtractJob(spark, pages, out, n_chunks=2)
    job.run()
    rerun = ResumableExtractJob(spark, pages, out, n_chunks=2)
    results = rerun.run(resume=False)
    assert all(not r.skipped for r in results)
    assert rerun.output().count() == 40  # overwrite, not append


def test_extraction_matches_direct_kernel(spark, tmp_path):
    from wpextract_spark.operators.extract import content_extract_udf

    pages = generate_pages(spark, n_pages=30, seed=11)
    job = ResumableExtractJob(spark, pages, tmp_path / "o", n_chunks=2)
    job.run()
    via_job = {
        r["url"]: r["text"]
        for r in job.output().select("url", "content.text").collect()
    }
    res = content_extract_udf()(F.col("html"), F.col("url"))
    direct = {
        r["url"]: r["text"]
        for r in pages.select("url", res["text"].alias("text")).collect()
    }
    assert via_job == direct


def test_pathological_doc_quarantined(spark, tmp_path):
    """A document whose extraction raises must fail alone (error column),
    never the task; lineage counts it."""
    from pyspark.sql import functions as F

    good = generate_pages(spark, n_pages=10, seed=13)
    # Deep nesting blows the recursive text walk's Python recursion limit.
    bomb = ("<div>" * 20000) + "boom" + ("</div>" * 20000)
    bad = spark.createDataFrame(
        [("https://bad.example.org/x/", None, bomb.encode(), "x", "en")],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
    )
    job = ResumableExtractJob(spark, good.unionByName(bad), tmp_path / "q", n_chunks=1)
    results = job.run()
    out = job.output()
    assert out.count() == 11
    errs = out.where(F.col("content.error").isNotNull())
    assert errs.count() == 1
    assert errs.first()["url"] == "https://bad.example.org/x/"
    m = job.metrics()
    assert m.agg(F.sum("n_errors")).first()[0] == 1
    # the ten good docs extracted normally
    assert out.where(F.col("content.text").isNotNull()).count() == 10


def test_empty_chunk_commits_and_resume_skips_it(spark, tmp_path):
    """A chunk that selects zero pages still writes a commit row, so resume
    never re-runs it."""
    from wpextract_spark.plans.job import ResumableExtractJob
    from wpextract_spark.sources.synth import generate_pages

    # 1 page, many chunks: most chunks are empty.
    pages = generate_pages(spark, n_pages=1, seed=9, partitions=1)
    job = ResumableExtractJob(spark, pages, str(tmp_path / "out"), n_chunks=4,
                              partitions_per_chunk=1)
    first = job.run()
    assert len(first) == 4 and not any(r.skipped for r in first)
    assert job.completed_chunks() == {0, 1, 2, 3}
    second = job.run(resume=True)
    assert all(r.skipped for r in second)
    # output keeps only corpus columns (no chunk partition-discovery column)
    assert "chunk" not in job.output().columns
    assert job.output().count() == 1


BOMB = ("<div>" * 20000) + "boom" + ("</div>" * 20000)


def _chunk_of(col, n_chunks):
    return F.pmod(F.xxhash64(col), F.lit(n_chunks))


def test_all_quarantined_partition_lineage(spark, tmp_path):
    """A partition whose docs all quarantine sums no text: its lineage row
    keeps n_bytes_out null and its ChunkResult counts 0. The lineage sums
    still equal the committed output."""
    candidates = spark.createDataFrame(
        [(f"https://bad.example.org/{i}/",) for i in range(40)], "url string"
    )
    bomb_urls = [
        r["url"] for r in candidates.where(_chunk_of("url", 2) == 1).limit(2).collect()
    ]
    bombs = spark.createDataFrame(
        [(u, None, BOMB.encode(), "x", "en") for u in bomb_urls],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
    )
    good = generate_pages(spark, n_pages=20, seed=17).where(_chunk_of("url", 2) == 0)
    pages = good.unionByName(bombs)
    job = ResumableExtractJob(spark, pages, tmp_path / "q", n_chunks=2,
                              partitions_per_chunk=1)
    by_chunk = {r.chunk: r for r in job.run()}

    assert by_chunk[1].n_docs == len(bomb_urls) and by_chunk[1].n_bytes_out == 0
    assert by_chunk[0].n_bytes_out > 0
    (row,) = job.metrics().where("chunk = 1").collect()
    assert row["n_errors"] == row["n_docs"] == len(bomb_urls)
    assert row["n_bytes_out"] is None

    out = job.output()
    m = job.metrics().agg(F.sum("n_docs"), F.sum("n_errors"), F.sum("n_bytes_out"))
    committed = out.agg(
        F.count("*"),
        F.count("content.error"),
        F.sum(F.octet_length("content.text")),
    )
    assert m.first() == committed.first()
    assert committed.first()[0] == pages.count()
    assert sum(r.n_bytes_out for r in by_chunk.values()) == committed.first()[2]


def test_metrics_parquet_types_match_schema(spark, tmp_path):
    """Empty and non-empty chunks commit metrics files with identical types,
    and those are METRICS_SCHEMA's."""
    pages = generate_pages(spark, n_pages=1, seed=9, partitions=1)
    job = ResumableExtractJob(spark, pages, tmp_path / "out", n_chunks=4,
                              partitions_per_chunk=1)
    results = job.run()
    empty = {r.chunk for r in results if r.n_docs == 0}
    assert empty and len(empty) == 3

    want = [(f.name, f.dataType) for f in StructType.fromDDL(METRICS_SCHEMA)]
    for chunk in range(4):
        (commit_dir,) = job.metrics_dir.glob(f"*-{chunk:06d}")
        df = spark.read.parquet(str(commit_dir))
        assert [(f.name, f.dataType) for f in df.schema] == want
        rows = df.collect()
        if chunk in empty:
            assert [(r["partition_id"], r["n_docs"]) for r in rows] == [(-1, 0)]
        else:
            assert sum(r["n_docs"] for r in rows) == 1


class _FailingJob(ResumableExtractJob):
    """Chunk 1 raises while chunk 0 is still being extracted."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.started = threading.Event()
        self.finished = threading.Event()
        self.overlapped = False

    def _run_chunk(self, chunk):
        if chunk == 1:
            assert self.started.wait(120)
            self.overlapped = not self.finished.is_set()
            raise RuntimeError("injected chunk failure")
        self.started.set()
        try:
            return super()._run_chunk(chunk)
        finally:
            self.finished.set()


def test_failed_chunk_in_flight_resumes_alone(spark, tmp_path):
    pages = generate_pages(spark, n_pages=40, seed=21, partitions=2)
    out = tmp_path / "job_out"
    job = _FailingJob(spark, pages, out, n_chunks=2, partitions_per_chunk=2)
    with pytest.raises(RuntimeError, match="injected"):
        job.run()
    assert job.overlapped  # chunk 0 was in flight when chunk 1 failed
    assert job.completed_chunks() == {0}

    resumed = ResumableExtractJob(spark, pages, out, n_chunks=2,
                                  partitions_per_chunk=2)
    final = resumed.run(resume=True)
    assert [(r.chunk, r.skipped) for r in final] == [(0, True), (1, False)]
    urls = [r["url"] for r in resumed.output().select("url").collect()]
    assert sorted(urls) == sorted(r["url"] for r in pages.select("url").collect())


class _RecordingJob(ResumableExtractJob):
    """Records executed chunks; chunk 0 finishes only after chunk 1, so
    completion order differs from chunk order."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.executed: list[int] = []
        self.chunk1_done = threading.Event()

    def _run_chunk(self, chunk):
        result = super()._run_chunk(chunk)
        if chunk == 0:
            assert self.chunk1_done.wait(120)
        self.executed.append(chunk)
        if chunk == 1:
            self.chunk1_done.set()
        return result


def test_max_chunks_bound_and_chunk_order(spark, tmp_path):
    pages = generate_pages(spark, n_pages=40, seed=23, partitions=2)
    out = tmp_path / "job_out"
    job = _RecordingJob(spark, pages, out, n_chunks=4, partitions_per_chunk=2)
    results = job.run(max_chunks=3)
    assert sorted(job.executed) == [0, 1, 2]
    assert job.executed.index(1) < job.executed.index(0)  # finished out of order
    assert [(r.chunk, r.skipped) for r in results] == [(0, False), (1, False), (2, False)]

    rest = _RecordingJob(spark, pages, out, n_chunks=4, partitions_per_chunk=2)
    results = rest.run(resume=True)
    assert rest.executed == [3]
    assert [(r.chunk, r.skipped) for r in results] == [
        (0, True), (1, True), (2, True), (3, False)
    ]
    assert rest.output().count() == 40
