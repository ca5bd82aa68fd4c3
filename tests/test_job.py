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


def _lineage_pages(spark, html_type):
    """Pages over three chunks: chunk 0 mixes multi-byte UTF-8 pages with a
    null html and a depth bomb, chunk 1 holds only bombs (every partition
    all quarantined), chunk 2 only null html."""
    urls = [f"https://lineage.example.org/{i}/" for i in range(60)]
    chunk_of = dict(
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", _chunk_of("url", 3))
        .collect()
    )
    by_chunk = [[u for u in urls if chunk_of[u] == c] for c in range(3)]
    rows = [
        (u, f"<html><body><article><h1>Grüße {i}</h1>"
            f"<p>naïve café — 日本語 ✓ 🎉 {i}</p></article></body></html>")
        for i, u in enumerate(by_chunk[0][:12])
    ]
    rows += [(by_chunk[0][12], None), (by_chunk[0][13], BOMB)]
    rows += [(u, BOMB) for u in by_chunk[1][:3]]
    rows += [(u, None) for u in by_chunk[2][:3]]
    if html_type == "binary":
        rows = [(u, h if h is None else h.encode()) for u, h in rows]
    return spark.createDataFrame(rows, f"url string, html {html_type}")


def _readback_lineage(spark, chunk_dir):
    """Per-partition lineage aggregated from a committed chunk's rows."""
    return sorted(
        tuple(r)
        for r in spark.read.parquet(str(chunk_dir))
        .groupBy("partition_id")
        .agg(
            F.count("*"),
            F.count("content.error"),
            F.sum("_bytes_in"),
            F.sum(F.octet_length("content.text")),
        )
        .collect()
    )


@pytest.mark.parametrize("html_type", ["binary", "string"])
def test_lineage_equals_readback_of_committed_chunk(spark, tmp_path, html_type):
    """The accumulator lineage of each chunk equals, row for row, the
    aggregation of that chunk's committed output by partition_id."""
    pages = _lineage_pages(spark, html_type)
    job = ResumableExtractJob(spark, pages, tmp_path / "o", n_chunks=3,
                              partitions_per_chunk=2)
    job.run()
    cols = ["partition_id", "n_docs", "n_errors", "n_bytes_in", "n_bytes_out"]
    lineage = {
        c: sorted(tuple(r) for r in job.metrics().where(f"chunk = {c}").select(*cols).collect())
        for c in range(3)
    }
    for c in range(3):
        assert lineage[c] == _readback_lineage(spark, job.data_dir / f"chunk={c}")

    # The inputs reach every null and multi-byte case the oracle pins.
    assert sum(r[1] for r in lineage[0]) == 14 and sum(r[2] for r in lineage[0]) == 1
    n_chars = sum(
        len(r["text"]) for r in job.output().select("content.text").collect() if r["text"]
    )
    assert sum(r[4] or 0 for r in lineage[0]) > n_chars  # octets, not characters
    assert all(n_err == n_docs and out is None for _, n_docs, n_err, _, out in lineage[1])
    assert all(b_in is None and out is None for *_, b_in, out in lineage[2])


def test_chunk_write_plan_has_one_kernel_and_no_exchange(spark, tmp_path, monkeypatch):
    """The kernel runs once, in the write's result stage: the condition
    under which the accumulator lineage counts each partition once."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    pages = generate_pages(spark, n_pages=20, seed=5, partitions=4)
    ResumableExtractJob(spark, pages, tmp_path / "o", n_chunks=1,
                        partitions_per_chunk=2).run()
    (df,) = written
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Exchange" not in plan, plan


class _LabelJob(ResumableExtractJob):
    """Records the job description each chunk ran under."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.labels: list[str] = []

    def _run_chunk(self, chunk):
        result = super()._run_chunk(chunk)
        self.labels.append(self.spark.sparkContext.getLocalProperty("spark.job.description"))
        return result


def test_one_spark_job_per_chunk(spark, tmp_path):
    """Each chunk is one single-stage Spark job, labelled with its chunk and
    counted under the caller's job group."""
    sc = spark.sparkContext
    pages = generate_pages(spark, n_pages=20, seed=5, partitions=4)
    job = _LabelJob(spark, pages, tmp_path / "o", n_chunks=2, partitions_per_chunk=2)
    group = f"job-count-{tmp_path.name}"
    sc.setJobGroup(group, "ResumableExtractJob job count")
    try:
        job.run(resume=False)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    assert len(ids) == 2
    assert [len(tracker.getJobInfo(i).stageIds) for i in ids] == [1, 1]
    assert sorted(job.labels) == ["extract chunk 0/2", "extract chunk 1/2"]


def test_rejects_fewer_than_one_chunk(spark, tmp_path):
    pages = generate_pages(spark, n_pages=1, seed=9, partitions=1)
    with pytest.raises(ValueError, match="n_chunks must be >= 1, got 0"):
        ResumableExtractJob(spark, pages, tmp_path / "o", n_chunks=0)


def test_rejects_fewer_than_one_partition_per_chunk(spark, tmp_path):
    pages = generate_pages(spark, n_pages=1, seed=9, partitions=1)
    with pytest.raises(ValueError, match="partitions_per_chunk must be >= 1, got 0"):
        ResumableExtractJob(spark, pages, tmp_path / "o", partitions_per_chunk=0)
