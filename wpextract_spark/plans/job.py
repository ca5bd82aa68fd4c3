"""Checkpoint-resumable bulk extraction job with per-partition lineage.

North-rule requirements (BASELINE.json): the 10^12-row extraction must be
"resumable from checkpoint with per-partition lineage + metrics". The
reference's analog is the crawl cache (``scrape/crawler.py:11, 50-77`` —
a versioned ``url_cache.json`` that lets a rerun skip completed work); at
Spark scale that becomes a chunked job over the pages table:

- The input is split into ``n_chunks`` deterministic chunks by
  ``pmod(xxhash64(url), n_chunks)``, so chunk membership is stable across
  runs, executor counts, and input orderings.
- Each chunk is ONE Spark job with one stage: scan → chunk filter →
  ``coalesce(partitions_per_chunk)`` → kernel → write to ``out/chunk=<i>/``
  (overwrite — a re-run of a half-written chunk replaces it cleanly). No
  html is shuffled; the kernel runs in the scan's own tasks.
  ``partitions_per_chunk`` caps the tasks (and output files) per chunk: an
  input with fewer partitions than that runs fewer tasks.
- The kernel is wrapped in a chunk-local pandas UDF that adds each batch's
  ``[n_docs, n_errors, n_bytes_in, n_bytes_out]`` under its task's
  partition id to a driver accumulator, giving one lineage row per *Spark
  partition*: ``(chunk, partition_id, n_docs, n_errors, n_bytes_in,
  n_bytes_out, wall_s, run_id)``. This is exact, not best-effort: the UDF
  runs in the write's *result* stage (no Exchange above it), Spark applies
  a result task's accumulator update only for the first successful attempt
  of each partition (``DAGScheduler.handleTaskCompletion``: "Only update
  the accumulator once for each result task"), and drops failed attempts'
  updates (user accumulators have ``countFailedValues = false``). Retries
  and speculative copies therefore never double-count, and the counted
  attempts are exactly the ones whose files the write commits. Counters
  keep SQL ``SUM`` semantics: ``n_bytes_in``/``n_bytes_out`` are UTF-8
  octets and stay null for a partition with no non-null html/text.
- The driver writes those rows, at most ``partitions_per_chunk`` of them,
  as one parquet file into the append-only metrics table. That file is the
  commit point: a chunk is complete iff it has metrics rows, so a crash
  between data write and metrics append is repaired by re-running the
  chunk (idempotent overwrite).
- ``run()`` keeps two chunks in flight, so one chunk's straggler tasks and
  commit overlap the next chunk's extraction; results still come back in
  chunk order.
- ``run(resume=True)`` reads the metrics table and skips completed chunks —
  exact checkpoint resume at chunk granularity with no url ever extracted
  into the output twice.
- Every chunk re-scans the full input: parquet cannot prune the
  ``pmod(xxhash64(url), n_chunks)`` filter. ``n_chunks`` therefore trades
  resume granularity against input scans.

On a real deployment both tables would be Iceberg (atomic append = the commit
point); the sandbox uses parquet directories with the same layout and an
append-only metrics dir, which preserves the protocol.
"""

from __future__ import annotations

import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path
from typing import Optional

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import AccumulatorParam, TaskContext, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wpextract_spark.operators.extract import CONTENT_RESULT_TYPE, content_extract_udf

METRICS_SCHEMA = (
    "chunk INT, partition_id INT, n_docs BIGINT, n_errors BIGINT, "
    "n_bytes_in BIGINT, n_bytes_out BIGINT, wall_s DOUBLE, run_id STRING"
)
# METRICS_SCHEMA as pyarrow types, for the driver-side commit write.
_ARROW_TYPES = {"INT": pa.int32(), "BIGINT": pa.int64(), "DOUBLE": pa.float64(),
                "STRING": pa.string()}
_METRICS_ARROW = pa.schema(
    [(name, _ARROW_TYPES[t]) for name, t in map(str.split, METRICS_SCHEMA.split(", "))]
)
# Chunks extracted at once: one chunk's straggler tasks and commit overlap
# the next chunk's extraction instead of leaving cores idle.
_IN_FLIGHT = 2


class _LineageParam(AccumulatorParam):
    """Merges ``{partition_id: [n_docs, n_errors, n_bytes_in, n_bytes_out]}``
    dicts counter by counter with SQL ``SUM`` null semantics: a counter
    stays None until some batch adds a non-null value."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, term):
        for pid, counts in term.items():
            old = acc.get(pid)
            acc[pid] = list(counts) if old is None else [
                b if a is None else a if b is None else a + b
                for a, b in zip(old, counts)
            ]
        return acc


def _octets(values: pd.Series) -> Optional[int]:
    """``SUM(octet_length(values))``: UTF-8 bytes of the non-null str/bytes
    values, None if every value is null."""
    sizes = [len(v.encode()) if isinstance(v, str) else len(v)
             for v in values if v is not None]
    return sum(sizes) if sizes else None


@dataclass
class ChunkResult:
    chunk: int
    n_docs: int
    n_bytes_in: int
    n_bytes_out: int
    wall_s: float
    skipped: bool = False


class ResumableExtractJob:
    """Bulk fused extraction of a pages table, chunked for exact resume.

    Parameters
    ----------
    pages : DataFrame with at least (url, html) — the input_hint table shape.
    out_dir : output root; results land in ``out_dir/data/chunk=<i>/``.
    n_chunks : resume granularity. At 10^12 rows this would be 10k-100k so a
        lost cluster forfeits at most minutes of work; tests use small values.
    partitions_per_chunk : cap on the tasks (and output files) of one chunk;
        ``None`` means ``defaultParallelism``. The chunk coalesces its input
        partitions down to this, so an input with fewer partitions runs
        fewer tasks.
    """

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        out_dir: str | Path,
        n_chunks: int = 8,
        partitions_per_chunk: Optional[int] = None,
    ) -> None:
        if n_chunks < 1:
            raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
        if partitions_per_chunk is not None and partitions_per_chunk < 1:
            raise ValueError(
                f"partitions_per_chunk must be >= 1, got {partitions_per_chunk}"
            )
        self.spark = spark
        self.pages = pages
        self.out_dir = Path(out_dir)
        self.n_chunks = n_chunks
        self.partitions_per_chunk = (
            partitions_per_chunk or spark.sparkContext.defaultParallelism
        )
        self.data_dir = self.out_dir / "data"
        self.metrics_dir = self.out_dir / "metrics"
        self.run_id = uuid.uuid4().hex[:12]

    # -- metrics table ------------------------------------------------------

    def metrics(self) -> DataFrame:
        """All lineage rows written so far (empty DataFrame if none)."""
        path = str(self.metrics_dir)
        if not any(self.metrics_dir.glob("*/*.parquet")):
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        return self.spark.read.schema(METRICS_SCHEMA).parquet(f"{path}/*")

    def completed_chunks(self) -> set[int]:
        if not self.metrics_dir.exists():
            return set()
        rows = self.metrics().select("chunk").distinct().collect()
        return {r["chunk"] for r in rows}

    # -- chunk execution ----------------------------------------------------

    def _chunk_df(self, chunk: int) -> DataFrame:
        return self.pages.where(
            F.pmod(F.xxhash64("url"), F.lit(self.n_chunks)) == chunk
        )

    def _run_chunk(self, chunk: int) -> ChunkResult:
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        # A description, not a job group: the caller's group (inherited by
        # run()'s threads) must still cover this chunk's job.
        sc.setJobDescription(f"extract chunk {chunk}/{self.n_chunks}")
        lineage = sc.accumulator({}, _LineageParam())
        kernel = content_extract_udf().func

        @F.pandas_udf(CONTENT_RESULT_TYPE)
        def extract(html: pd.Series, url: pd.Series) -> pd.DataFrame:
            out = kernel(html, url)
            lineage.add({TaskContext.get().partitionId(): [
                len(out), int(out["error"].notna().sum()),
                _octets(html), _octets(out["text"]),
            ]})
            return out

        # One job, one stage: coalesce merges scan partitions without a
        # shuffle, so the UDF runs in the write's result tasks — the
        # condition under which the accumulator counts each partition once.
        extracted = self._chunk_df(chunk).coalesce(self.partitions_per_chunk).select(
            "url",
            F.octet_length("html").alias("_bytes_in"),
            extract("html", "url").alias("content"),
            F.spark_partition_id().alias("partition_id"),
        )
        extracted.write.mode("overwrite").parquet(str(self.data_dir / f"chunk={chunk}"))
        wall_s = time.perf_counter() - t0
        rows = [(pid, *counts) for pid, counts in sorted(lineage.value.items())]
        # A chunk that selected zero pages still needs a commit row —
        # "complete iff it has metrics rows" would otherwise re-run the
        # empty chunk on every resume, forever.
        cols = [list(c) for c in zip(*(rows or [(-1, 0, 0, 0, 0)]))]
        self._commit(chunk, cols, wall_s)
        # A partition whose docs all quarantined sums no text: its
        # n_bytes_out stays null in the lineage row and counts as 0 here.
        n_docs, _, n_bytes_in, n_bytes_out = (sum(v or 0 for v in c) for c in cols[1:])
        return ChunkResult(chunk, n_docs, n_bytes_in, n_bytes_out, round(wall_s, 3))

    def _commit(self, chunk: int, cols: list[list], wall_s: float) -> None:
        """Append the lineage columns ``(partition_id, n_docs, n_errors,
        n_bytes_in, n_bytes_out)`` as one parquet file in the chunk's own
        ``(run, chunk)`` sub-directory, so concurrent commits never clobber
        each other. Written from the driver with pyarrow and renamed into
        place, so a chunk's metrics appear whole or not at all."""
        n = len(cols[0])
        table = pa.Table.from_arrays(
            [[chunk] * n, *cols, [wall_s] * n, [self.run_id] * n],
            schema=_METRICS_ARROW,
        )
        commit_dir = self.metrics_dir / f"{self.run_id}-{chunk:06d}"
        commit_dir.mkdir(parents=True, exist_ok=True)
        tmp = commit_dir / ".part-0.parquet.tmp"  # dot-files are invisible to Spark
        pq.write_table(table, tmp)
        os.replace(tmp, commit_dir / "part-0.parquet")

    # -- driver -------------------------------------------------------------

    def run(
        self, resume: bool = True, max_chunks: Optional[int] = None
    ) -> list[ChunkResult]:
        """Execute all (remaining) chunks, two at a time, and return one
        result per chunk in chunk order (completed chunks as ``skipped``);
        ``max_chunks`` bounds this call so tests can simulate a mid-job
        crash. If a chunk fails, chunks not yet started are cancelled, the
        one still in flight finishes and commits, and the error is raised.
        """
        done = self.completed_chunks() if resume else set()
        todo = [c for c in range(self.n_chunks) if c not in done][:max_chunks]
        with ThreadPoolExecutor(max_workers=_IN_FLIGHT) as pool:
            # Wrap per chunk: each wrap clones the caller's local properties,
            # so concurrent chunks never share one mutable properties object.
            futures = {
                c: pool.submit(inheritable_thread_target(self.spark)(self._run_chunk), c)
                for c in todo
            }
            try:
                ran = {c: f.result() for c, f in futures.items()}
            except BaseException:
                pool.shutdown(cancel_futures=True)
                raise
        results: list[ChunkResult] = []
        for chunk in range(self.n_chunks):
            if chunk in done:
                results.append(ChunkResult(chunk, 0, 0, 0, 0.0, skipped=True))
            elif chunk in ran:
                results.append(ran[chunk])
            else:
                break  # past the max_chunks bound
        return results

    def output(self) -> DataFrame:
        """The extracted corpus written so far (url, content) — internal
        bookkeeping columns and the chunk partition-discovery column are
        dropped."""
        return self.spark.read.parquet(str(self.data_dir)).drop(
            "partition_id", "_bytes_in", "chunk"
        )
