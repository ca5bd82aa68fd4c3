"""Per-layer probes: in-process kernel timings on a sample of the workload's
own pages, the Arrow-UDF boundary in the running session, and the scan of
the workload's input.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import pandas as pd

#: Repetitions per in-process probe; the median is reported.
REPS = 3


def _median_time(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_probes(sample: list, url: str = "https://site0.example.org/") -> dict[str, float]:
    """µs/doc of each kernel layer, one core, on the sample pages. Only one
    parsed tree is alive at a time, as inside the UDF, so the cyclic
    collector's work matches the real path."""
    from wpextract_spark.htmlkit.dom import parse_html
    from wpextract_spark.kernel.content import extract_content
    from wpextract_spark.kernel.translations import extract_translations
    from wpextract_spark.operators.extract import content_extract_udf
    from wpextract_spark.session import ARROW_BATCH_ROWS

    n = len(sample)
    us = 1e6 / n

    def parse_all(head_only: bool) -> None:
        for h in sample:
            parse_html(h, head_only=head_only)

    def on_parsed(fn) -> float:
        times = []
        for _ in range(REPS):
            total = 0.0
            for h in sample:
                doc = parse_html(h)
                t0 = time.perf_counter()
                fn(doc)
                total += time.perf_counter() - t0
            times.append(total)
        return statistics.median(times) * us

    udf = content_extract_udf().func
    batches = [pd.Series(sample[i : i + ARROW_BATCH_ROWS]) for i in range(0, n, ARROW_BATCH_ROWS)]
    urls = [pd.Series([url] * len(b)) for b in batches]
    return {
        "htmlkit.parse_us_per_doc": _median_time(lambda: parse_all(False)) * us,
        "htmlkit.parse_head_us_per_doc": _median_time(lambda: parse_all(True)) * us,
        "kernel.content_us_per_doc": on_parsed(lambda d: extract_content(d, url)),
        "kernel.translations_us_per_doc": on_parsed(lambda d: extract_translations(d, url)),
        "udf.batch_us_per_doc": _median_time(
            lambda: [udf(b, u) for b, u in zip(batches, urls)]) * us,
    }


def control_docs_per_s(sample: list, url: str = "https://site0.example.org/") -> float:
    """The 1-core parse+extract control: co-tenant load shows here, and it
    rises whenever the kernel gets faster, so it is reported, never gated."""
    from wpextract_spark.htmlkit.dom import parse_html
    from wpextract_spark.kernel.content import extract_content

    def control() -> None:
        for h in sample:
            extract_content(parse_html(h), url)

    return len(sample) / _median_time(control)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def scan_probe(spark, fmt: str, path: Path) -> dict[str, float]:
    """Input scan into the noop sink: seconds and MB/s of input files."""
    size = sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())

    def scan():
        reader = spark.read.option("multiLine", "true") if fmt == "json" else spark.read
        noop(reader.format(fmt).load(str(path)))

    secs = _median_time(scan)
    return {"sources.scan_s": secs, "sources.scan_mb_per_s": size / 1e6 / secs}


def udf_boundary(spark, pages: Path) -> dict[str, float]:
    """Scan -> identity pandas_udf(html) -> noop, and scan -> the real
    content UDF -> noop, in the running ``local[nproc]`` session; the
    content UDF also on one partition, so one task runs it on one core."""
    from pyspark.sql import functions as F

    from wpextract_spark.operators.extract import content_extract_udf

    @F.pandas_udf("binary")
    def identity(html: pd.Series) -> pd.Series:
        return html

    df = spark.read.parquet(str(pages))
    content = content_extract_udf()(F.col("html"), F.col("url"))
    return {
        "udf.identity_s": _median_time(lambda: noop(df.select(identity("html")))),
        "udf.full_s": _median_time(lambda: noop(df.select(content))),
        "udf.full_s_1core": _median_time(lambda: noop(df.coalesce(1).select(content)), reps=1),
    }
