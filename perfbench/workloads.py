"""The four workloads: seeded inputs, one pass through a real entry point, and
an output check that counts every document whose output is missing, wrong or
duplicated.

A pass returns a :class:`PassResult` whose ``check`` runs after the pass's
timer stops.
"""

from __future__ import annotations

import hashlib
import json
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen

E2E = Path(__file__).resolve().parent.parent / "tests" / "data" / "e2e"


@dataclass
class PassResult:
    docs: int
    #: Counts the documents whose output is missing, wrong or duplicated;
    #: called after the pass's timer stops.
    check: Callable[[], int]
    #: Numbers the pass produces as a side effect (chunk walls, ledgers, ...)
    info: dict[str, Any] = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    why: str
    #: (spark, input_dir, seed) -> state; writes the generated inputs
    generate: Callable
    #: (spark, state, out_dir, span) -> PassResult; ``span(name)`` is a
    #: context manager the traced run uses to time the pass's own steps
    run_pass: Callable
    #: state -> list of html documents for the in-process kernel probes
    sample_html: Callable
    #: state -> (reader format, path) of the main input, for the scan probe
    scan_input: Callable
    #: Passes before timing starts. The first pass in a session is two to
    #: three times slower than later ones (JIT, Python workers); the second
    #: is still a few per cent slower on crawl_extract and refresh.
    warmup_passes: int = 1


def _read_rows(path: Path, columns: list[str]) -> list[dict]:
    return pq.read_table(str(path), columns=columns).to_pylist()


def _count_missing_and_dups(urls: list[str], expected: set[str]) -> tuple[int, set[str]]:
    """Documents missing from or duplicated in the output, plus the unique
    urls that belong there."""
    seen: set[str] = set()
    dup = 0
    for u in urls:
        if u in seen:
            dup += 1
        seen.add(u)
    unexpected = seen - expected
    missing = expected - seen
    return len(missing) + dup + len(unexpected), seen & expected


def _sample(docs: list, n: int = 200) -> list:
    """Every k-th document, at most ``n``; rows are reduced to their html."""
    step = max(1, len(docs) // n)
    return [d["html"] if isinstance(d, dict) else d for d in docs[::step]][:n]


# ---------------------------------------------------------------------------
# crawl_extract
# ---------------------------------------------------------------------------

CRAWL_PAGES = 4000
CRAWL_BOMBS = 6


def crawl_generate(spark, input_dir: Path, seed: int) -> dict:
    crawl = gen.crawl_pages(seed, CRAWL_PAGES, CRAWL_BOMBS)
    gen.write_pages(crawl.rows, input_dir / "pages")
    return {"crawl": crawl, "pages": input_dir / "pages", "n": len(crawl.rows)}


CONTENT_LISTS = ("links_internal", "links_external", "images", "embeds")


def read_crawl_output(path: Path) -> list[tuple]:
    """(url, error, text, n_internal, n_external, n_images, n_embeds) per row."""
    table = pq.read_table(str(path), columns=["url", "content"])
    content = table.column("content").combine_chunks()
    cols = [table.column("url"), content.field("error"), content.field("text")] + [
        pc.list_value_length(content.field(name)).fill_null(0) for name in CONTENT_LISTS
    ]
    return list(zip(*(c.to_pylist() for c in cols)))


def check_crawl(state: dict, rows: list[tuple], lineage_docs: int, lineage_errors: int) -> int:
    crawl: gen.Crawl = state["crawl"]
    expected_urls = set(crawl.expected) | crawl.bomb_urls
    failed, present = _count_missing_and_dups([r[0] for r in rows], expected_urls)
    checked: set[str] = set()
    for url, error, *got in rows:
        if url not in present or url in checked:
            continue
        checked.add(url)
        if url in crawl.bomb_urls:
            ok = (error or "").startswith("ParseDepthError")
        else:
            ok = error is None and tuple(got) == crawl.expected[url]
        failed += not ok
    failed += abs(lineage_docs - state["n"])
    failed += abs(lineage_errors - len(crawl.bomb_urls))
    return failed


def crawl_pass(spark, state: dict, out_dir: Path, span=nullcontext) -> PassResult:
    from wpextract_spark.plans.job import ResumableExtractJob

    pages = spark.read.parquet(str(state["pages"]))
    job = ResumableExtractJob(spark, pages, out_dir, n_chunks=2)
    chunks = job.run(resume=False)
    info = {"chunk_wall_s": [c.wall_s for c in chunks]}

    def check() -> int:
        lineage = job.metrics().agg(F.sum("n_docs"), F.sum("n_errors")).first()
        info["n_errors"] = lineage[1] or 0
        return check_crawl(state, read_crawl_output(job.data_dir), lineage[0] or 0,
                           info["n_errors"])

    return PassResult(state["n"], check, info)


# ---------------------------------------------------------------------------
# site_extract
# ---------------------------------------------------------------------------

SITE_COPIES = 2


def site_generate(spark, input_dir: Path, seed: int) -> dict:
    json_root, scrape_root = gen.site_dump(E2E, input_dir / "site", SITE_COPIES)
    golden = {n: (E2E / "extract_out" / f"{n}.json").read_bytes() for n in gen.ENTITIES}
    n_records = sum(len(json.loads(b)) for b in golden.values()) * SITE_COPIES
    return {"json": json_root, "scrape": scrape_root, "golden": golden, "n": n_records}


#: How the golden export is serialised: ``json.dumps(golden, **GOLDEN_FORMAT)``
#: gives back its exact bytes.
GOLDEN_FORMAT = {"indent": 2}


def check_site(state: dict, out_dir: Path) -> int:
    """Records of every copy, mapped back through the inverse id/host
    rewrite, must be byte-identical to the golden export.

    An output file whose bytes are not the golden serialisation of what it
    holds (indentation, escaping, number format) fails all its records.
    Otherwise each record is compared by its serialised bytes, so a change
    of key order fails too.
    """
    failed = 0
    for name, golden in state["golden"].items():
        expected = [json.dumps(r, **GOLDEN_FORMAT) for r in json.loads(golden)]
        path = out_dir / f"{name}.json"
        raw = path.read_bytes() if path.exists() else b"[]"
        records = json.loads(raw)
        if json.dumps(records, **GOLDEN_FORMAT).encode() != raw:
            failed += max(len(records), len(expected) * SITE_COPIES)
            continue
        by_copy = gen.split_copies(records)
        for c in range(SITE_COPIES):
            got = [json.dumps(r, **GOLDEN_FORMAT) for r in by_copy.pop(c, [])]
            failed += sum(a != b for a, b in zip(got, expected)) + abs(len(got) - len(expected))
        failed += sum(len(r) for r in by_copy.values())  # records of no copy
    return failed


def site_pass(spark, state: dict, out_dir: Path, span=nullcontext) -> PassResult:
    from wpextract_spark.plans.pipeline import SparkSiteExtractor

    extractor = SparkSiteExtractor(spark, state["json"], scrape_root=state["scrape"])
    counts = extractor.extract().export_distributed(out_dir)
    json_mb = sum(p.stat().st_size for p in out_dir.glob("*.json")) / 1e6
    return PassResult(
        state["n"], lambda: check_site(state, out_dir),
        {"counts": counts, "json_mb": json_mb, "out_dir": out_dir},
    )


def site_sample(state: dict) -> list:
    pages = sorted(Path(state["scrape"]).rglob("*.html"))
    posts = json.loads((Path(state["json"]) / "posts.json").read_text())
    return _sample([p.read_bytes() for p in pages] + [r["content"]["rendered"] for r in posts],
                   n=100)


# ---------------------------------------------------------------------------
# refresh
# ---------------------------------------------------------------------------

REFRESH_PAGES = 3000


def refresh_generate(spark, input_dir: Path, seed: int) -> dict:
    from wpextract_spark.plans.incremental import extract_pages

    crawls = gen.refresh_crawls(seed, REFRESH_PAGES)
    gen.write_pages(crawls.prev, input_dir / "prev_pages")
    gen.write_pages(crawls.new, input_dir / "new_pages")
    # The previous run's corpus is the program's own extraction of the
    # previous crawl, as a refresh would find it on disk.
    extract_pages(spark.read.parquet(str(input_dir / "prev_pages"))).write.parquet(
        str(input_dir / "prev_corpus")
    )
    return {
        "crawls": crawls,
        "prev": input_dir / "prev_corpus",
        "new": input_dir / "new_pages",
        "n": len(crawls.new),
    }


def check_refresh(state: dict, metrics: dict, rows: list[dict]) -> int:
    crawls: gen.Refresh = state["crawls"]
    failed = sum(
        abs(metrics["by_status"].get(s, 0) - n) for s, n in crawls.mix.items()
    )
    failed += abs(metrics["extracted"] - crawls.mix["added"] - crawls.mix["changed"])
    miss, present = _count_missing_and_dups([r["url"] for r in rows], set(crawls.expected_text))
    failed += miss
    html_fp = {p["url"]: hashlib.md5(p["html"]).hexdigest() for p in crawls.new}
    checked: set[str] = set()
    for r in rows:
        url = r["url"]
        if url in present and url not in checked:
            checked.add(url)
            failed += r["text"] != crawls.expected_text[url] or r["page_fp"] != html_fp[url]
    return failed


def refresh_pass(spark, state: dict, out_dir: Path, span=nullcontext) -> PassResult:
    from wpextract_spark.plans.incremental import incremental_update, update_metrics

    prev = spark.read.parquet(str(state["prev"]))
    new = spark.read.parquet(str(state["new"]))
    corpus, diff = incremental_update(prev, new)
    with span("sinks.refresh_write"):
        corpus.write.parquet(str(out_dir / "corpus"))
        diff.write.parquet(str(out_dir / "diff"))
    metrics = update_metrics(diff)

    def check() -> int:
        rows = _read_rows(out_dir / "corpus", ["url", "page_fp", "text"])
        return check_refresh(state, metrics, rows)

    return PassResult(state["n"], check, {"metrics": metrics})


# ---------------------------------------------------------------------------
# corpus_build
# ---------------------------------------------------------------------------

CORPUS = {"n_base": 250, "n_exact": 12, "n_near": 12, "n_short": 6, "n_contaminated": 8}
CURATION_STAGES = ("gopher", "exact_dup", "near_dup")


def corpus_generate(spark, input_dir: Path, seed: int) -> dict:
    corpus = gen.corpus_pages(seed, **CORPUS)
    gen.write_pages(corpus.rows, input_dir / "pages")
    gen.write_benchmark(corpus.benchmark, input_dir / "benchmark")
    return {
        "corpus": corpus,
        "pages": input_dir / "pages",
        "benchmark": input_dir / "benchmark",
        "n": len(corpus.rows),
    }


def check_corpus(state: dict, metrics: dict) -> int:
    corpus: gen.Corpus = state["corpus"]
    st = metrics["stages"]
    n = state["n"]
    failed = abs(st["extract"]["in"] - n) + abs(st["extract"]["out"] - n)
    rejects = st["curate"]["rejects_by_reason"]
    for reason in set(rejects) | set(corpus.expected_rejects):
        failed += abs(rejects.get(reason, 0) - corpus.expected_rejects.get(reason, 0))
    curated = n - sum(corpus.expected_rejects.values())
    failed += abs(st["curate"]["out"] - curated)
    dec = st["decontaminate"]
    failed += abs(dec["in"] - curated) + abs(dec["out"] - (curated - corpus.n_contaminated))
    failed += abs(sum(st["split"].values()) - dec["out"])
    failed += st["pack"]["n_sequences"] < 1
    return failed


def corpus_pass(spark, state: dict, out_dir: Path, span=nullcontext) -> PassResult:
    from wpextract_spark.plans.corpus_build import build_training_corpus

    pages = spark.read.parquet(str(state["pages"]))
    bench = spark.read.parquet(str(state["benchmark"]))
    metrics = build_training_corpus(
        spark,
        pages,
        str(out_dir),
        benchmark=bench,
        curation_stages=CURATION_STAGES,
        seq_len=512,
        seqs_per_shard=64,
        split_weights={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return PassResult(state["n"], lambda: check_corpus(state, metrics), {"metrics": metrics})


def _crawl_sample(state: dict) -> list:
    crawl: gen.Crawl = state["crawl"]
    return _sample([r for r in crawl.rows if r["url"] not in crawl.bomb_urls])


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "crawl_extract",
            "north-rule path: parse + extract inside the Arrow UDF, url-hash "
            "repartition and lineage commit",
            crawl_generate, crawl_pass, _crawl_sample,
            lambda s: ("parquet", s["pages"]),
            warmup_passes=2,
        ),
        Workload(
            "site_extract",
            "the paper's extract command: entity JSON loads, many small UDFs, "
            "registry resolution and the byte-parity JSON sink",
            site_generate, site_pass, site_sample,
            lambda s: ("json", s["json"]),
        ),
        Workload(
            "refresh",
            "mostly-unchanged recrawl: fingerprints, full-outer diff and corpus "
            "rewrite dominate; the kernel sees a fifth of the pages",
            refresh_generate, refresh_pass, lambda s: _sample(s["crawls"].new),
            lambda s: ("parquet", s["new"]),
            warmup_passes=2,
        ),
        Workload(
            "corpus_build",
            "training-corpus build: curation (LSH near-dup), decontamination, "
            "packing and shard writes do most of the work",
            corpus_generate, corpus_pass, lambda s: _sample(s["corpus"].rows),
            lambda s: ("parquet", s["pages"]),
        ),
    )
}
