"""Command-line interface — the reference's primary UX, Spark-backed.

Mirrors the argument surface of the reference CLI (``cli/_cli.py:12-22``,
``cli/_extract.py:16-53``, ``cli/_shared.py:28-75``): ``extract JSON_ROOT
OUT_DIR -S/--scrape-root -P/--json-prefix -l/--log -v/--verbose`` with the
same path validation (json_root/scrape_root must be existing directories;
out_dir is created if missing and must be empty). Implemented with argparse —
click is not available in this environment — plus Spark-specific options
(``--master``, ``--tables``) that have no reference counterpart.

Run as ``python -m wpextract_spark.cli`` or the ``wpextract-spark``
console script (pyproject.toml).
"""

from __future__ import annotations

import argparse
import json
import logging
import sys
from pathlib import Path


def _directory(value: str) -> Path:
    path = Path(value)
    if not path.is_dir():
        raise argparse.ArgumentTypeError(
            f"Directory {value!r} does not exist or is not a directory."
        )
    return path


def _empty_directory(value: str) -> Path:
    """Reference ``_shared.py:empty_directory``: create if missing, must be
    an empty directory."""
    path = Path(value)
    if path.exists() and not path.is_dir():
        raise argparse.ArgumentTypeError(f"{value!r} exists but is not a directory")
    try:
        path.mkdir(parents=True, exist_ok=True)
    except OSError as e:
        raise argparse.ArgumentTypeError("directory could not be created") from e
    if any(path.iterdir()):
        raise argparse.ArgumentTypeError(
            f"{value!r} is not empty, must be an empty directory"
        )
    return path


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="wpextract-spark",
        description="Create datasets from WordPress sites, on Spark.",
    )
    sub = parser.add_subparsers(dest="command", required=True)

    ex = sub.add_parser(
        "extract",
        help="Extract site to a dataset.",
        description=(
            "Converts the downloaded data files into a dataset. JSON_ROOT is a "
            "directory containing a JSON dump of the data files. OUT_DIR is the "
            "directory to output the extracted JSON to; it must be an existing "
            "empty directory or a non-existent directory which will be created."
        ),
    )
    ex.add_argument("json_root", type=_directory)
    # out_dir is validated/created in cmd_extract, AFTER all arguments parse:
    # a parse-time mkdir would leave a directory behind whenever any other
    # argument fails validation.
    ex.add_argument("out_dir", type=Path, metavar="DIRECTORY")
    ex.add_argument(
        "-S", "--scrape-root", type=_directory, default=None,
        help="Root directory of an HTML scrape",
    )
    ex.add_argument(
        "-P", "--json-prefix", default=None,
        help="Prefix to use for input and output filenames",
    )
    ex.add_argument(
        "-l", "--log", type=Path, default=None,
        help="File to log to, will suppress stdout.",
    )
    ex.add_argument(
        "-v", "--verbose", action="store_true",
        help="Increase log level to include debug logs",
    )
    ex.add_argument(
        "--master", default=None,
        help="Spark master (default: existing session or local[*])",
    )
    ex.add_argument(
        "--tables", action="store_true",
        help="Also export entities as parquet tables under OUT_DIR/tables",
    )
    ex.set_defaults(func=cmd_extract)

    cb = sub.add_parser(
        "build-corpus",
        help="Run the full training-corpus build over a pages table.",
        description=(
            "Extract, curate, (optionally) decontaminate, split, pack, and "
            "shard a Common-Crawl-style pages parquet table "
            "(url, warc_ts, html, text, lang) into a training corpus. "
            "Writes train shards, val/test documents, and metrics.json."
        ),
    )
    cb.add_argument(
        "pages",
        type=Path,
        help="pages input path: parquet table, or WARC dir/glob with --input-format warc",
    )
    cb.add_argument("out_dir", type=Path, metavar="DIRECTORY")
    cb.add_argument(
        "--input-format",
        choices=["parquet", "warc"],
        default="parquet",
        help=(
            "'parquet': a pages table (url, warc_ts, html, text, lang). "
            "'warc': a directory or glob of .warc/.warc.gz captures (Common "
            "Crawl's native format) — 200-status response records become "
            "pages; everything downstream is identical"
        ),
    )
    cb.add_argument(
        "--benchmark", type=Path, default=None,
        help="parquet of benchmark docs (a 'text' column) to decontaminate against",
    )
    cb.add_argument("--seq-len", type=int, default=2048)
    cb.add_argument("--seqs-per-shard", type=int, default=1024)
    cb.add_argument(
        "--skip-stage", action="append", default=[],
        choices=["gopher", "c4", "exact_dup", "near_dup"],
        help="curation stage to disable (repeatable)",
    )
    cb.add_argument(
        "--with-containment", action="store_true",
        help=(
            "enable the opt-in directed-containment dedup stage (drops "
            "documents mostly contained in a kept larger document: "
            "quotations, partial scrapes)"
        ),
    )
    cb.add_argument("--no-curate", action="store_true")
    cb.add_argument("--master", default=None)
    cb.set_defaults(func=cmd_build_corpus)

    rf = sub.add_parser(
        "refresh",
        help="Incrementally refresh an extracted corpus from a new crawl.",
        description=(
            "Diff a new crawl against the previous run's corpus "
            "(url, page_fp, text) and run the extraction kernel ONLY on "
            "added/changed pages; unchanged rows carry the previous text "
            "verbatim. Writes corpus/ and diff/ parquet plus metrics.json "
            "(per-status counts and the kernel-savings ratio)."
        ),
    )
    rf.add_argument(
        "prev_corpus", type=Path,
        help="previous corpus parquet (url, page_fp, text)",
    )
    rf.add_argument(
        "pages", type=Path,
        help="new crawl: pages parquet, or WARC dir/glob with --input-format warc",
    )
    rf.add_argument("out_dir", type=Path, metavar="DIRECTORY")
    rf.add_argument(
        "--input-format", choices=["parquet", "warc"], default="parquet",
        help="how to read the new crawl (same contract as build-corpus)",
    )
    rf.add_argument("--master", default=None)
    rf.set_defaults(func=cmd_refresh)
    return parser


def _setup_logging(verbose: bool, log_path: Path | None) -> None:
    # No force=True: basicConfig must not close pre-existing handlers (e.g.
    # a test harness's capture stream); in a fresh CLI process it configures.
    level = logging.DEBUG if verbose else logging.INFO
    if log_path is not None:
        logging.basicConfig(filename=str(log_path), level=level)
    else:
        logging.basicConfig(stream=sys.stderr, level=level)
    logging.getLogger().setLevel(level)


def cmd_extract(args: argparse.Namespace) -> int:
    try:
        out_dir = _empty_directory(str(args.out_dir))
    except argparse.ArgumentTypeError as e:
        print(f"error: argument DIRECTORY: {e}", file=sys.stderr)
        return 2
    _setup_logging(args.verbose, args.log)

    from wpextract_spark.plans.pipeline import SparkSiteExtractor
    from wpextract_spark.session import get_session

    spark = get_session("wpextract-spark-cli", master=args.master)
    extractor = SparkSiteExtractor(
        spark,
        json_root=args.json_root,
        scrape_root=args.scrape_root,
        json_prefix=args.json_prefix,
    )
    extractor.extract()
    counts = extractor.export(out_dir)
    if args.tables:
        extractor.export_tables(out_dir / "tables")
    summary = json.dumps({"out_dir": str(out_dir), "counts": counts})
    if args.log is not None:
        # --log promises suppressed stdout (reference behavior): the summary
        # goes to the log file instead.
        logging.getLogger(__name__).info("extract summary: %s", summary)
    else:
        print(summary)
    return 0


def _read_pages(spark, path: Path, input_format: str):
    """The pages frame from a parquet table or a WARC dir/glob."""
    if input_format == "warc":
        from wpextract_spark.sources.warc import read_warc_records, warc_to_pages

        return warc_to_pages(read_warc_records(spark, str(path)))
    return spark.read.parquet(str(path))


def cmd_build_corpus(args: argparse.Namespace) -> int:
    try:
        out_dir = _empty_directory(str(args.out_dir))
    except argparse.ArgumentTypeError as e:
        print(f"error: argument DIRECTORY: {e}", file=sys.stderr)
        return 2

    from wpextract_spark.operators.curation import CURATION_STAGES
    from wpextract_spark.plans.corpus_build import build_training_corpus
    from wpextract_spark.session import get_session

    spark = get_session("wpextract-spark-cli", master=args.master)
    pages = _read_pages(spark, args.pages, args.input_format)
    benchmark = (
        spark.read.parquet(str(args.benchmark))
        if args.benchmark is not None
        else None
    )
    stages = tuple(s for s in CURATION_STAGES if s not in set(args.skip_stage))
    if args.with_containment:
        stages = stages + ("containment",)
    metrics = build_training_corpus(
        spark,
        pages,
        str(out_dir),
        benchmark=benchmark,
        curate=not args.no_curate,
        curation_stages=stages,
        seq_len=args.seq_len,
        seqs_per_shard=args.seqs_per_shard,
    )
    print(json.dumps(metrics, default=str))
    return 0


def cmd_refresh(args: argparse.Namespace) -> int:
    try:
        out_dir = _empty_directory(str(args.out_dir))
    except argparse.ArgumentTypeError as e:
        print(f"error: argument DIRECTORY: {e}", file=sys.stderr)
        return 2

    from wpextract_spark.plans.incremental import (
        incremental_update,
        update_metrics,
    )
    from wpextract_spark.session import get_session

    spark = get_session("wpextract-spark-cli", master=args.master)
    prev = spark.read.parquet(str(args.prev_corpus))
    pages = _read_pages(spark, args.pages, args.input_format)
    corpus, diff = incremental_update(prev, pages)
    corpus.write.parquet(str(out_dir / "corpus"))
    diff.write.parquet(str(out_dir / "diff"))
    metrics = update_metrics(diff)
    (out_dir / "metrics.json").write_text(json.dumps(metrics, default=str))
    print(json.dumps(metrics, default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    raise SystemExit(main())
