"""CLI surface parity (reference ``tests/cli/test_extract.py`` +
``cli/_shared.py`` path validation), driving the real pipeline on the golden
e2e corpus."""

import json
from pathlib import Path

import pytest

DATA = Path(__file__).parent / "data" / "e2e"


def test_cli_extract_golden_corpus(spark, tmp_path):
    """`extract JSON_ROOT OUT_DIR -S scrape_root` runs the full pipeline and
    writes the six entity exports (counts match the reference corpus)."""
    from wpextract_spark.cli import main

    out_dir = tmp_path / "json_out"
    rc = main(
        [
            "extract",
            str(DATA / "download_out"),
            str(out_dir),
            "-S",
            str(DATA / "site_scrape"),
        ]
    )
    assert rc == 0
    posts = json.loads((out_dir / "posts.json").read_text())
    assert len(posts) == 54
    for name in ("categories", "media", "pages", "tags", "users"):
        assert (out_dir / f"{name}.json").exists()


def test_cli_out_dir_created_and_must_be_empty(tmp_path):
    """out_dir is validated/created at command time, NOT parse time — a
    parse-time mkdir would leave a directory behind whenever another argument
    failed validation."""
    from wpextract_spark.cli import _empty_directory, build_parser, main

    parser = build_parser()
    target = tmp_path / "fresh"
    args = parser.parse_args(["extract", str(DATA / "download_out"), str(target)])
    assert args.out_dir == target
    assert not target.exists()  # parsing alone must not touch the filesystem

    # The command-time callback creates it; a non-empty dir is rejected
    # (reference empty_directory semantics) with argparse's exit code 2.
    assert _empty_directory(str(target)) == target and target.is_dir()
    (target / "stale.json").write_text("{}")
    rc = main(["extract", str(DATA / "download_out"), str(target)])
    assert rc == 2

    # A failed json_root validation must not create out_dir as a side effect.
    ghost = tmp_path / "ghost"
    with pytest.raises(SystemExit):
        parser.parse_args(["extract", str(tmp_path / "nope"), str(ghost)])
    assert not ghost.exists()


def test_cli_json_root_must_exist(tmp_path):
    from wpextract_spark.cli import build_parser

    with pytest.raises(SystemExit):
        build_parser().parse_args(["extract", str(tmp_path / "nope"), str(tmp_path / "o")])


def test_cli_optional_args_default_none(tmp_path):
    from wpextract_spark.cli import build_parser

    args = build_parser().parse_args(
        ["extract", str(DATA / "download_out"), str(tmp_path / "out")]
    )
    assert args.scrape_root is None
    assert args.json_prefix is None
    assert args.log is None and args.verbose is False


def test_build_corpus_cli(spark, tmp_path):
    import json as _json

    from wpextract_spark.cli import main
    from wpextract_spark.sources.synth import generate_pages

    pages_path = str(tmp_path / "pages")
    generate_pages(spark, n_pages=40, seed=5, partitions=2).write.parquet(pages_path)
    out = str(tmp_path / "corpus")
    rc = main(
        [
            "build-corpus", pages_path, out,
            "--seq-len", "64", "--seqs-per-shard", "8",
            "--skip-stage", "c4",
        ]
    )
    assert rc == 0
    with open(out + "/metrics.json") as fh:
        m = _json.load(fh)
    assert m["stages"]["extract"]["in"] == 40
    assert "c4" not in m["stages"]["curate"]["rejects_by_reason"]


def test_build_corpus_cli_from_warc(spark, tmp_path):
    """The flagship training-corpus pipeline end-to-end from Common Crawl's
    native format: .warc.gz shards -> build-corpus --input-format warc,
    with a ledger that adds up to the capture count."""
    import json as _json

    from wpextract_spark.cli import main
    from wpextract_spark.sources.synth import generate_pages
    from wpextract_spark.sources.warcgen import build_warc

    rows = generate_pages(spark, n_pages=40, seed=5, partitions=2).collect()
    warc_root = tmp_path / "warcs"
    warc_root.mkdir()
    for shard in range(2):
        chunk = [r.asDict() for r in rows[shard * 20 : (shard + 1) * 20]]
        for c in chunk:
            c["doc_id"] = int(c["url"].rsplit("post-", 1)[1].rstrip("/"))
        (warc_root / f"p{shard}.warc.gz").write_bytes(build_warc(chunk))

    out = str(tmp_path / "corpus")
    rc = main(
        [
            "build-corpus", str(warc_root) + "/*.warc.gz", out,
            "--input-format", "warc",
            "--seq-len", "64", "--seqs-per-shard", "8",
            "--skip-stage", "c4",
        ]
    )
    assert rc == 0
    with open(out + "/metrics.json") as fh:
        m = _json.load(fh)
    # every capture entered the extract stage, and the ledger is conserved
    assert m["stages"]["extract"]["in"] == 40
    ex = m["stages"]["extract"]
    assert ex["out"] + ex.get("rejected", 0) == ex["in"]


def test_build_corpus_cli_rejects_nonempty_out(spark, tmp_path):
    from wpextract_spark.cli import main

    out = tmp_path / "full"
    out.mkdir()
    (out / "junk").write_text("x")
    rc = main(["build-corpus", str(tmp_path), str(out)])
    assert rc == 2


def test_refresh_cli(spark, tmp_path):
    """The recrawl refresh loop end-to-end from the CLI: kernel runs only
    on changed/added pages, unchanged text carries verbatim, and the
    metrics ledger matches the diff statuses."""
    import json as _json

    from wpextract_spark.cli import main
    from wpextract_spark.plans.incremental import extract_pages
    from wpextract_spark.sources.synth import generate_pages

    crawl1 = generate_pages(spark, n_pages=30, seed=5, partitions=2)
    prev_path = str(tmp_path / "prev")
    extract_pages(crawl1).write.parquet(prev_path)

    # crawl 2: pages 0-9 vanish, 10-19 change (html edit), 20-29 unchanged,
    # plus 10 new pages from a different seed window
    c1 = crawl1.collect()
    from pyspark.sql import functions as F

    changed = [
        {**r.asDict(), "html": r["html"].replace(b"</body>", b"<p>new</p></body>")}
        for r in c1[10:20]
    ]
    kept = [r.asDict() for r in c1[20:30]]
    added = [r.asDict() for r in generate_pages(
        spark, n_pages=40, seed=5, partitions=2).collect()[30:40]]
    crawl2 = spark.createDataFrame(changed + kept + added, crawl1.schema)
    pages_path = str(tmp_path / "crawl2")
    crawl2.write.parquet(pages_path)

    out = str(tmp_path / "refresh_out")
    rc = main(["refresh", prev_path, pages_path, out])
    assert rc == 0
    with open(out + "/metrics.json") as fh:
        m = _json.load(fh)
    assert m["by_status"] == {
        "added": 10, "changed": 10, "unchanged": 10, "removed": 10,
    }
    assert m["extracted"] == 20 and m["carried"] == 10
    assert abs(m["kernel_savings"] - 10 / 30) < 1e-9

    corpus = {r["url"]: r for r in spark.read.parquet(out + "/corpus").collect()}
    assert len(corpus) == 30  # removed pages gone, added present
    # carried rows are byte-identical to the previous run's text
    prev_rows = {r["url"]: r for r in spark.read.parquet(prev_path).collect()}
    for r in kept:
        assert corpus[r["url"]]["text"] == prev_rows[r["url"]]["text"]
