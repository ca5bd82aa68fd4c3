"""End-to-end pipeline parity: run the full Spark pipeline on the reference's
golden e2e corpus and compare exported JSON for exact equality (the reference's
own gate, tests/e2e/test_e2e.py:52-79)."""

import json
import shutil
from pathlib import Path

import pandas as pd
import pytest

DATA = Path(__file__).parent / "data" / "e2e"

EXPECTED_DATA_LEN = {
    "categories": 15,
    "media": 63,
    "pages": 16,
    "posts": 54,
    "tags": 8,
    "users": 4,
}


@pytest.fixture(scope="module")
def extracted(spark, tmp_path_factory):
    from wpextract_spark.plans.pipeline import SparkSiteExtractor

    out_dir = tmp_path_factory.mktemp("extract_out")
    extractor = SparkSiteExtractor(
        spark,
        json_root=DATA / "download_out",
        scrape_root=DATA / "site_scrape",
    )
    extractor.extract()
    counts = extractor.export(out_dir)
    return out_dir, counts


@pytest.mark.parametrize("datatype", sorted(EXPECTED_DATA_LEN))
def test_entity_counts(extracted, datatype):
    out_dir, counts = extracted
    assert counts[datatype] == EXPECTED_DATA_LEN[datatype]


@pytest.mark.parametrize("datatype", sorted(EXPECTED_DATA_LEN))
def test_entity_golden_equality(extracted, datatype):
    out_dir, _ = extracted
    with open(out_dir / f"{datatype}.json") as f:
        ours = json.load(f)
    with open(DATA / "extract_out" / f"{datatype}.json") as f:
        golden = json.load(f)
    ours_by_id = {r["id"]: r for r in ours}
    for gold in golden:
        mine = ours_by_id.get(gold["id"])
        assert mine is not None, f"{datatype} id={gold['id']} missing"
        if mine != gold:
            for key in gold:
                assert key in mine, f"{datatype} id={gold['id']} missing key {key}"
                assert mine[key] == gold[key], (
                    f"{datatype} id={gold['id']} key={key}\nours: {mine[key]!r}\ngold: {gold[key]!r}"
                )
            extra = set(mine) - set(gold)
            assert not extra, f"{datatype} id={gold['id']} extra keys {extra}"
    assert ours == golden


def test_export_tables_parquet(extracted, spark, tmp_path):
    """The distributed parquet sink writes every entity with counts matching
    the parity export."""
    from wpextract_spark.plans.pipeline import SparkSiteExtractor

    ex = SparkSiteExtractor(
        spark, json_root=DATA / "download_out", scrape_root=DATA / "site_scrape"
    ).extract()
    counts = ex.export_tables(tmp_path / "tables")
    assert counts == EXPECTED_DATA_LEN
    posts = spark.read.parquet(str(tmp_path / "tables" / "posts"))
    assert "translations" in posts.columns


@pytest.mark.parametrize("datatype", sorted(EXPECTED_DATA_LEN))
def test_entity_byte_equality(extracted, datatype):
    """Raw file bytes match the reference goldens exactly — pins key order,
    indent, and encoder behavior beyond the parsed-JSON comparison."""
    out_dir, _ = extracted
    ours = (out_dir / f"{datatype}.json").read_bytes()
    golden = (DATA / "extract_out" / f"{datatype}.json").read_bytes()
    assert ours == golden


def test_distributed_export_byte_identical(spark, tmp_path):
    """The executor-rendered JSON sink writes the reference goldens byte for
    byte even when every entity frame spans several partitions: the
    per-partition shards concatenate back in sort order."""
    from wpextract_spark.plans.pipeline import SparkSiteExtractor

    ex = SparkSiteExtractor(
        spark, json_root=DATA / "download_out", scrape_root=DATA / "site_scrape"
    )
    ex.extract()
    for ef in ex.entities.values():
        if ef.df is not None:
            ef.df = ef.df.repartition(7)
    dist_dir = tmp_path / "dist"
    counts = ex.export_distributed(dist_dir)
    assert counts == EXPECTED_DATA_LEN
    for datatype in EXPECTED_DATA_LEN:
        ours = (dist_dir / f"{datatype}.json").read_bytes()
        golden = (DATA / "extract_out" / f"{datatype}.json").read_bytes()
        assert ours == golden, f"{datatype}: distributed bytes differ"
        assert not (dist_dir / f"{datatype}.json.shards").exists()


def test_scrape_pages_frame_matches_scrape_root(spark, tmp_path):
    """A pages DataFrame passed as ``scrape_pages`` feeds the same crawl as
    ``scrape_root``: posts (whose translations need the scrape) export the
    golden bytes."""
    from wpextract_spark.plans.pipeline import SparkSiteExtractor
    from wpextract_spark.sources.scrape import load_scrape_dir

    pages = load_scrape_dir(spark, str(DATA / "site_scrape"))
    ex = SparkSiteExtractor(
        spark, json_root=DATA / "download_out", scrape_pages=pages
    ).extract()
    ex.export(tmp_path)
    golden = (DATA / "extract_out" / "posts.json").read_bytes()
    assert (tmp_path / "posts.json").read_bytes() == golden


def _count_rows(spark, monkeypatch, name, return_type):
    """Swap the pipeline's ``name`` UDF factory for a wrapper that adds each
    Arrow batch's row count to an accumulator: the rows the UDF really
    sees in the executed plans, not the rows of the entity."""
    from pyspark.sql import functions as F

    from wpextract_spark.plans import pipeline

    real = getattr(pipeline, name)
    rows = spark.sparkContext.accumulator(0)

    def counting_factory(*args):
        func = real(*args).func

        @F.pandas_udf(return_type)
        def _counted(html: pd.Series, url: pd.Series) -> pd.DataFrame:
            rows.add(len(html))
            return func(html, url)

        return _counted

    monkeypatch.setattr(pipeline, name, counting_factory)
    return rows


def test_each_udf_runs_once_per_record(spark, monkeypatch, tmp_path):
    """extract() materialises every entity once: the content kernel sees
    each post and page once and the translations UDF each post once, across
    both sinks, and the resolved posts plan re-runs no Python UDF."""
    from wpextract_spark.operators.extract import (
        CONTENT_RESULT_TYPE,
        TRANSLATION_RESULT_TYPE,
    )
    from wpextract_spark.plans.pipeline import SparkSiteExtractor

    content = _count_rows(spark, monkeypatch, "content_extract_udf", CONTENT_RESULT_TYPE)
    translations = _count_rows(spark, monkeypatch, "translations_udf", TRANSLATION_RESULT_TYPE)
    ex = SparkSiteExtractor(
        spark, json_root=DATA / "download_out", scrape_root=DATA / "site_scrape"
    ).extract()
    plan = ex.entities["posts"].df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    assert ex.export(tmp_path / "json") == EXPECTED_DATA_LEN
    assert ex.export_tables(tmp_path / "tables") == EXPECTED_DATA_LEN
    assert content.value == EXPECTED_DATA_LEN["posts"] + EXPECTED_DATA_LEN["pages"]
    assert translations.value == EXPECTED_DATA_LEN["posts"]


def _key_paths(record: dict, prefix: str = "") -> list[str]:
    """Dotted key paths of a nested export record, in file order."""
    paths = []
    for key, value in record.items():
        paths.append(prefix + key)
        if isinstance(value, dict):
            paths.extend(_key_paths(value, f"{prefix}{key}."))
    return paths


def test_presence_gated_export_order(spark, tmp_path):
    """Keys derived from inputs a run lacks are absent and the rest keep
    the golden order: no scrape (no ``language``/``translations``), posts
    without ``excerpt`` and media without ``caption``."""
    from wpextract_spark.plans.pipeline import SparkSiteExtractor

    json_root = tmp_path / "dumps"
    shutil.copytree(DATA / "download_out", json_root)
    for name, key in (("posts", "excerpt"), ("media", "caption")):
        path = json_root / f"{name}.json"
        records = json.loads(path.read_text())
        assert all(key in r for r in records)
        path.write_text(json.dumps([{k: v for k, v in r.items() if k != key} for r in records]))

    ex = SparkSiteExtractor(spark, json_root=json_root).extract()
    assert ex.export(tmp_path / "out") == EXPECTED_DATA_LEN
    gated = {"posts": {"excerpt", "language", "translations"}, "media": {"caption"}}
    for name, keys in gated.items():
        ours = json.loads((tmp_path / "out" / f"{name}.json").read_text())
        golden = json.loads((DATA / "extract_out" / f"{name}.json").read_text())
        assert len(ours) == len(golden)
        for mine, gold in zip(ours, golden):
            expected = [p for p in _key_paths(gold) if p.split(".")[0] not in keys]
            assert _key_paths(mine) == expected, (name, mine["id"])
