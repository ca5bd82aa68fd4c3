"""Entity loader quarantine (sources/entities.py): a missing or empty dump
loads as ``df=None``, like the reference's ``io.py:44-52``."""

from wpextract_spark.sources.entities import load_entity


def test_missing_and_empty_still_quarantine(spark, tmp_path):
    empty = tmp_path / "tags.json"
    empty.write_text("[]")
    assert load_entity(spark, "tags", empty, ["name"]).df is None
    missing = tmp_path / "nope.json"
    assert load_entity(spark, "nope", missing, ["name"]).df is None
