"""Crawler-trap detection: pattern masking + the two-sided flag."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wpextract_spark.operators.traps import url_pattern, url_trap_signals


def _patterns(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r[0] for r in df.select(url_pattern("url")).collect()]


def test_url_pattern_masking(spark):
    cases = {
        "https://a.example/events/2019/11/30": "/events/{N}/{N}/{N}",
        "https://a.example/post/7?page=2": "/post/{N}",  # query excluded
        "https://a.example/s/deadbeef01234567/x": "/s/{H}/x",
        # 8+ digit runs hit the hex mask first (both are masks; the
        # template identity is what matters, not which placeholder)
        "https://a.example/id/123456789": "/id/{H}",
        "https://a.example/Tag/T3": "/tag/t{N}",  # casefolded
        "https://a.example": "/",
        "https://a.example/#frag": "/",
    }
    assert _patterns(spark, list(cases)) == list(cases.values())


def test_trap_needs_both_volume_and_share(spark):
    rows = (
        # calendar trap: one template, 60 distinct urls, 100% of host
        [(f"https://cal.example/d/{i}/{i % 12}",) for i in range(60)]
        # busy-but-healthy host: /post/{N} dominates (60 of 70) but the
        # host also has real structure; template still flagged on volume
        # + share — then a genuinely healthy host below both thresholds
        + [(f"https://blog.example/post/{i}",) for i in range(10)]
        + [("https://blog.example/about",), ("https://blog.example/contact",)]
        # duplicates of the same url must not inflate counts
        + [("https://cal.example/d/0/0",)] * 5
    )
    df = spark.createDataFrame(rows, "url string")
    out = {
        (r["host"], r["pattern"]): r.asDict()
        for r in url_trap_signals(df, min_urls=40, share_pct=50).collect()
    }
    cal = out[("cal.example", "/d/{N}/{N}")]
    assert cal["n_urls"] == 60 and cal["host_urls"] == 60
    assert cal["is_trap"] is True
    post = out[("blog.example", "/post/{N}")]
    # 10 urls: dominant share (10/12) but under the volume floor
    assert post["n_urls"] == 10 and post["host_urls"] == 12
    assert post["is_trap"] is False
    assert out[("blog.example", "/about")]["is_trap"] is False


def test_volume_without_dominance_is_not_a_trap(spark):
    # a large host where the biggest template holds 45 of 100 urls:
    # over the volume floor, under the 50% share bar
    rows = [(f"https://big.example/post/{i}",) for i in range(45)] + [
        (f"https://big.example/tag/x{i}y",) for i in range(55)
    ]
    df = spark.createDataFrame(rows, "url string")
    out = {r["pattern"]: r for r in url_trap_signals(df, min_urls=40, share_pct=50).collect()}
    assert out["/post/{N}"]["n_urls"] == 45
    assert out["/post/{N}"]["is_trap"] is False
    assert out["/tag/x{N}y"]["is_trap"] is True  # 55 >= 40 and 55% >= 50%


def test_pathological_path_rule(spark):
    from wpextract_spark.operators.traps import pathological_path

    cases = {
        "https://a.example/a/b/b/b/c": True,      # 3 consecutive
        "https://a.example/a/b/b/c": False,       # only 2
        "https://a.example/g/g/g": True,
        "https://a.example/x/y/z/x/y/z": False,   # repeated PAIR, not segment
        "https://a.example/A/a/a": True,          # casefolded
        "https://a.example/": False,              # too short / empty
        "https://a.example": False,
        "https://a.example/b//b//b": True,        # empty segments dropped
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = [r[0] for r in df.select(pathological_path("url")).collect()]
    assert got == list(cases.values())


def test_pathological_path_min_repeats(spark):
    from wpextract_spark.operators.traps import pathological_path

    df = spark.createDataFrame(
        [("https://a.example/b/b/c",)], "url string"
    )
    assert df.select(pathological_path("url", min_repeats=2)).collect()[0][0]
    assert not df.select(pathological_path("url", min_repeats=3)).collect()[0][0]


@settings(max_examples=25, deadline=None)
@given(min_repeats=st.integers(max_value=1))
def test_pathological_path_rejects_min_repeats_below_two(min_repeats):
    """One occurrence is not a repeat: the degenerate window fails loudly
    when the column is built instead of matching every path."""
    from wpextract_spark.operators.traps import pathological_path

    with pytest.raises(ValueError, match="min_repeats"):
        pathological_path("url", min_repeats=min_repeats)
