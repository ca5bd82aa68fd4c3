"""Frontier prioritization: score composition + plan shape."""

import pytest

from wpextract_spark.operators.frontier import frontier_priority


def _setup(spark):
    urls = spark.createDataFrame(
        [("u1", "fast.com"), ("u2", "slow.com"), ("u3", "fast.com")],
        ["url", "host"],
    )
    schedule = spark.createDataFrame(
        [("u1", "hot"), ("u2", "hot")], ["url", "tier"]
    )  # u3 unobserved -> 'new'
    politeness = spark.createDataFrame(
        [("slow.com", 9.0)], ["host", "crawl_delay"]
    )
    freshness = spark.createDataFrame(
        [("u3", True)], ["url", "recently_modified"]
    )
    return urls, schedule, politeness, freshness


def test_score_composition(spark):
    urls, schedule, politeness, freshness = _setup(spark)
    got = {
        r.url: r
        for r in frontier_priority(urls, schedule, politeness, freshness).collect()
    }
    assert got["u1"].priority == 1.0  # hot, no throttle, no bonus
    assert got["u2"].priority == 0.1  # hot / (1 + 9)
    assert got["u3"].priority == 1.3  # new (0.8) + sitemap bonus 0.5
    assert got["u3"].tier == "new"


def test_optional_inputs_default(spark):
    urls, schedule, _, _ = _setup(spark)
    got = {r.url: r for r in frontier_priority(urls, schedule).collect()}
    assert got["u2"].priority == 1.0  # no politeness table -> no throttle
    assert got["u3"].priority == 0.8  # no freshness table -> no bonus


def test_politeness_is_broadcast(spark):
    urls, schedule, politeness, freshness = _setup(spark)
    out = frontier_priority(urls, schedule, politeness, freshness)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_fetch_schedule_offsets_and_ranks(spark):
    from wpextract_spark.operators.frontier import fetch_schedule

    rows = [
        # host a: declared 2.0s delay, priorities force rank order c,b,a
        ("https://a.example/x-c", "a.example", 9.0, 2.0),
        ("https://a.example/x-b", "a.example", 5.0, 2.0),
        ("https://a.example/x-a", "a.example", 5.0, 2.0),  # tie -> url asc
        # host b: null delay -> default 1.0
        ("https://b.example/1", "b.example", 1.0, None),
        ("https://b.example/2", "b.example", 0.5, None),
    ]
    df = spark.createDataFrame(
        rows, "url string, host string, priority double, crawl_delay double"
    )
    got = {
        r["url"]: (r["fetch_rank"], r["fetch_offset_s"])
        for r in fetch_schedule(df, default_delay=1.0).collect()
    }
    assert got["https://a.example/x-c"] == (1, 0.0)
    assert got["https://a.example/x-a"] == (2, 2.0)  # url tie-break
    assert got["https://a.example/x-b"] == (3, 4.0)
    assert got["https://b.example/1"] == (1, 0.0)
    assert got["https://b.example/2"] == (2, 1.0)


def test_fetch_schedule_without_delay_column(spark):
    from wpextract_spark.operators.frontier import fetch_schedule

    df = spark.createDataFrame(
        [("u1", "h", 2.0), ("u2", "h", 1.0)],
        "url string, host string, priority double",
    )
    got = {
        r["url"]: r["fetch_offset_s"]
        for r in fetch_schedule(df, default_delay=3.0).collect()
    }
    assert got == {"u1": 0.0, "u2": 3.0}


def test_fetch_schedule_one_delay_per_host(spark):
    # One host's rows disagree on crawl_delay (and some carry none): the
    # host gets its largest declared delay, so offsets are the rank times
    # one delay — strictly increasing with rank, never colliding.
    from wpextract_spark.operators.frontier import fetch_schedule

    delays = [0.5, None, 3.0, None, 0.25, 1.0]
    rows = [(f"https://m.example/{i}", "m.example", float(10 - i), d) for i, d in enumerate(delays)]
    rows += [("https://n.example/1", "n.example", 2.0, None), ("https://n.example/2", "n.example", 1.0, None)]
    df = spark.createDataFrame(
        rows, "url string, host string, priority double, crawl_delay double"
    )
    got = sorted(
        (r["host"], r["fetch_rank"], r["fetch_offset_s"])
        for r in fetch_schedule(df, default_delay=1.0).collect()
    )
    m = [off for host, _, off in got if host == "m.example"]
    assert m == [3.0 * k for k in range(6)]
    assert all(a < b for a, b in zip(m, m[1:]))
    # A host with no declared delay at all keeps the default.
    assert [off for host, _, off in got if host == "n.example"] == [0.0, 1.0]
