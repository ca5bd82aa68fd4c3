"""Randomized differential test for the band range join: one seeded random
corpus, Spark result vs a brute-force Python evaluation of the band rule.

Deliberately NOT hypothesis-per-example (a Spark round-trip per example is
minutes of overhead): small key/time domains give dense timestamp
collisions, so one job exercises equal timestamps, both inclusive band
bounds and keys missing from one side.
"""

import random
from datetime import datetime, timedelta

from wpextract_spark.operators.rangejoin import range_join

T0 = datetime(2024, 1, 1)


def _rand_rows(seed, n, keys=6, tmax=50):
    # tiny domains -> many exact-timestamp collisions on purpose
    rng = random.Random(seed)
    return [
        (i, rng.randrange(keys), T0 + timedelta(seconds=rng.randrange(tmax)))
        for i in range(n)
    ]


def test_range_join_matches_bruteforce(spark):
    W = 30  # seconds — narrow band over a dense time domain: many pairs
    left_rows = _rand_rows(seed=4, n=150, keys=4, tmax=120)
    right_rows = [(i + 500, k, t) for i, (_, k, t) in
                  enumerate(_rand_rows(seed=5, n=150, keys=4, tmax=120))]
    left = spark.createDataFrame(left_rows, "lid long, k long, ts timestamp")
    right = spark.createDataFrame(right_rows, "rid long, rk long, rts timestamp")

    expected = {
        (lid, rid)
        for lid, k, t in left_rows
        for rid, rk, rt in right_rows
        if rk == k and t <= rt <= t + timedelta(seconds=W)
    }
    got = {
        (r["lid"], r["rid"])
        for r in range_join(
            left, right, "k", "rk", "ts", "rts", window_seconds=W
        ).collect()
    }
    assert got == expected
    assert expected  # the corpus must actually produce matches
