"""Bucketed band range join (`operators/rangejoin.py`): band bounds and
no duplicate pairs across the replicated buckets."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from wpextract_spark.operators.rangejoin import range_join

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, u, T0 + timedelta(seconds=s), v) for i, (u, s, v) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, value double",
    )


def test_range_join_band_semantics(spark):
    left = _events(spark, [(1, 0, 1.0)]).select("event_id", "user_id", "ts")
    right = _events(
        spark,
        [
            (1, -1, 10.0),  # before the anchor -> excluded
            (1, 0, 20.0),  # at the anchor -> included (>=)
            (1, 3600, 30.0),  # inside
            (1, 7200, 40.0),  # exactly at the upper bound -> included (<=)
            (1, 7201, 50.0),  # past it -> excluded
            (2, 10, 60.0),  # other key -> excluded
        ],
    ).select(
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
        F.col("value").alias("f_value"),
    )
    got = range_join(
        left, right, "user_id", "f_user", "ts", "f_ts", window_seconds=7200
    )
    assert sorted(r["f_value"] for r in got.collect()) == [20.0, 30.0, 40.0]


def test_range_join_no_duplicate_pairs_across_buckets(spark):
    # right rows near bucket edges must appear exactly once despite the
    # 2x left replication
    left = _events(spark, [(1, s, 0.0) for s in range(0, 5000, 37)]).select(
        "event_id", "user_id", "ts"
    )
    right = _events(spark, [(1, s, 0.0) for s in range(0, 5000, 41)]).select(
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
        F.col("event_id").alias("f_id"),
    )
    pairs = range_join(
        left, right, "user_id", "f_user", "ts", "f_ts", window_seconds=300
    ).select("event_id", "f_id")
    assert pairs.count() == pairs.distinct().count()
