"""Bucketed event-time range (band) join.

``range_join`` matches every left row to the right rows of the same key
whose time falls in the band ``[left_time, left_time + window]`` — "which
orders did this user place within 30 days after the event?". Spark has no
native band join: the naive encoding (equi-join on key + range predicate)
builds the full per-key cross product and filters it afterwards — quadratic
in per-key row count, fatal for a mega-key at corpus scale.

The standard scale-safe plan is bucket replication: with bucket width equal
to the band width ``W``, a right row at time ``rt`` lives in bucket
``floor(rt / W)``; every matching right row for a left row at ``lt`` is in
bucket ``floor(lt / W)`` or the one after, so the left side is exploded to
exactly those TWO bucket keys and both sides equi-join on
``(key, bucket)`` — a plain shuffled hash join Catalyst/AQE can plan,
skew-split, and whole-stage-compile — then the exact band predicate prunes
the (at most 2x-replicated) candidates. Cost: 2x left replication instead
of per-key O(n*m) pairs; output size is the true match count.

No reference counterpart (wpextract has no temporal joins), and no
registry query uses it: it is kept as a library operator, the one
event-time primitive left after as-of join and sessionization were removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    window_seconds: int,
) -> DataFrame:
    """Inner band join: pairs with ``left_time <= right_time <= left_time +
    window_seconds`` and equal keys (both bounds inclusive).

    Returns all left columns plus all right columns; callers typically
    aggregate immediately (the pair set itself can be large — that is the
    query's true output size, not a plan artifact).
    """
    w_us = int(window_seconds) * 1_000_000
    # Microseconds since epoch. The NTZ->TIMESTAMP cast reads an NTZ value
    # as session-local; band membership and bucket co-location only use
    # differences of two such readings, so the constant session-offset
    # shift cancels and TIMESTAMP and TIMESTAMP_NTZ inputs join alike.
    lt = F.unix_micros(F.col(left_time).cast("timestamp"))
    rt = F.unix_micros(F.col(right_time).cast("timestamp"))
    l = left.withColumn(
        "_bkt", F.explode(F.array(F.floor(lt / w_us), F.floor(lt / w_us) + 1))
    ).withColumn("_lt", lt)
    r = right.withColumn("_bkt", F.floor(rt / w_us)).withColumn("_rt", rt)
    cond = (
        (l[left_on] == r[right_on])
        & (l["_bkt"] == r["_bkt"])
        & (r["_rt"] >= l["_lt"])
        & (r["_rt"] <= l["_lt"] + F.lit(w_us))
    )
    return l.join(r, cond, "inner").drop("_bkt", "_lt", "_rt")
