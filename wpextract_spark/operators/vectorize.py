"""Hashed TF-IDF document vectors: text -> sparse vector, engine-portably.

``tfidf_vectors`` produces the sparse document representation in the
hashing-trick form: no vocabulary dictionary to build, ship, or keep
consistent across runs, and no Python in any hot path.

Design notes for scale:
* token -> dimension uses the first 8 hex chars of ``md5(token)`` mod
  ``dim`` — deterministic, engine-identical (the oracle restates it in
  SQL), and collision behavior (summed weights) is the standard hashing-
  trick semantics;
* the corpus size ``N`` for IDF is folded in via a broadcast one-row
  aggregate cross-join, not a driver ``count()`` — the whole operator
  stays a single action-free plan;
* IDF uses the smoothed form ``ln((N+1)/(df+1)) + 1`` (sklearn's), so no
  division by zero and unseen-token weight stays finite;
* output is the long (sparse) form ``(id, bucket, weight)`` — the compact
  thing to shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wpextract_spark.operators.dedup import WS


def tfidf_vectors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    min_df: int = 1,
) -> DataFrame:
    """Sparse hashed TF-IDF: ``(id, bucket, weight)`` rows, weight rounded
    to 6 decimals. Tokens with document frequency < ``min_df`` are dropped
    (the hashing trick's noise-floor knob)."""
    from pyspark.sql import Window

    tokens = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), WS)).alias("token"),
    )
    tf = tokens.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    # Document frequency as a WINDOW over tf (one row per (doc, token), so
    # count over the token partition == distinct-doc count): one linear
    # dataflow — the corpus is exploded and shuffled exactly once, with no
    # df join and no duplicated tf subtree (a join-based df would make
    # Catalyst compute the explode+groupBy twice; cf. the materialize note
    # in operators/packing.py).
    with_df = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("token"))
    ).where(F.col("df") >= min_df)
    n = docs.agg(F.count("*").alias("n"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
        % dim
    )
    idf = F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1
    return (
        with_df.crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            bucket.alias("bucket"),
            (F.col("tf") * idf).alias("_w"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.round(F.sum("_w"), 6).alias("weight"))
    )

