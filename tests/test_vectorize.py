"""Hashed TF-IDF vectors: weight math, min-df pruning and hashing-trick
collisions."""

import math

from wpextract_spark.operators.vectorize import tfidf_vectors


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tfidf_weight_math(spark):
    # 'common' in all 3 docs, 'rare' in one; N=3
    docs = _df(
        spark,
        [(0, "common rare"), (1, "common"), (2, "common common")],
    )
    out = tfidf_vectors(docs, dim=64, min_df=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["weight"])
    idf_common = math.log(4 / 4) + 1        # = 1
    idf_rare = math.log(4 / 2) + 1
    assert any(abs(w - idf_rare) < 1e-6 for w in by_doc[0])
    assert any(abs(w - idf_common) < 1e-6 for w in by_doc[0])
    # doc 2: tf=2 on 'common'
    assert any(abs(w - 2 * idf_common) < 1e-6 for w in by_doc[2])


def test_min_df_drops_rare_tokens(spark):
    docs = _df(spark, [(0, "shared unique0"), (1, "shared unique1")])
    out = tfidf_vectors(docs, dim=64, min_df=2)
    # only 'shared' survives: one row per doc
    assert out.count() == 2


def test_collisions_sum_weights(spark):
    # dim=1 forces every token into bucket 0: weight = sum of all tf*idf
    docs = _df(spark, [(0, "a b c")])
    rows = tfidf_vectors(docs, dim=1, min_df=1).collect()
    assert len(rows) == 1 and rows[0]["bucket"] == 0
    assert abs(rows[0]["weight"] - 3 * (math.log(2 / 2) + 1)) < 1e-6

