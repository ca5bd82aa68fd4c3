# --- compression quality signal ---------------------------------------------


def test_compression_signal_values(spark):
    from pyspark.sql import functions as F

    from wpextract_spark.operators.textstats import compression_signal_udf

    import zlib

    natural = "The quick brown fox jumps over seventeen lazy dogs near a quay."
    junk = "spam " * 200
    df = spark.createDataFrame(
        [(1, natural), (2, junk), (3, ""), (4, None)], ["id", "text"]
    )
    res = compression_signal_udf()(F.col("text"))
    rows = {
        r.id: r
        for r in df.select(
            "id",
            res["raw_len"].alias("raw_len"),
            res["zlib_len"].alias("zlib_len"),
            res["ratio"].alias("ratio"),
        ).collect()
    }
    # exact values: stdlib zlib at the default level is deterministic.
    assert rows[1].raw_len == len(natural.encode())
    assert rows[1].zlib_len == len(zlib.compress(natural.encode(), 6))
    # repetitive junk compresses far harder than natural prose.
    assert rows[2].ratio < 0.1 < rows[1].ratio
    assert rows[3].raw_len == 0 and rows[3].ratio is None
    assert rows[4].raw_len is None and rows[4].ratio is None


def test_compression_query_repetitive_docs_drop(spark):
    from wpextract_spark.plans.queries import q_compression_signal

    out = {
        r.doc_id: r.ratio
        for r in q_compression_signal(spark, "/root/testdata/sf0.001").collect()
    }
    padded = [v for k, v in out.items() if k % 3 == 0]
    clean = [v for k, v in out.items() if k % 3 != 0]
    assert max(padded) < min(clean)  # padding must visibly compress harder
