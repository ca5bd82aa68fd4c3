"""Sequence packing: the two-level scan must equal the naive global cumsum
for any bucket width, and the span math must be exact at boundaries."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from wpextract_spark.operators.packing import sequence_pack


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _naive(df, seq_len):
    n = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(
            r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\x0B\f\r']+"
        ), 0)) + 1
    ).cast("long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    t = df.select("doc_id", n.alias("n_tokens"))
    return t.withColumn("offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))


def test_matches_naive_cumsum_any_bucket_width(spark):
    texts = [f"word{i} " * (i % 17 + 1) for i in range(80)]
    df = _docs(spark, texts)
    expected = sorted(
        tuple(r) for r in _naive(df, 64).select("doc_id", "n_tokens", "offset").collect()
    )
    for bw in (1, 7, 64, 1000):
        got = sorted(
            tuple(r)
            for r in sequence_pack(df, seq_len=64, bucket_width=bw)
            .select("doc_id", "n_tokens", "offset")
            .collect()
        )
        assert got == expected, f"bucket_width={bw}"


def test_offsets_are_contiguous(spark):
    df = _docs(spark, ["a b c", "d e", "f g h i"])
    rows = {
        r["doc_id"]: r for r in sequence_pack(df, seq_len=4, bucket_width=2).collect()
    }
    # tokens: 3+1, 2+1, 4+1 -> offsets 0, 4, 7
    assert [rows[i]["offset"] for i in range(3)] == [0, 4, 7]
    assert [rows[i]["n_tokens"] for i in range(3)] == [4, 3, 5]


def test_seq_index_and_span(spark):
    df = _docs(spark, ["a b c", "d e", "f g h i"])
    rows = {
        r["doc_id"]: r for r in sequence_pack(df, seq_len=4, bucket_width=2).collect()
    }
    # doc0: tokens [0,4) -> seq 0 only; doc1: [4,7) -> seq 1 only;
    # doc2: [7,12) -> seqs 1..2 -> spans 2.
    assert (rows[0]["seq_index"], rows[0]["n_seqs_spanned"]) == (0, 1)
    assert (rows[1]["seq_index"], rows[1]["n_seqs_spanned"]) == (1, 1)
    assert (rows[2]["seq_index"], rows[2]["n_seqs_spanned"]) == (1, 2)


def test_pack_sequences_reassembles_stream(spark):
    from wpextract_spark.operators.packing import pack_sequences
    from wpextract_spark.operators.textstats import BPE_SPLIT_RE
    import re

    texts = [f"alpha{i} beta{i} gamma{i}" for i in range(30)]
    df = _docs(spark, texts)
    seqs = {r["seq_id"]: r for r in
            pack_sequences(df, seq_len=16, bucket_width=8).collect()}
    # Reference: tokenize + concat in id order, slice into windows of 16
    stream = []
    for t in texts:
        stream.extend(re.findall(BPE_SPLIT_RE, t) + ["<|eos|>"])
    n_seqs = (len(stream) + 15) // 16
    assert set(seqs) == set(range(n_seqs))
    for s in range(n_seqs):
        window = stream[s * 16:(s + 1) * 16]
        assert seqs[s]["text"] == " ".join(window), f"seq {s}"
        assert seqs[s]["n_tokens"] == len(window)
    # every full window holds exactly seq_len tokens
    assert all(seqs[s]["n_tokens"] == 16 for s in range(n_seqs - 1))


def test_pack_sequences_doc_spanning_many_windows(spark):
    from wpextract_spark.operators.packing import pack_sequences

    df = _docs(spark, ["w " * 100, "x y"])
    rows = pack_sequences(df, seq_len=8, bucket_width=4).collect()
    total = sum(r["n_tokens"] for r in rows)
    # 100 w's + eos + 2 tokens + eos
    assert total == 104
    # the long doc contributes alone to its interior windows
    interior = [r for r in rows if r["n_docs"] == 1 and r["n_tokens"] == 8]
    assert len(interior) >= 10


def test_write_training_shards_roundtrip(spark, tmp_path):
    from wpextract_spark.operators.packing import pack_sequences
    from wpextract_spark.sinks.shards import write_training_shards

    df = _docs(spark, [f"tok{i} " * 9 for i in range(40)])
    seqs = pack_sequences(df, seq_len=32, bucket_width=8)
    out = str(tmp_path / "shards")
    write_training_shards(seqs, out, seqs_per_shard=4)
    back = spark.read.parquet(out)
    assert back.count() == seqs.count()
    # shard k holds exactly seq_ids [4k, 4k+4)
    for r in back.select("shard", "seq_id").collect():
        assert r["shard"] == r["seq_id"] // 4
    # one data file per shard directory (no small-file explosion)
    import glob
    for d in glob.glob(out + "/shard=*"):
        files = [f for f in glob.glob(d + "/*.parquet")]
        assert len(files) == 1, d


def test_write_training_shards_rejects_bad_width(spark):
    import pytest
    from wpextract_spark.sinks.shards import write_training_shards

    with pytest.raises(ValueError):
        write_training_shards(_docs(spark, ["a"]), "/tmp/x", seqs_per_shard=0)
