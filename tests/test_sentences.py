"""Sentence segmentation: abbreviation protection, terminator runs, tails."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wpextract_spark.operators.sentences import sentence_stats, split_sentences


def _split(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(split_sentences("text").alias("s")).collect()[0]["s"]


def test_basic_split(spark):
    assert _split(spark, "One. Two! Three? Four") == [
        "One.", "Two!", "Three?", "Four",
    ]


def test_abbreviations_do_not_split(spark):
    got = _split(
        spark,
        "Dr. Watson met Mr. Holmes at St. James. They left e.g. quickly.",
    )
    assert got == [
        "Dr. Watson met Mr. Holmes at St. James.",
        "They left e.g. quickly.",
    ]


def test_terminator_runs_attach_to_preceding_text(spark):
    # a maximal [.!?]+ run is one boundary: "?!" stays together, and an
    # ellipsis deterministically ends its sentence (the documented rule —
    # mid-sentence ellipses are ambiguous and this splitter never guesses)
    assert _split(spark, "What?! Really... yes.") == [
        "What?!", "Really...", "yes.",
    ]


def test_empty_and_unterminated(spark):
    assert _split(spark, "") == []
    assert _split(spark, "no terminator at all") == ["no terminator at all"]


def test_sentence_stats_exact_integers(spark):
    df = spark.createDataFrame(
        [(1, "Hi. Bye!"), (2, "One"), (3, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in sentence_stats(df).collect()}
    assert set(rows) == {1, 2}  # null text filtered
    assert rows[1]["n_sentences"] == 2
    assert rows[1]["sentence_chars"] == len("Hi.") + len("Bye!")
    assert rows[1]["max_sentence_len"] == 4
    assert rows[1]["first_sentence"] == "Hi."
    assert rows[2] == {
        "doc_id": 2,
        "n_sentences": 1,
        "sentence_chars": 3,
        "max_sentence_len": 3,
        "first_sentence": "One",
    }


def test_no_shuffle_map_only_plan(spark):
    # at 10^12 documents this must stay a single narrow map stage
    df = spark.createDataFrame([(1, "A. B.")], "doc_id long, text string")
    plan = sentence_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@settings(max_examples=20, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab .!?\x01eigMrNo", max_size=30),
        min_size=1,
        max_size=20,
    )
)
def test_raw_sentinel_char_never_becomes_a_dot(spark, texts):
    """Raw U+0001 in library input is dropped, never restored as '.':
    the split equals the split of the text without it, no sentence keeps
    the control char, and the output has no more dots than the input."""
    df = spark.createDataFrame(
        [(t, t.replace("\x01", "")) for t in texts], "raw string, clean string"
    )
    rows = df.select(
        split_sentences("raw").alias("raw"),
        split_sentences("clean").alias("clean"),
    ).collect()
    for text, r in zip(texts, rows):
        assert r["raw"] == r["clean"], text
        assert not any("\x01" in s for s in r["raw"]), text
        assert "".join(r["raw"]).count(".") <= text.count("."), text
