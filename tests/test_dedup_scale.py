"""Edge cases of the corpus operators: n-gram and stopword language ID on
tiny or whitespace-only text, n-gram Jaccard on documents shorter than n,
the salted join's join-type guard, and containment dedup."""


def test_lang_id_ngram_and_bpe_edges(spark):
    from wpextract_spark.operators.packing import sequence_pack
    from wpextract_spark.operators.textstats import lang_id_ngram

    docs = spark.createDataFrame(
        [
            (1, "the thing in the thicket"),   # en trigrams
            (2, "les questions entre les eaux"),  # fr trigrams
            (3, "xq"),                          # too short -> null
            (4, None),                          # null -> null
            (5, "zzzz qqqq"),                   # no profile hits -> und
            (6, "it's 42 degrees, isn't it?"),
        ],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["lang_guess"] for r in lang_id_ngram(docs).collect()}
    assert langs[1] == "en" and langs[2] == "fr"
    assert langs[3] is None and langs[4] is None
    assert langs[5] == "und"

    packed = {r["doc_id"]: r["n_tokens"] for r in sequence_pack(docs).collect()}
    # "it's 42 degrees, isn't it?" -> it|'s| 42| degrees|,| isn|'t| it|? + EOS
    assert packed[6] == 10


def test_lang_id_whitespace_only_text(spark):
    """Whitespace-only text (tabs/newlines, not just spaces) must yield NULL
    from the stopword lang-id — and the oracle agrees (DuckDB trim() alone
    only strips spaces)."""
    import duckdb

    from wpextract_spark.operators.textstats import lang_id
    from wpextract_spark.plans.queries import _oracle_lang_id

    docs = spark.createDataFrame(
        [(1, "\n\t\n"), (2, "   "), (3, "the of and")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["lang_guess"] for r in lang_id(docs).collect()}
    assert got[1] is None and got[2] is None and got[3] == "en"

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, chr(10) || chr(9) || chr(10)), (2, '   '), (3, 'the of and')"
        ") t(doc_id, text)"
    )
    oracle = {r[0]: r[1] for r in con.execute(_oracle_lang_id()).fetchall()}
    assert oracle == got


def test_short_docs_dont_kill_ngram_jaccard(spark):
    """Docs with fewer than n words yield no grams — they must not abort the
    stage (sequence(0, negative) descends into an invalid slice)."""
    from wpextract_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "one two three four same words here"),
         (4, "one two three four same words here")],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(3, 4)]


def test_salted_join_rejects_right_preserving_joins(spark):
    import pytest

    from wpextract_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, "x")], "k long, v string")
    right = spark.createDataFrame([(2, "y")], "k long, w string")
    with pytest.raises(ValueError, match="left-preserving"):
        salted_join(left, right, ["k"], how="full")
    # left join: unmatched left row survives exactly once
    assert salted_join(left, right, ["k"], how="left").count() == 1


def test_containment_catches_quotes_jaccard_misses(spark):
    from wpextract_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    long_words = " ".join(f"w{i}" for i in range(200))
    quote = " ".join(f"w{i}" for i in range(40, 52))  # verbatim slice
    docs = spark.createDataFrame(
        [("full", long_words), ("quote", quote), ("other", "x y z q r s t")],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert ("full", "quote") in got
    row = got[("full", "quote")]
    assert row.cont_b_in_a == 1.0  # the quote is fully contained
    assert row.cont_a_in_b < 0.1
    # symmetric jaccard at any near-dup threshold misses the same pair
    assert not ngram_jaccard_pairs(docs, threshold=0.5).collect()


def test_containment_verify_path_matches_direct(spark):
    from wpextract_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            ("a", "p q r s t u v"),
            ("b", "p q r s t u v extra tail words here"),
            ("c", "unrelated text entirely different words"),
        ],
        ["doc_id", "text"],
    )
    direct = {
        (r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a)
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    cands = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], ["id_a", "id_b"]
    )
    verified = {
        (r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a)
        for r in containment_pairs(docs, threshold=0.9, candidates=cands).collect()
    }
    assert direct == verified == {("a", "b"): (1.0, 0.555556)}


def test_containment_short_docs_never_divide_by_zero(spark):
    from wpextract_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [("a", "one two"), ("b", ""), ("c", "one two")], ["doc_id", "text"]
    )
    assert containment_pairs(docs).collect() == []  # gram-less: no pairs
