"""URL canonicalization edge cases + canonical-URL dedup."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wpextract_spark.functions.urls import canonicalize_url, url_host
from wpextract_spark.operators.corpusfilters import url_dedup


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r[0] for r in df.select(canonicalize_url("url")).collect()]


def test_canonicalize_url_rules(spark):
    cases = {
        # fragment + tracking params + trailing slash + host case
        "https://Example.org/post/7/?id=7&utm_source=feed#top":
            "https://example.org/post/7?id=7",
        # default https port
        "https://example.org:443/post/7?id=7": "https://example.org/post/7?id=7",
        # default http port NOT stripped for https and vice versa
        "http://example.org:443/a": "http://example.org:443/a",
        "http://example.org:80/a": "http://example.org/a",
        # non-default port preserved
        "https://example.org:8443/a": "https://example.org:8443/a",
        # param sorting makes order irrelevant; bare tracking name dropped
        "https://a.example/x?b=2&a=1&ref": "https://a.example/x?a=1&b=2",
        # root slash kept; path case preserved
        "HTTPS://A.Example/": "https://a.example/",
        "https://a.example/CaseSensitive/Path": "https://a.example/CaseSensitive/Path",
        # all params tracking -> no query at all
        "https://a.example/x?utm_campaign=c&gclid=123&fbclid=z":
            "https://a.example/x",
    }
    got = _canon(spark, list(cases))
    assert got == list(cases.values())


def test_url_dedup_keeps_min_id(spark):
    rows = [
        (1, "https://Example.org/p/1/?utm_source=a"),
        (2, "https://example.org:443/p/1"),
        (3, "https://example.org/p/2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: (r["canon_url"], r["keep"]) for r in url_dedup(df).collect()}
    assert out[1] == ("https://example.org/p/1", True)
    assert out[2] == ("https://example.org/p/1", False)
    assert out[3] == ("https://example.org/p/2", True)


def _hosts(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r[0] for r in df.select(url_host("url")).collect()]


def test_url_host_userinfo_and_ipv6(spark):
    cases = {
        "https://u:p@Example.com/x": "example.com",
        "http://[2001:db8::1]:8080/": "[2001:db8::1]",
        "https://Example.com:8443/a?next=me@evil.org": "example.com",
        "https://a@b@Example.com/": "example.com",
        "http://[::1]/": "[::1]",
        "mailto:me@example.com": "",
        "/relative/path": "",
    }
    assert _hosts(spark, list(cases)) == list(cases.values())


_LABEL = st.text(alphabet="abcXYZ019-", min_size=1, max_size=8)


@settings(max_examples=20, deadline=None)
@given(
    parts=st.lists(
        st.tuples(
            st.sampled_from(["http", "https", "HTTPS", "ftp"]),
            st.sampled_from(["", "u@", "u:p@", "a@b@", "us%40er:p:w@"]),
            st.one_of(
                st.lists(_LABEL, min_size=1, max_size=3).map(".".join),
                st.sampled_from(["[2001:db8::1]", "[::1]", "[FE80::1%25eth0]"]),
            ),
            st.sampled_from(["", ":8080", ":443"]),
            st.sampled_from(["", "/", "/x/y?q=a@b", "?u=me@x.org#f@g", "#a@b"]),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_url_host_is_the_authority_host(spark, parts):
    """Whatever userinfo, port, path, query or fragment surrounds it, the
    host comes back lowercased and whole (IPv6 brackets included)."""
    urls = [f"{sch}://{ui}{host}{port}{rest}" for sch, ui, host, port, rest in parts]
    assert _hosts(spark, urls) == [host.lower() for _, _, host, _, _ in parts]
