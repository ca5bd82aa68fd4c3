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


def _surt(spark, urls):
    from wpextract_spark.functions.urls import surt_key

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r[0] for r in df.select(surt_key("url")).collect()]


def test_surt_key_rules(spark):
    cases = {
        # scheme dropped, www stripped, host reversed, rest casefolded,
        # params canonical-sorted, fragment + tracking gone
        "https://WWW.blog.Example.org/Post/7/?b=2&utm_source=x&a=1#top":
            "org,example,blog)/post/7?a=1&b=2",
        # http/https duplicates collapse to the same key
        "http://blog.example.org/Post/7?a=1&b=2":
            "org,example,blog)/post/7?a=1&b=2",
        # default port dropped; non-default kept after the reversed host
        "https://example.org:443/a": "org,example)/a",
        "https://example.org:8080/a": "org,example:8080)/a",
        # www2 mirrors collapse too; root path normalizes to ')/'
        "https://www2.example.org": "org,example)/",
        # ... but never down to a bare public suffix
        "https://www.org/a": "org,www)/a",
        "https://www2.com/": "com,www2)/",
        "https://example.org/": "org,example)/",
    }
    assert _surt(spark, list(cases)) == list(cases.values())


@settings(max_examples=20, deadline=None)
@given(
    hosts=st.lists(
        st.tuples(
            st.sampled_from(["www", "WWW", "www2", "www10"]),
            st.lists(st.text(alphabet="abcw2", min_size=1, max_size=4), min_size=1, max_size=3),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_surt_www_strip_keeps_two_labels(spark, hosts):
    # A leading www<digits>. label goes only when two labels remain:
    # www.org and www2.com keep their own keys instead of collapsing onto
    # the public suffix every other such host collapses onto.
    urls, want = [], []
    for www, labels in hosts:
        kept = labels if len(labels) >= 2 else [www.lower()] + labels
        urls.append(f"https://{www}.{'.'.join(labels)}/p")
        want.append(",".join(reversed(kept)) + ")/p")
    assert _surt(spark, urls) == want


def test_surt_gives_per_site_sort_locality(spark):
    # every URL of a registered domain sorts adjacently — the property
    # that makes SURT the right range-partitioning key for a crawl index
    urls = [
        "https://a.example.org/z",
        "https://other.net/a",
        "https://b.example.org/a",
        "https://www.example.org/m",
    ]
    keys = sorted(_surt(spark, urls))
    example = [k for k in keys if k.startswith("org,example")]
    i = keys.index(example[0])
    assert keys[i : i + len(example)] == example


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


def test_host_keyed_operators_skip_userinfo(spark):
    from wpextract_spark.operators.anchors import domain_link_graph

    edges = spark.createDataFrame(
        [("https://u:p@Blog.Example.com/a", "http://[2001:db8::1]:8080/")],
        "src_url string, dst_url string",
    )
    row = domain_link_graph(edges).first()
    assert row["src_domain"] == "example.com"
    assert row["dst_domain"] == "[2001:db8::1]"
