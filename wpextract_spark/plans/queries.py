"""Driver-contract query registry: every implemented operator exposed as a
(spark_query, oracle_sql) pair over the shared testdata tables.

Conventions (driver compare = row count + schema + order-insensitive value
hash with columns sorted by name):
* every computed column is aliased identically in Spark and SQL;
* floats are rounded to 6 decimals on both sides;
* hashing uses md5-over-UTF-8 (identical in Spark and DuckDB).

Every query has a DuckDB oracle; tests/test_plans.py keeps the two dicts
in step and the registry at most 50 entries long, so the driver, which runs
the first 50, checks every query each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wpextract_spark.operators.dedup import (
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from wpextract_spark.operators.extract import content_extract_udf, locale_udf
from wpextract_spark.operators.skew import salted_agg, salted_join
from wpextract_spark.operators.textstats import (
    fingerprints,
    lang_id,
    quality_scores,
    token_stats,
)

# Same explicit whitespace class as operators/dedup.py WS: `\s` diverges
# between Java (includes \x0B) and RE2 (excludes it); this class is
# engine-identical.
WS_SQL = r"[ \t\n\x0B\f\r]+"

# Python's Unicode \s / str.strip() whitespace set spelled as an RE2 class
# (for oracles that restate Python-side squash/strip semantics).
_PY_WS_CLS = (
    r"\t\n\x{0b}\f\r\x{1c}-\x{1f} \x{85}\x{a0}\x{1680}"
    r"\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "documents":
        # The sandbox testdata is one row group per table, so the scan is a
        # single task; the corpus tables feed CPU-heavy per-row expressions
        # (gram builds, hashing, kernels), which would otherwise run
        # single-threaded — including inside broadcast-build jobs. One cheap
        # shuffle of the small table restores the parallelism a many-file
        # production table gets from the scan itself.
        # 8-way, not defaultParallelism: these tables are a few MB, so fatter
        # tasks beat scheduling 32 tiny ones (straggler variance dominates).
        df = df.repartition(min(8, spark.sparkContext.defaultParallelism))
    return df


# ---------------------------------------------------------------------------
# Extraction-kernel queries (documents table as the corpus)
# ---------------------------------------------------------------------------


def q_extract_text_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate strip invariant: wrapping text in <p> + excluded <table> +
    comment boilerplate and extracting must give back exactly the
    (whitespace-squashed) text. Text is HTML-escaped into the page so
    '&'/'<'/'>' in a corpus can't break the embedding; the parser unescapes,
    the kernel squashes, and the oracle applies the same squash in SQL."""
    docs = _t(spark, sf_dir, "documents")
    escaped = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"),
        ">",
        "&gt;",
    )
    html = F.concat(
        F.lit("<html><body><p>"),
        escaped,
        F.lit("</p><table><tr><td>junk</td></tr></table><!-- c --></body></html>"),
    )
    url = F.concat(F.lit("https://example.org/doc-"), F.col("doc_id").cast("string"))
    extracted = content_extract_udf()(html, url)
    return docs.select(F.col("doc_id"), extracted["text"].alias("extracted_text"))


ORACLE_EXTRACT_TEXT = rf"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(regexp_replace(text, '\n{{2,}}', chr(10), 'g'),
                        '(?m)^[{_PY_WS_CLS}]+', '', 'g'),
         '^[{_PY_WS_CLS}]+|[{_PY_WS_CLS}]+$', '', 'g') AS extracted_text
FROM documents
"""


def q_extract_link_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-span extraction with internal/external discrimination and
    relative-href absolutization, on deterministically constructed pages."""
    docs = _t(spark, sf_dir, "documents")
    n_int = (F.col("doc_id") % 3).cast("int")
    # NB: sequence(1, 0) would DESCEND — guard the empty case explicitly.
    internal_links = F.when(n_int < 1, F.lit("")).otherwise(
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(1), n_int),
                lambda i: F.concat(
                    F.lit('<a href="/p/'),
                    (F.col("doc_id") + i).cast("string"),
                    F.lit('">l</a>'),
                ),
            ),
        )
    )
    html = F.concat(
        F.lit("<p>x</p>"),
        internal_links,
        F.lit('<a href="https://other.example.com/e">ext</a>'),
    )
    url = F.concat(F.lit("https://example.org/doc-"), F.col("doc_id").cast("string"), F.lit("/"))
    res = content_extract_udf()(html, url)
    return docs.select(
        "doc_id",
        F.size(res["links_internal"]).alias("n_internal"),
        F.size(res["links_external"]).alias("n_external"),
        # F.get is null-on-out-of-bounds (ANSI-safe), unlike element_at.
        F.get(res["links_internal"], 0)["href"].alias("first_internal_href"),
    )


ORACLE_LINK_SPANS = """
SELECT doc_id,
       CAST(doc_id % 3 AS INT) AS n_internal,
       1 AS n_external,
       CASE WHEN doc_id % 3 > 0
            THEN 'https://example.org/p/' || (doc_id + 1)
            ELSE NULL END AS first_internal_href
FROM documents
"""


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots.txt retention check: parse each host's robots.txt
    once (Arrow UDF over the 7-row host table, broadcast), evaluate every
    page path JVM-side with longest-match-wins / allow-wins-ties semantics.
    Hosts and paths are constructed so every RFC behavior — wildcard,
    end-anchor, group selection, adjacent agents, empty Disallow, length
    tie — is exercised, and the verdict has a closed form over doc_id."""
    from wpextract_spark.operators.robots import (
        parse_robots_rules_udf,
        robots_allowed,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 7).cast("string"))
    path = (
        F.when(did % 5 == 0, F.concat(F.lit("/private/doc-"), did.cast("string")))
        .when(did % 5 == 1, F.concat(F.lit("/private/pub/doc-"), did.cast("string")))
        .when(did % 5 == 2, F.concat(F.lit("/doc-"), did.cast("string"), F.lit(".pdf")))
        .when(did % 5 == 3, F.concat(F.lit("/tmp/doc-"), did.cast("string")))
        .otherwise(F.concat(F.lit("/a/doc-"), did.cast("string")))
    )
    pages = docs.select("doc_id", host.alias("host"), path.alias("path"))
    hv = F.col("id")
    robots_txt = (
        F.when(hv == 0, F.lit("User-agent: *\nDisallow: /private/\nAllow: /private/pub/"))
        .when(hv == 1, F.lit("User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*"))
        .when(hv == 2, F.lit("User-agent: *\nDisallow: /"))
        .when(hv == 3, F.lit("# no rules\nSitemap: https://example.org/sitemap.xml"))
        .when(
            hv == 4,
            F.lit(
                "User-agent: specialbot\nDisallow: /special-only\n\n"
                "User-agent: otherbot\nUser-agent: *\nAllow: /a\nDisallow: /"
            ),
        )
        .when(hv == 5, F.lit("User-agent: *\nDisallow:"))
        .otherwise(F.lit("User-agent: *\nAllow: /private/\nDisallow: /private/"))
    )
    robots = spark.range(7).select(
        F.concat(F.lit("h"), hv.cast("string")).alias("host"),
        robots_txt.alias("robots_txt"),
    )
    rules = robots.select(
        "host", parse_robots_rules_udf()(F.col("robots_txt")).alias("rules")
    )
    return pages.join(F.broadcast(rules), "host").select(
        "doc_id",
        "host",
        "path",
        robots_allowed(F.col("rules"), F.col("path")).alias("allowed"),
    )


# Verdict closed form: h2 blocks all; h0 blocks only /private/ (path 0 —
# path 1's longer Allow overrides); h1 blocks the *.pdf$ and /tmp* paths;
# h4's star group is Allow /a + Disallow /, so only path 4 survives; h3
# (no rules), h5 (empty Disallow), h6 (allow wins the length tie) keep all.
ORACLE_ROBOTS_FILTER = """
SELECT doc_id,
       'h' || (doc_id % 7) AS host,
       CASE doc_id % 5
            WHEN 0 THEN '/private/doc-' || doc_id
            WHEN 1 THEN '/private/pub/doc-' || doc_id
            WHEN 2 THEN '/doc-' || doc_id || '.pdf'
            WHEN 3 THEN '/tmp/doc-' || doc_id
            ELSE '/a/doc-' || doc_id END AS path,
       CASE doc_id % 7
            WHEN 2 THEN FALSE
            WHEN 0 THEN doc_id % 5 <> 0
            WHEN 1 THEN doc_id % 5 NOT IN (2, 3)
            WHEN 4 THEN doc_id % 5 = 4
            ELSE TRUE END AS allowed
FROM documents
"""


def q_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling: descending chains
    (c<did> -> c<did-1>, terminal at multiples of 10, so hops = did % 10)
    plus 4-cycles in a disjoint namespace (y<4k..4k+3>), which must come
    back unresolved. The oracle walks the same edge table independently
    with a recursive CTE — construction shared, resolution independent."""
    from wpextract_spark.operators.redirects import resolve_redirects

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    chain = docs.where(did % 10 != 0).select(
        F.concat(F.lit("c"), did.cast("string")).alias("src"),
        F.concat(F.lit("c"), (did - 1).cast("string")).alias("dst"),
    )
    cycle = docs.select(
        F.concat(F.lit("y"), did.cast("string")).alias("src"),
        F.concat(F.lit("y"), (did - did % 4 + (did + 1) % 4).cast("string")).alias(
            "dst"
        ),
    )
    return resolve_redirects(chain.unionAll(cycle))


ORACLE_REDIRECT_CHAINS = """
WITH RECURSIVE edges AS (
  SELECT 'c' || doc_id AS src, 'c' || (doc_id - 1) AS dst
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT 'y' || doc_id, 'y' || (doc_id - doc_id % 4 + (doc_id + 1) % 4)
  FROM documents
),
walk AS (
  SELECT src, dst AS cur, 1 AS hops FROM edges
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN edges e ON w.cur = e.src
  WHERE w.hops < 64
),
last AS (
  SELECT src, cur, hops,
         row_number() OVER (PARTITION BY src ORDER BY hops DESC) AS rn
  FROM walk
)
SELECT l.src,
       CASE WHEN t.src IS NULL THEN l.cur END AS final_url,
       CASE WHEN t.src IS NULL THEN l.hops END AS hops,
       t.src IS NULL AS resolved
FROM last l LEFT JOIN (SELECT DISTINCT src FROM edges) t ON l.cur = t.src
WHERE l.rn = 1
"""


def q_site_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped template removal: nav + footer lines stamped on every
    page of a host get stripped; a promo line on only half the host's pages
    (below the 0.6 document-frequency threshold) survives. The oracle
    recomputes per-host line document frequencies independently."""
    from wpextract_spark.operators.boilerplate import strip_site_boilerplate

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    hk = (did % 5).cast("string")
    page_text = F.concat(
        F.lit("NAV h"), hk, F.lit(" | home | about\n"),
        F.when(did % 2 == 0, F.lit("PROMO banner\n")).otherwise(F.lit("")),
        F.col("text"),
        F.lit("\ncopyright h"), hk, F.lit(" footer"),
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), hk).alias("host"),
        page_text.alias("text"),
    )
    return strip_site_boilerplate(pages)


ORACLE_SITE_BOILERPLATE = """
WITH pages AS (
  SELECT doc_id, 'h' || (doc_id % 5) AS host,
         'NAV h' || (doc_id % 5) || ' | home | about' || chr(10) ||
         CASE WHEN doc_id % 2 = 0 THEN 'PROMO banner' || chr(10) ELSE '' END ||
         text || chr(10) ||
         'copyright h' || (doc_id % 5) || ' footer' AS text
  FROM documents),
split AS (
  SELECT doc_id, host, string_split(text, chr(10)) AS parts FROM pages),
lines AS (
  SELECT doc_id, host, g.i - 1 AS pos, parts[g.i] AS line,
         lower(trim(parts[g.i])) AS norm
  FROM split, LATERAL unnest(generate_series(1, len(parts))) AS g(i)),
hp AS (SELECT host, count(*) AS n_pages FROM pages GROUP BY host),
ldf AS (SELECT host, norm, count(DISTINCT doc_id) AS df
        FROM lines WHERE norm <> '' GROUP BY host, norm),
bl AS (SELECT ldf.host, norm FROM ldf JOIN hp USING (host)
       WHERE n_pages >= 2 AND df >= n_pages * 0.6),
kept AS (SELECT l.* FROM lines l
         LEFT JOIN bl ON l.host = bl.host AND l.norm = bl.norm
         WHERE bl.norm IS NULL),
agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT p.doc_id,
       coalesce(a.text_clean, '') AS text_clean,
       len(string_split(p.text, chr(10))) AS n_lines,
       coalesce(a.n_kept, 0) AS n_kept
FROM pages p LEFT JOIN agg a USING (doc_id)
"""


def q_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental recrawl update end-to-end: previous corpus extracted
    from run 1 (real kernel), run 2 removes every 10th page, changes every
    10th+1, adds a new namespace for every 10th+2 — the plan re-extracts
    only the stale subset and carries the rest. Oracle restates the final
    corpus (urls, md5 page fingerprints, texts) closed-form."""
    from wpextract_spark.plans.incremental import (
        extract_pages,
        incremental_update,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    url1 = F.concat(F.lit("u"), ds)
    run1 = docs.select(
        url1.alias("url"),
        F.concat(F.lit("<p>old "), ds, F.lit("</p>")).alias("html"),
    )
    kept = docs.where(did % 10 != 0).select(
        url1.alias("url"),
        F.when(
            did % 10 == 1, F.concat(F.lit("<p>new "), ds, F.lit("</p>"))
        )
        .otherwise(F.concat(F.lit("<p>old "), ds, F.lit("</p>")))
        .alias("html"),
    )
    added = docs.where(did % 10 == 2).select(
        F.concat(F.lit("a"), ds).alias("url"),
        F.concat(F.lit("<p>add "), ds, F.lit("</p>")).alias("html"),
    )
    run2 = kept.unionByName(added)
    corpus, _diff = incremental_update(extract_pages(run1), run2)
    return corpus


ORACLE_INCREMENTAL_EXTRACT = """
SELECT 'u' || doc_id AS url,
       md5('<p>' || CASE WHEN doc_id % 10 = 1 THEN 'new' ELSE 'old' END
           || ' ' || doc_id || '</p>') AS page_fp,
       CASE WHEN doc_id % 10 = 1 THEN 'new' ELSE 'old' END
           || ' ' || doc_id AS text
FROM documents WHERE doc_id % 10 <> 0
UNION ALL
SELECT 'a' || doc_id,
       md5('<p>add ' || doc_id || '</p>'),
       'add ' || doc_id
FROM documents WHERE doc_id % 10 = 2
"""


def q_robots_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-rule robots.txt directives for the crawl scheduler: sitemap
    discovery seeds (file-global) and the group-scoped crawl-delay, with a
    malformed delay ignored and group selection honored."""
    from wpextract_spark.operators.robots import robots_directives_udf

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    txt = (
        F.when(
            did % 4 == 0,
            F.lit(
                "User-agent: *\nCrawl-delay: 1.5\nDisallow: /x\n"
                "Sitemap: https://h0/s1.xml\nSitemap: https://h0/s2.xml"
            ),
        )
        .when(
            did % 4 == 1,
            F.lit(
                "User-agent: special\nCrawl-delay: 9\n\n"
                "User-agent: *\nDisallow: /y"
            ),
        )
        .when(
            did % 4 == 2,
            F.lit(
                "Sitemap: https://h2/map.xml\n"
                "User-agent: *\nCrawl-delay: fast"
            ),
        )
        .otherwise(F.lit(""))
    )
    res = robots_directives_udf()(txt)
    return docs.select(
        "doc_id",
        res["sitemaps"].alias("sitemaps"),
        res["n_sitemaps"].alias("n_sitemaps"),
        res["crawl_delay"].alias("crawl_delay"),
    )


ORACLE_ROBOTS_DIRECTIVES = """
SELECT doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'https://h0/s1.xml,https://h0/s2.xml'
         WHEN 2 THEN 'https://h2/map.xml' END AS sitemaps,
       CASE doc_id % 4 WHEN 0 THEN 2 WHEN 2 THEN 1 ELSE 0 END AS n_sitemaps,
       CASE doc_id % 4 WHEN 0 THEN CAST(1.5 AS DOUBLE) END AS crawl_delay
FROM documents
"""


def q_classify_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-granularity snapshot classification: template churn (raw bytes
    differ, extracted text identical) separated from real content changes,
    plus the added/removed/unchanged statuses — one construction variant
    per outcome."""
    from wpextract_spark.operators.snapshot import classify_changes

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.concat(F.lit("u"), ds)
    old_html = F.concat(F.lit("<div>sb-old</div><p>t"), ds, F.lit("</p>"))
    old_text = F.concat(F.lit("t"), ds)
    new_html = (
        F.when(did % 5 == 2, F.concat(F.lit("<div>sb-NEW</div><p>t"), ds, F.lit("</p>")))
        .when(did % 5 == 3, F.concat(F.lit("<p>rewritten "), ds, F.lit("</p>")))
        .otherwise(old_html)
    )
    new_text = F.when(did % 5 == 3, F.concat(F.lit("rewritten "), ds)).otherwise(
        old_text
    )
    old = docs.where(did % 5 != 4).select(
        url.alias("url"), old_html.alias("html"), old_text.alias("text")
    )
    new = docs.where(did % 5 != 0).select(
        url.alias("url"), new_html.alias("html"), new_text.alias("text")
    )
    return classify_changes(old, new)


ORACLE_CLASSIFY_CHANGES = """
SELECT 'u' || doc_id AS url,
       CASE doc_id % 5
         WHEN 0 THEN 'removed'
         WHEN 1 THEN 'unchanged'
         WHEN 2 THEN 'template_change'
         WHEN 3 THEN 'content_change'
         ELSE 'added' END AS status
FROM documents
"""


def q_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment detection: each document paired with a 6-word
    quote of itself — containment(quote→full) = 1.0 while symmetric
    Jaccard stays tiny. Oracle recomputes gram sets, pair intersections
    and both containment directions independently in SQL."""
    from wpextract_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    words = F.split(F.col("text"), " ")
    full = docs.select(
        F.concat(F.lit("f"), ds).alias("doc_id"), F.col("text").alias("text")
    )
    quote = docs.select(
        F.concat(F.lit("q"), ds).alias("doc_id"),
        F.array_join(F.slice(words, 1, 6), " ").alias("text"),
    )
    return containment_pairs(full.unionAll(quote), threshold=0.9)


ORACLE_CONTAINMENT_DUPS = """
WITH base AS (
  SELECT 'f' || doc_id AS id, text FROM documents
  UNION ALL
  SELECT 'q' || doc_id, array_to_string(string_split(text, ' ')[1:6], ' ')
  FROM documents
),
w AS (SELECT id, string_split(text, ' ') AS ws FROM base),
g0 AS (
  SELECT id, array_to_string(ws[g.i + 1 : g.i + 3], ' ') AS gram
  FROM w, LATERAL unnest(generate_series(0, len(ws) - 3)) AS g(i)
  WHERE len(ws) >= 3),
g AS (SELECT DISTINCT id, gram FROM g0),
sizes AS (SELECT id, count(*) AS n FROM g GROUP BY id),
pairs AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS common
  FROM g l JOIN g r ON l.gram = r.gram AND l.id < r.id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(common * 1.0 / sa.n, 6) AS cont_a_in_b,
       round(common * 1.0 / sb.n, 6) AS cont_b_in_a
FROM pairs
JOIN sizes sa ON pairs.id_a = sa.id
JOIN sizes sb ON pairs.id_b = sb.id
WHERE greatest(round(common * 1.0 / sa.n, 6),
               round(common * 1.0 / sb.n, 6)) >= 0.9
"""


def q_extract_locale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-locale sniffing with the excluded-segment and normalization rules."""
    docs = _t(spark, sf_dir, "documents")
    seg = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("tag"))
        .when(F.col("doc_id") % 5 == 0, F.lit("news"))
        .otherwise(F.col("lang"))
    )
    url = F.concat(
        F.lit("https://example.org/"), seg, F.lit("/doc-"),
        F.col("doc_id").cast("string"), F.lit("/"),
    )
    return docs.select("doc_id", locale_udf()(url).alias("link_locale"))


ORACLE_LOCALE = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            WHEN doc_id % 5 = 0 THEN NULL
            ELSE lang END AS link_locale
FROM documents
"""


# ---------------------------------------------------------------------------
# Relational analogs of the pipeline's joins/dedups (SURVEY.md §2.4-2.5)
# ---------------------------------------------------------------------------


def q_registry_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-wins dedup (registry semantics J1/A2): latest event per user."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    window = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("_rn", F.row_number().over(window))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


ORACLE_LAST_WINS = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
  FROM events) WHERE rn = 1
"""


def q_crawl_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-wins dedup (crawl semantics A1): earliest event per user."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    window = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        events.withColumn("_rn", F.row_number().over(window))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


ORACLE_FIRST_WINS = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) rn
  FROM events) WHERE rn = 1
"""


def q_symmetrize_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-reverse-edge detection (translation symmetrization J7) as an
    anti-join over a derived edge list."""
    lineitem = _t(spark, sf_dir, "lineitem")
    edges = (
        lineitem.select(
            (F.col("l_partkey") % 200).alias("a"), (F.col("l_suppkey") % 100).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    reverse = edges.select(F.col("a").alias("rb"), F.col("b").alias("ra"))
    return edges.join(
        reverse, (edges["a"] == reverse["ra"]) & (edges["b"] == reverse["rb"]), "left_anti"
    ).select("a", "b")


ORACLE_SYMMETRIZE = """
WITH edges AS (
  SELECT DISTINCT l_partkey % 200 AS a, l_suppkey % 100 AS b
  FROM lineitem WHERE l_partkey % 200 <> l_suppkey % 100)
SELECT a, b FROM edges e
WHERE NOT EXISTS (SELECT 1 FROM edges r WHERE r.a = e.b AND r.b = e.a)
"""


def q_resolution_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL->entity resolution analog (J2/J3): broadcast-join lineitem spans
    against the small part dimension, aggregate per brand."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


ORACLE_RESOLUTION = """
SELECT p_brand, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# Training-data operators
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on a 5-word prefix key (full texts are unique in the
    synthetic corpus; the prefix creates realistic collision groups)."""
    docs = _t(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split(F.trim("text"), WS_SQL), 1, 5))
    return exact_duplicate_groups(docs.select("doc_id", prefix.alias("text")))


ORACLE_DEDUP_EXACT = rf"""
WITH keyed AS (
  SELECT doc_id,
         md5(array_to_string((string_split_regex(trim(text), '{WS_SQL}'))[1:5], ' ')) AS text_hash
  FROM documents)
SELECT text_hash, count(*) AS n_dups, min(doc_id) AS keep_id
FROM keyed GROUP BY text_hash HAVING count(*) > 1
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_signatures(docs, k=4)


ORACLE_MINHASH = rf"""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '{WS_SQL}'))) AS w
  FROM documents)
SELECT doc_id,
       min(md5('0:' || w)) AS sig_0, min(md5('1:' || w)) AS sig_1,
       min(md5('2:' || w)) AS sig_2, min(md5('3:' || w)) AS sig_3
FROM w GROUP BY doc_id
"""


#: Shared CTE prefix: 8-hash MinHash -> 2 bands of 4 rows -> bucket cap 100
#: (the mega-bucket guard mirrored from ``lsh_candidate_pairs``).
_LSH_BANDED_CTE = rf"""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '{WS_SQL}'))) AS w
  FROM documents),
sig AS (
  SELECT doc_id,
         min(md5('0:' || w)) AS s0, min(md5('1:' || w)) AS s1,
         min(md5('2:' || w)) AS s2, min(md5('3:' || w)) AS s3,
         min(md5('4:' || w)) AS s4, min(md5('5:' || w)) AS s5,
         min(md5('6:' || w)) AS s6, min(md5('7:' || w)) AS s7
  FROM w GROUP BY doc_id),
banded AS (
  SELECT doc_id, band_key FROM (
    SELECT doc_id, unnest([
      '0|' || s0 || '|' || s1 || '|' || s2 || '|' || s3,
      '1|' || s4 || '|' || s5 || '|' || s6 || '|' || s7]) AS band_key
    FROM sig)
  QUALIFY count(*) OVER (PARTITION BY band_key) <= 100),
lsh_pairs AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_bands
  FROM banded l JOIN banded r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
  GROUP BY 1, 2)
"""


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs, k=8, bands=2, max_bucket=100)


ORACLE_LSH_PAIRS = _LSH_BANDED_CTE + "SELECT id_a, id_b, n_bands FROM lsh_pairs"


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path composition: capped LSH proposes candidate pairs,
    n-gram Jaccard verifies them — no corpus-wide quadratic join anywhere."""
    docs = _t(spark, sf_dir, "documents")
    cands = lsh_candidate_pairs(docs, k=8, bands=2, max_bucket=100)
    return ngram_jaccard_pairs(
        docs, n=3, threshold=0.05, candidates=cands
    ).withColumn("jaccard", F.round("jaccard", 6))


ORACLE_DEDUP_PIPELINE = (
    _LSH_BANDED_CTE
    + rf""",
ws AS (
  SELECT doc_id, string_split_regex(trim(text), '{WS_SQL}') AS ws FROM documents),
g AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS grams
  FROM ws WHERE len(ws) >= 3),
e AS (SELECT doc_id, unnest(grams) AS g FROM g),
sizes AS (SELECT doc_id, len(grams) AS n_grams FROM g),
common AS (
  SELECT p.id_a, p.id_b, count(*) AS common
  FROM lsh_pairs p
  JOIN e l ON l.doc_id = p.id_a
  JOIN e r ON r.doc_id = p.id_b AND r.g = l.g
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(common * 1.0 / (sa.n_grams + sb.n_grams - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE common * 1.0 / (sa.n_grams + sb.n_grams - common) >= 0.05
"""
)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup verdict: LSH propose -> Jaccard verify -> connected
    components (large-star/small-star) -> per-doc keep-list."""
    from wpextract_spark.operators.clustering import near_dup_keep_list

    docs = _t(spark, sf_dir, "documents")
    cands = lsh_candidate_pairs(docs, k=8, bands=2, max_bucket=100)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.05, candidates=cands)
    return near_dup_keep_list(docs, pairs)


#: Transitive closure restated as a recursive CTE: reach(n, lab) enumerates
#: every (node, reachable-node) pair over the bidirected near-dup edges, and
#: min(lab) per node is exactly the component's canonical (smallest) id —
#: the same labels large-star/small-star converges to.
ORACLE_DEDUP_CLUSTERS = (
    _LSH_BANDED_CTE.replace("WITH w AS", "WITH RECURSIVE w AS", 1)
    + rf""",
ws AS (
  SELECT doc_id, string_split_regex(trim(text), '{WS_SQL}') AS ws FROM documents),
g AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS grams
  FROM ws WHERE len(ws) >= 3),
e AS (SELECT doc_id, unnest(grams) AS g FROM g),
sizes AS (SELECT doc_id, len(grams) AS n_grams FROM g),
common AS (
  SELECT p.id_a, p.id_b, count(*) AS common
  FROM lsh_pairs p
  JOIN e l ON l.doc_id = p.id_a
  JOIN e r ON r.doc_id = p.id_b AND r.g = l.g
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n_grams + sb.n_grams - common) >= 0.05),
bidir AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(n, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM bidir)
  UNION
  SELECT b.u, r.lab FROM bidir b JOIN reach r ON r.n = b.v),
cc AS (SELECT n, min(lab) AS root FROM reach GROUP BY n)
SELECT d.doc_id,
       coalesce(cc.root, d.doc_id) AS cluster_id,
       (cc.root IS NULL OR cc.root = d.doc_id) AS keep
FROM documents d LEFT JOIN cc ON cc.n = d.doc_id
"""
)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition: quality rules + exact dedup + near-dup
    clustering into one keep/reject verdict with reject attribution."""
    from wpextract_spark.operators.curation import curation_pipeline

    return curation_pipeline(_t(spark, sf_dir, "documents"))


def _oracle_curation_pipeline() -> str:
    from wpextract_spark.operators.corpusfilters import (
        C4_MIN_KEPT_LINES,
        C4_MIN_WORDS_PER_LINE,
        C4_TERMINAL_RE,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
    )

    return (
        _LSH_BANDED_CTE.replace("WITH w AS", "WITH RECURSIVE w AS", 1)
        + rf""",
ws AS (
  SELECT doc_id, string_split_regex(trim(text), '{WS_SQL}') AS ws FROM documents),
g AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS grams
  FROM ws WHERE len(ws) >= 3),
e AS (SELECT doc_id, unnest(grams) AS g FROM g),
sizes AS (SELECT doc_id, len(grams) AS n_grams FROM g),
common AS (
  SELECT p.id_a, p.id_b, count(*) AS common
  FROM lsh_pairs p
  JOIN e l ON l.doc_id = p.id_a
  JOIN e r ON r.doc_id = p.id_b AND r.g = l.g
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n_grams + sb.n_grams - common) >= 0.05),
bidir AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(n, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM bidir)
  UNION
  SELECT b.u, r.lab FROM bidir b JOIN reach r ON r.n = b.v),
cc AS (SELECT n, min(lab) AS root FROM reach GROUP BY n),
gw AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '{WS_SQL}') AS ws2,
         length(regexp_replace(trim(text), '{WS_SQL}', '', 'g')) AS twc
  FROM documents),
gq AS (
  SELECT doc_id,
         (len(ws2) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
          AND twc * 1.0 / greatest(len(ws2), 1)
              BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
          AND len(list_filter(ws2, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
              / greatest(len(ws2), 1) >= {GOPHER_MIN_ALPHA_FRAC}
          AND (len(string_split(text, '#')) - 1
               + len(string_split_regex(text, '\.\.\.')) - 1) * 1.0
              / greatest(len(ws2), 1) <= {GOPHER_MAX_SYMBOL_RATIO}) AS gopher_keep
  FROM gw),
c4 AS (
  SELECT doc_id,
         (NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{{')
          AND len(list_filter(string_split(text, chr(10)),
                l -> regexp_matches(trim(l), '{C4_TERMINAL_RE}')
                     AND len(string_split_regex(trim(l), '{WS_SQL}'))
                         >= {C4_MIN_WORDS_PER_LINE}
                     AND NOT contains(lower(l), 'javascript')))
              >= {C4_MIN_KEPT_LINES}) AS c4_keep
  FROM documents),
ex AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY
           md5(array_to_string((string_split_regex(trim(text), '{WS_SQL}'))[1:5], ' '))
         ) AS exact_keep
  FROM documents),
nd AS (
  SELECT d.doc_id, (cc.root IS NULL OR cc.root = d.doc_id) AS neardup_keep
  FROM documents d LEFT JOIN cc ON cc.n = d.doc_id)
SELECT gq.doc_id, gopher_keep, c4_keep, exact_keep, neardup_keep,
       TRUE AS containment_keep,
       (gopher_keep AND c4_keep AND exact_keep AND neardup_keep) AS keep,
       CASE WHEN NOT gopher_keep THEN 'gopher'
            WHEN NOT c4_keep THEN 'c4'
            WHEN NOT exact_keep THEN 'exact_dup'
            WHEN NOT neardup_keep THEN 'near_dup'
            ELSE '' END AS reject_reason
FROM gq JOIN c4 USING (doc_id) JOIN ex USING (doc_id) JOIN nd USING (doc_id)
"""
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return ngram_jaccard_pairs(docs, n=3, threshold=0.02).withColumn(
        "jaccard", F.round("jaccard", 6)
    )


ORACLE_NGRAM_JACCARD = rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '{WS_SQL}') AS ws
  FROM documents WHERE doc_id < 100),
g AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS grams
  FROM w WHERE len(ws) >= 3),
e AS (SELECT doc_id, unnest(grams) AS g FROM g),
sizes AS (SELECT doc_id, len(grams) AS n_grams FROM g),
pairs AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS common
  FROM e l JOIN e r ON l.g = r.g AND l.doc_id < r.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(common * 1.0 / (sa.n_grams + sb.n_grams - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE common * 1.0 / (sa.n_grams + sb.n_grams - common) >= 0.02
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via explicit two-stage salting (partials by
    (key, salt), then merge by key) — row-identical to the plain groupBy."""
    orders = _t(spark, sf_dir, "orders")
    out = salted_agg(
        orders, ["o_custkey"], {"o_orderkey": "count", "o_totalprice": "max"}, buckets=8
    )
    return out.select(
        "o_custkey",
        F.col("count_o_orderkey").alias("n_orders"),
        F.round("max_o_totalprice", 2).alias("max_price"),
    )


ORACLE_SALTED_AGG = """
SELECT o_custkey, count(o_orderkey) AS n_orders,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_custkey
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe large-x-medium equi-join: the skewed side is salted, the
    other side replicated across salt buckets; aggregate after the join."""
    lineitem = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(lineitem, orders, ["l_orderkey"], buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )


ORACLE_SALTED_JOIN = """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_t(spark, sf_dir, "documents"))


ORACLE_TOKEN_STATS = rf"""
SELECT doc_id,
       len(string_split_regex(trim(text), '{WS_SQL}')) AS n_tokens,
       length(text) AS n_chars,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
FROM documents
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(_t(spark, sf_dir, "documents"))


def _oracle_quality() -> str:
    from wpextract_spark.operators.textstats import _STOPWORDS_EN

    stops = ", ".join(f"'{w}'" for w in _STOPWORDS_EN)
    return rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '{WS_SQL}') AS ws FROM documents),
s AS (
  SELECT doc_id,
         len(ws) AS n_tokens,
         len(list_filter(ws, x -> list_contains([{stops}], lower(x)))) AS n_stop,
         list_sum([CAST(length(x) AS DOUBLE) for x in ws]) AS total_len
  FROM w)
SELECT doc_id, n_tokens,
       round(n_stop * 1.0 / greatest(n_tokens, 1), 6) AS stopword_ratio,
       round(total_len / greatest(n_tokens, 1), 6) AS mean_word_len,
       (CASE WHEN n_tokens >= 10 AND total_len / greatest(n_tokens, 1) BETWEEN 2.0 AND 12.0
             THEN 0.5 ELSE 0.0 END
        + CASE WHEN n_stop * 1.0 / greatest(n_tokens, 1) > 0.02 THEN 0.5 ELSE 0.0 END)::DOUBLE
       AS quality
FROM s
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(_t(spark, sf_dir, "documents"), n=5)


ORACLE_FINGERPRINTS = rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '{WS_SQL}') AS ws FROM documents)
SELECT doc_id,
       list_aggregate(
         [md5(array_to_string(ws[i:i+4], ' '))
          for i in range(1, greatest(len(ws) - 4, 1) + 1)],
         'min') AS fingerprint
FROM w
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (pandas UDF); the voting is relational,
    so the oracle restates it in SQL from the same profile dict."""
    return lang_id(_t(spark, sf_dir, "documents"))


def _oracle_lang_id() -> str:
    from wpextract_spark.operators.textstats import _LANG_PROFILES

    score_cols = []
    structs = []
    for code in sorted(_LANG_PROFILES):
        words = ", ".join(f"'{w}'" for w in sorted(_LANG_PROFILES[code]))
        score_cols.append(
            f"len(list_filter(toks, t -> list_contains([{words}], t))) AS s_{code}"
        )
        structs.append(f"{{'s': s_{code}, 'l': '{code}'}}")
    scores = ",\n         ".join(score_cols)
    struct_list = ", ".join(structs)
    greatest = ", ".join(f"s_{c}" for c in sorted(_LANG_PROFILES))
    # max by (score, lang) — struct comparison is field-order lexicographic,
    # matching the Python kernel's max(scores, key=lambda l: (scores[l], l)).
    ws = "' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)"
    return rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR trim(text, {ws}) = '' THEN NULL
              ELSE string_split_regex(trim(lower(text), {ws}), '{WS_SQL}') END AS toks
  FROM documents),
s AS (
  SELECT doc_id, toks,
         {scores}
  FROM t)
SELECT doc_id,
       CASE WHEN toks IS NULL THEN NULL
            WHEN greatest({greatest}) = 0 THEN 'und'
            ELSE list_max([{struct_list}]).l
       END AS lang_guess
FROM s
"""


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (the n-gram heuristic variant); the
    oracle restates the trigram voting in SQL from the same profile dict."""
    from wpextract_spark.operators.textstats import lang_id_ngram

    return lang_id_ngram(_t(spark, sf_dir, "documents"))


def _oracle_lang_id_ngram() -> str:
    from wpextract_spark.operators.textstats import _LANG_TRIGRAMS

    score_cols = []
    structs = []
    for code in sorted(_LANG_TRIGRAMS):
        grams = ", ".join(f"'{g}'" for g in _LANG_TRIGRAMS[code])
        score_cols.append(
            f"len(list_filter(grams, g -> list_contains([{grams}], g))) AS s_{code}"
        )
        structs.append(f"{{'s': s_{code}, 'l': '{code}'}}")
    scores = ",\n         ".join(score_cols)
    struct_list = ", ".join(structs)
    greatest = ", ".join(f"s_{c}" for c in sorted(_LANG_TRIGRAMS))
    return f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR length(text) < 3 THEN NULL
              ELSE [substr(lower(text), i + 1, 3)
                    for i in range(length(text) - 2)] END AS grams
  FROM documents),
s AS (
  SELECT doc_id, grams,
         {scores}
  FROM t)
SELECT doc_id,
       CASE WHEN grams IS NULL THEN NULL
            WHEN greatest({greatest}) = 0 THEN 'und'
            ELSE list_max([{struct_list}]).l
       END AS lang_guess
FROM s
"""


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-heuristics leg: locate the article body on a generic (non-WP)
    page drowned in boilerplate — nav menu, link-farm sidebar with its own
    <p> soup, footer — and extract exactly the main text. The oracle states
    the invariant: heuristic output == the embedded document text (squashed).
    Text is HTML-escaped into the page so '&'/'<'/'>' in a corpus can't
    break the embedding; the parser unescapes, the kernel squashes, and the
    oracle applies the same squash in SQL."""
    from wpextract_spark.operators.extract import main_content_udf

    docs = _t(spark, sf_dir, "documents")
    escaped = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"),
        ">",
        "&gt;",
    )
    nav = F.lit(
        "<nav><ul>"
        + "".join(f'<li><a href="/m{i}">menu item {i}</a></li>' for i in range(12))
        + "</ul></nav>"
    )
    sidebar = F.lit(
        '<div class="sidebar"><p>'
        + " ".join(f'<a href="/t{i}">tag{i} cloud word</a>' for i in range(10))
        + "</p></div>"
    )
    html = F.concat(
        F.lit("<html><body><header><h1>Site Title</h1></header>"),
        nav,
        F.lit('<div id="page"><main><article><p>'),
        escaped,
        F.lit("</p></article></main></div>"),
        sidebar,
        F.lit("<footer><p>copyright boilerplate links "),
        F.lit('<a href="/about">about</a> <a href="/contact">contact</a>'),
        F.lit("</p></footer></body></html>"),
    )
    res = main_content_udf()(html)
    return docs.select(
        "doc_id",
        res["text"].alias("main_text"),
        res["error"].isNotNull().alias("quarantined"),
    )


# squash_whitespace (functions/text.py:32) restated in SQL: collapse \n runs,
# strip line-leading whitespace (the _PY_WS_CLS class — Python's Unicode \s),
# trim ends.
ORACLE_MAIN_CONTENT = rf"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(regexp_replace(text, '\n{{2,}}', chr(10), 'g'),
                        '(?m)^[{_PY_WS_CLS}]+', '', 'g'),
         '^[{_PY_WS_CLS}]+|[{_PY_WS_CLS}]+$', '', 'g') AS main_text,
       false AS quarantined
FROM documents
"""


def q_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF leg of the extraction tier: synthesize a deterministic two-page
    PDF per document (Flate-compressed content streams), then extract its
    text with the pure-Python PDF parser. The oracle states the roundtrip
    invariant relationally: extracted text == page-1 text + newline +
    page-2 text, page count == 2."""
    from wpextract_spark.operators.extract import pdf_build_udf, pdf_text_udf

    docs = _t(spark, sf_dir, "documents")
    page2 = F.concat(
        F.lit("doc "), F.col("doc_id").cast("string"), F.lit("\nsecond line")
    )
    pdf = pdf_build_udf()(F.col("text"), page2)
    res = pdf_text_udf()(pdf)
    return docs.select(
        "doc_id",
        res["text"].alias("pdf_text"),
        res["n_pages"].alias("n_pages"),
        res["error"].isNotNull().alias("quarantined"),
    )


ORACLE_PDF_ROUNDTRIP = r"""
SELECT doc_id,
       regexp_replace(text, '[^\x00-\x{ff}]', '?', 'g')
            || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR)
            || chr(10) || 'second line' AS pdf_text,
       CAST(2 AS BIGINT) AS n_pages,
       false AS quarantined
FROM documents
"""


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion, oracle-checked end to end: each document is framed
    as a deterministic single-record Common-Crawl-style .warc.gz capture
    (sources/warcgen.py — per-record gzip members, HTTP response envelope,
    Content-Length framing), then parsed back with the real codec
    (kernel/warc.py) and reduced to exact envelope + payload statistics.
    The oracle restates the generator's construction over the documents
    table, so a bug anywhere in the gzip member split, WARC header parse,
    Content-Length body slice, or HTTP payload split breaks the hash.
    The distributed file path (binaryFile scan -> mapInPandas, cc-pyspark's
    published layout) is covered by tests/test_warc.py round-trips."""
    from wpextract_spark.sources.warc import warc_build_udf, warc_payload_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        warc_build_udf()(F.col("doc_id"), F.col("source"), F.col("text")).alias(
            "payload"
        ),
    )
    return warc_payload_stats(docs)


ORACLE_WARC_EXTRACT = """
SELECT doc_id,
       CAST(2 AS INTEGER) AS n_records,
       'https://' || source || '.example.org/doc/' || CAST(doc_id AS VARCHAR)
           AS target_uri,
       '2024-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')
           || '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
           || 'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
           || ':00:00Z' AS warc_date,
       CAST(200 AS INTEGER) AS http_status,
       'text/html' AS mime,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS payload_len,
       md5(text) AS payload_md5
FROM documents
"""


def q_pages_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full fused extraction over the deterministic synthetic pages
    table. The oracle is the page builder's own statement of intent: synth
    pages embed known text/spans by construction (sources/synth.py emits
    expected_* fields without running the kernel), inlined as a VALUES table.
    Text is compared via md5 so the oracle SQL stays compact."""
    from wpextract_spark.sources.synth import generate_pages

    pages = generate_pages(spark, n_pages=300, seed=42)
    res = content_extract_udf()(F.col("html"), F.col("url"))
    return pages.select(
        "url",
        "lang",
        F.md5(res["text"]).alias("text_md5"),
        F.size(res["links_internal"]).alias("n_internal"),
        F.size(res["links_external"]).alias("n_external"),
        F.size(res["images"]).alias("n_images"),
        F.size(res["embeds"]).alias("n_embeds"),
    )


def _oracle_pages_extract(n_pages: int = 300, seed: int = 42) -> str:
    import hashlib as _hashlib

    from wpextract_spark.sources.synth import synth_page

    rows = []
    for doc_id in range(n_pages):
        p = synth_page(doc_id, seed, with_expected=True)
        text_md5 = _hashlib.md5(p["expected_text"].encode("utf-8")).hexdigest()
        rows.append(
            f"('{p['url']}', '{p['lang']}', '{text_md5}', "
            f"{p['expected_n_internal']}, {p['expected_n_external']}, "
            f"{p['expected_n_images']}, {p['expected_n_embeds']})"
        )
    values = ",\n".join(rows)
    return f"""
SELECT url, lang, text_md5,
       CAST(n_internal AS INTEGER) AS n_internal,
       CAST(n_external AS INTEGER) AS n_external,
       CAST(n_images AS INTEGER) AS n_images,
       CAST(n_embeds AS INTEGER) AS n_embeds
FROM (VALUES
{values}
) AS t(url, lang, text_md5, n_internal, n_external, n_images, n_embeds)
"""


# ---------------------------------------------------------------------------
# Corpus-curation filters (Gopher/C4/CCNet-style training-data passes)
# ---------------------------------------------------------------------------


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wpextract_spark.operators.corpusfilters import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _oracle_repetition_stats() -> str:
    # Mirrors repetition_stats(ns=(2, 3)): the top gram per n is max by
    # (count, gram) — DuckDB struct comparison is field-order lexicographic,
    # matching Spark's max(struct(c, gram)).
    return rf"""
WITH w AS (
  SELECT doc_id, length(text) AS n_chars,
         string_split_regex(trim(text), '{WS_SQL}') AS ws
  FROM documents),
b AS (
  SELECT doc_id, n_chars, len(ws) AS n_words,
         len(list_distinct(ws)) AS n_distinct,
         [array_to_string(ws[i:i+1], ' ')
          for i in range(1, greatest(len(ws) - 1, 0) + 1)] AS g2,
         [array_to_string(ws[i:i+2], ' ')
          for i in range(1, greatest(len(ws) - 2, 0) + 1)] AS g3
  FROM w),
c2 AS (
  SELECT doc_id, gram, count(*) AS c
  FROM (SELECT doc_id, unnest(g2) AS gram FROM b) GROUP BY doc_id, gram),
t2 AS (SELECT doc_id, max({{'c': c, 'gram': gram}}) AS m FROM c2 GROUP BY doc_id),
c3 AS (
  SELECT doc_id, gram, count(*) AS c
  FROM (SELECT doc_id, unnest(g3) AS gram FROM b) GROUP BY doc_id, gram),
t3 AS (SELECT doc_id, max({{'c': c, 'gram': gram}}) AS m FROM c3 GROUP BY doc_id)
SELECT b.doc_id, b.n_words,
       round((b.n_words - b.n_distinct) * 1.0 / greatest(b.n_words, 1), 6)
         AS dup_word_frac,
       round(coalesce(t2.m.c * length(t2.m.gram) * 1.0
                      / greatest(b.n_chars, 1), 0.0), 6) AS top2_gram_char_frac,
       round(coalesce(t3.m.c * length(t3.m.gram) * 1.0
                      / greatest(b.n_chars, 1), 0.0), 6) AS top3_gram_char_frac
FROM b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wpextract_spark.operators.corpusfilters import gopher_quality_flags

    return gopher_quality_flags(_t(spark, sf_dir, "documents"))


def _oracle_gopher_quality() -> str:
    from wpextract_spark.operators.corpusfilters import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
    )

    return rf"""
WITH w AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '{WS_SQL}') AS ws,
         length(regexp_replace(trim(text), '{WS_SQL}', '', 'g')) AS twc
  FROM documents),
s AS (
  SELECT doc_id,
         len(ws) AS n_words,
         twc * 1.0 / greatest(len(ws), 1) AS mean_len,
         len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
           / greatest(len(ws), 1) AS alpha_frac,
         (len(string_split(text, '#')) - 1
          + len(string_split_regex(text, '\.\.\.')) - 1) * 1.0
           / greatest(len(ws), 1) AS symbol_ratio
  FROM w)
SELECT doc_id, n_words,
       round(mean_len, 6) AS mean_word_len,
       round(alpha_frac, 6) AS alpha_word_frac,
       round(symbol_ratio, 6) AS symbol_ratio,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND mean_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
        AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
        AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS keep
FROM s
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wpextract_spark.operators.corpusfilters import line_dedup

    return line_dedup(_t(spark, sf_dir, "documents"))


ORACLE_LINE_DEDUP = """
WITH l AS (
  SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
n AS (SELECT lower(trim(line)) AS norm, count(*) AS cnt FROM l GROUP BY 1),
k AS (
  SELECT doc_id,
         array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean,
         count(*) AS n_kept
  FROM l JOIN n ON lower(trim(l.line)) = n.norm
  WHERE n.cnt < 2
  GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(k.text_clean, '') AS text_clean,
       len(string_split(d.text, chr(10))) AS n_lines,
       coalesce(k.n_kept, 0) AS n_kept
FROM documents d LEFT JOIN k USING (doc_id)
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wpextract_spark.operators.corpusfilters import pii_scrub

    return pii_scrub(_t(spark, sf_dir, "documents"))


def _oracle_pii_scrub() -> str:
    # The patterns are spelled backreference/lookaround-free so Java regex
    # (Spark) and RE2 (DuckDB) match identically; counts are taken on the
    # text as each pattern sees it (sequential scrub), same as the operator.
    from wpextract_spark.operators.corpusfilters import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
    )

    return f"""
WITH t AS (
  SELECT doc_id, text AS t0,
         regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM documents),
u AS (
  SELECT doc_id, t0, t1,
         regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2
  FROM t)
SELECT doc_id,
       regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g') AS text_scrubbed,
       len(regexp_extract_all(t0, '{PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t1, '{PII_IPV4}')) AS n_ips,
       len(regexp_extract_all(t2, '{PII_PHONE}')) AS n_phones
FROM u
"""


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distributed prefix sum for training-sequence packing
    (bucket_width=64 exercises multiple buckets at sf0.01's 500 docs)."""
    from wpextract_spark.operators.packing import sequence_pack

    return sequence_pack(
        _t(spark, sf_dir, "documents"), seq_len=512, bucket_width=64
    )


def _oracle_sequence_pack() -> str:
    # The oracle IS the naive single-window cumsum the operator decomposes:
    # identical results, different physical plan.
    from wpextract_spark.operators.textstats import BPE_SPLIT_RE

    pat = BPE_SPLIT_RE.replace("'", "''")
    return rf"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{pat}', 0)) + 1 AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, n_tokens,
         -- window sum(int) is HUGEINT in DuckDB — cast before it propagates
         -- into the derived // columns (same class as ORACLE_SESSIONIZE).
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS "offset"
  FROM t)
SELECT doc_id, n_tokens, "offset",
       "offset" // 512 AS seq_index,
       ("offset" + n_tokens - 1) // 512 - "offset" // 512 + 1 AS n_seqs_spanned
FROM o
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training sequences (512-token windows over the
    corpus token stream; same knobs as q_sequence_pack)."""
    from wpextract_spark.operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=512, bucket_width=64
    )


def _oracle_pack_sequences() -> str:
    from wpextract_spark.operators.textstats import BPE_SPLIT_RE

    pat = BPE_SPLIT_RE.replace("'", "''")
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_concat(regexp_extract_all(text, '{pat}', 0), ['<|eos|>']) AS ts
  FROM documents),
o AS (
  SELECT doc_id, ts, len(ts) AS n_tokens,
         CAST(coalesce(sum(len(ts)) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS off
  FROM t),
p AS (
  SELECT seq, greatest(off, seq * 512) AS gstart,
         least(off + n_tokens, (seq + 1) * 512) AS gend, off, ts
  FROM o,
       LATERAL unnest(generate_series(off // 512,
                                      (off + n_tokens - 1) // 512)) AS g(seq)),
placed AS (
  SELECT seq, gstart - seq * 512 AS pos,
         list_slice(ts, CAST(gstart - off + 1 AS BIGINT),
                    CAST(gend - off AS BIGINT)) AS piece
  FROM p)
SELECT seq AS seq_id,
       array_to_string(flatten(list(piece ORDER BY pos)), ' ') AS text,
       len(flatten(list(piece ORDER BY pos))) AS n_tokens,
       count(*) AS n_docs
FROM placed GROUP BY seq
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup over deterministically-messy URLs: consecutive
    doc pairs share a page behind different surface forms (case, default
    port, trailing slash, tracking params, fragment)."""
    from wpextract_spark.operators.corpusfilters import url_dedup

    docs = _t(spark, sf_dir, "documents")
    base = F.floor(F.col("doc_id") / 2).cast("long").cast("string")
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("https://Example.org/post/"), base, F.lit("/?id="), base,
            F.lit("&utm_source=feed#top"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://example.org:443/post/"), base, F.lit("?id="), base
        )
    )
    return url_dedup(docs.select("doc_id", url.alias("url")))


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot delta (operators/snapshot.py): documents is the old
    snapshot; the new snapshot derives deterministically — docs with
    doc_id % 13 == 0 vanish (removed), % 7 == 0 get edited text (changed),
    and a shifted-id cohort appears (added). One full-outer join on
    uniform ids moving only (id, md5) pairs. The oracle restates the same
    derivation and join."""
    from wpextract_spark.operators.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionAll(
        docs.where(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return snapshot_diff(docs, new, id_col="doc_id")


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT doc_id, md5(text) AS old_fp FROM documents),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END)
           AS new_fp
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, md5(text) AS new_fp
  FROM documents WHERE doc_id % 11 = 0)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id, old_fp, new_fp,
       CASE WHEN old_fp IS NULL THEN 'added'
            WHEN new_fp IS NULL THEN 'removed'
            WHEN old_fp <> new_fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
"""


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL curation (operators/corpusfilters.py:url_filter):
    domain blocklist with subdomain coverage via the suffix-chain trick
    (exact set membership instead of an endswith join) + a weighted
    banned-word score over the lowercased URL. URLs are derived
    deterministically so some docs land on blocked (sub)domains and some
    carry scoring words; the oracle restates the suffix chain, the literal
    word weights, and the keep rule."""
    from wpextract_spark.operators.corpusfilters import url_filter

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("ads.")).otherwise(F.lit("www.")),
        F.col("source"),
        F.lit(".example.org"),
    )
    path = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("free-download/offer-"))
        .when(F.col("doc_id") % 11 == 0, F.lit("casino/room-"))
        .otherwise(F.lit("articles/post-"))
    )
    url = F.concat(F.lit("https://"), host, F.lit("/"), path, F.col("doc_id"))
    return url_filter(
        docs.select("doc_id", url.alias("url")),
        ["ads.src1.example.org", "src2.example.org"],
    )


ORACLE_URL_FILTER = """
WITH u AS (
  SELECT doc_id,
         'https://'
           || (CASE WHEN doc_id % 5 = 0 THEN 'ads.' ELSE 'www.' END)
           || source || '.example.org/'
           || (CASE WHEN doc_id % 7 = 0 THEN 'free-download/offer-'
                    WHEN doc_id % 11 = 0 THEN 'casino/room-'
                    ELSE 'articles/post-' END)
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
d AS (
  SELECT doc_id, url,
         lower(regexp_extract(url,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?(\\[[^\\]/?#]*\\]|[^/:?#]*)', 1))
           AS domain
  FROM u),
s AS (
  SELECT doc_id, url, domain,
         string_split(domain, '.') AS labels,
         CAST(round(
                 (CASE WHEN contains(lower(url), 'casino') THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN contains(lower(url), 'lottery') THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN contains(lower(url), '-pills-') THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN contains(lower(url), 'free-download') THEN 0.5 ELSE 0.0 END)
               + (CASE WHEN contains(lower(url), 'click-here') THEN 0.5 ELSE 0.0 END)
               + (CASE WHEN contains(lower(url), 'winner') THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN contains(lower(url), 'deal-of-the-day') THEN 0.25 ELSE 0.0 END)
           , 2) AS DOUBLE) AS url_score
  FROM d),
b AS (
  SELECT doc_id, url, domain, url_score,
         len(list_intersect(
           [array_to_string(labels[i+1:], '.') for i in range(len(labels))],
           ['ads.src1.example.org', 'src2.example.org'])) > 0 AS domain_blocked
  FROM s)
SELECT doc_id, url, domain, domain_blocked, url_score,
       (NOT domain_blocked AND url_score < 1.0) AS keep
FROM b
"""


#: The oracle restates the full canonicalization pipeline step by step —
#: fragment strip, prefix lowering, default-port drop, path/query split,
#: trailing slash, tracking-param filter + sort — not just the constructed
#: expectation, so the check covers the expressions, not the test data.
ORACLE_URL_DEDUP = r"""
WITH urls AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
           THEN 'https://Example.org/post/' || (doc_id // 2) || '/?id=' || (doc_id // 2) || '&utm_source=feed#top'
           ELSE 'https://example.org:443/post/' || (doc_id // 2) || '?id=' || (doc_id // 2)
         END AS url
  FROM documents),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u FROM urls),
s2 AS (
  SELECT doc_id, url, u,
         lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) AS prefix
  FROM s1),
s3 AS (
  SELECT doc_id, url,
         CASE WHEN starts_with(prefix, 'https://') AND ends_with(prefix, ':443')
                THEN prefix[1:length(prefix)-4]
              WHEN starts_with(prefix, 'http://') AND ends_with(prefix, ':80')
                THEN prefix[1:length(prefix)-3]
              ELSE prefix END AS prefix,
         u[length(prefix)+1:] AS rest
  FROM s2),
s4 AS (
  SELECT doc_id, url, prefix,
         CASE WHEN strpos(rest, '?') > 0 THEN rest[1:strpos(rest, '?')-1] ELSE rest END AS path,
         CASE WHEN strpos(rest, '?') > 0 THEN rest[strpos(rest, '?')+1:] ELSE '' END AS query
  FROM s3),
s5 AS (
  SELECT doc_id, url, prefix,
         CASE WHEN length(path) > 1 AND ends_with(path, '/')
              THEN path[1:length(path)-1] ELSE path END AS path,
         list_sort(list_filter(string_split(query, '&'),
           p -> p != '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$'))) AS params
  FROM s4),
c AS (
  SELECT doc_id, url,
         prefix || path ||
         CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END AS canon_url
  FROM s5)
SELECT doc_id, url, canon_url,
       doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS keep
FROM c
"""


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wpextract_spark.operators.corpusfilters import c4_line_filter

    return c4_line_filter(_t(spark, sf_dir, "documents"))


def _oracle_c4_filter() -> str:
    from wpextract_spark.operators.corpusfilters import (
        C4_MIN_KEPT_LINES,
        C4_MIN_WORDS_PER_LINE,
        C4_TERMINAL_RE,
    )

    return rf"""
WITH s AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)),
                     l -> regexp_matches(trim(l), '{C4_TERMINAL_RE}')
                          AND len(string_split_regex(trim(l), '{WS_SQL}'))
                              >= {C4_MIN_WORDS_PER_LINE}
                          AND NOT contains(lower(l), 'javascript')) AS kept
  FROM documents)
SELECT doc_id,
       coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
       len(string_split(text, chr(10))) AS n_lines,
       len(kept) AS n_kept,
       (NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{{')
        AND len(kept) >= {C4_MIN_KEPT_LINES}) AS keep
FROM s
"""


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wpextract_spark.operators.corpusfilters import source_cap

    return source_cap(_t(spark, sf_dir, "documents"), max_per_source=10)


ORACLE_SOURCE_CAP = """
SELECT doc_id, source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rank_in_source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 10 AS keep
FROM documents
"""


#: Benchmark text for q_decontaminate: a 19-token window starting at token 4
#: of every 50th document — overlapping 13-grams exist by construction, and
#: the same slice is restated verbatim in the oracle.
_DECONTAM_N = 13
_DECONTAM_SLICE_START = 4
_DECONTAM_SLICE_LEN = _DECONTAM_N + 6


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag corpus docs sharing any 13-gram with a
    benchmark synthesised from every 50th document's token window."""
    from wpextract_spark.operators.decontam import _tokens, ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 50 == 0).select(
        F.array_join(
            F.slice(_tokens("text"), _DECONTAM_SLICE_START, _DECONTAM_SLICE_LEN),
            " ",
        ).alias("text")
    )
    return ngram_decontaminate(docs, benchmark, n=_DECONTAM_N)


def _oracle_decontaminate() -> str:
    from wpextract_spark.operators.dedup import WS

    n, st = _DECONTAM_N, _DECONTAM_SLICE_START
    end = st + _DECONTAM_SLICE_LEN - 1
    return rf"""
WITH bdoc AS (
  SELECT array_to_string(list_slice(
           string_split_regex(trim(lower(text)), '{WS}'), {st}, {end}), ' ')
         AS btext
  FROM documents WHERE doc_id % 50 = 0),
bg AS (
  SELECT DISTINCT array_to_string(list_slice(ts, pos, pos + {n - 1}), ' ') AS gram
  FROM (SELECT string_split_regex(trim(lower(btext)), '{WS}') AS ts FROM bdoc),
       LATERAL unnest(generate_series(1, greatest(len(ts) - {n - 1}, 0))) AS g(pos)),
dg AS (
  SELECT doc_id, array_to_string(list_slice(ts, pos, pos + {n - 1}), ' ') AS gram
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '{WS}') AS ts
        FROM documents),
       LATERAL unnest(generate_series(1, greatest(len(ts) - {n - 1}, 0))) AS g(pos)),
hits AS (SELECT doc_id, count(*) AS n FROM dg JOIN bg USING (gram) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(hits.n, 0) AS n_contaminated_grams,
       coalesce(hits.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
"""


_SAMPLE_RATES = {"en": 0.5, "de": 0.3, "zh": 0.0}
_SAMPLE_DEFAULT = 0.1
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wpextract_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        strata_col="lang",
        rates=_SAMPLE_RATES,
        default_rate=_SAMPLE_DEFAULT,
    ).select("doc_id", "lang")


def _oracle_stratified_sample() -> str:
    from wpextract_spark.operators.sampling import _rate_to_hex

    cases = " ".join(
        f"WHEN '{s}' THEN '{_rate_to_hex(r)}'"
        for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
      < CASE lang {cases} ELSE '{_rate_to_hex(_SAMPLE_DEFAULT)}' END
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wpextract_spark.operators.sampling import hash_split

    return hash_split(
        _t(spark, sf_dir, "documents"), weights=_SPLIT_WEIGHTS
    ).select("doc_id", "split")


def _oracle_hash_split() -> str:
    from wpextract_spark.operators.sampling import _rate_to_hex

    labels = list(_SPLIT_WEIGHTS)
    cum, whens = 0.0, []
    for label in labels[:-1]:
        cum += _SPLIT_WEIGHTS[label]
        whens.append(f"WHEN key < '{_rate_to_hex(cum)}' THEN '{label}'")
    return f"""
SELECT doc_id, CASE {' '.join(whens)} ELSE '{labels[-1]}' END AS split
FROM (SELECT doc_id, substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS key
      FROM documents)
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent-ingest dedup: every 3rd document is 'already ingested';
    the bloom prefilter prunes, the anti-join exactifies."""
    from wpextract_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 3 == 0).select("text")
    return incremental_dedup(
        docs, seen, expected_seen=200, fpp=0.05
    ).select("doc_id")


ORACLE_INCREMENTAL_DEDUP = """
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents s
  WHERE s.doc_id % 3 = 0 AND md5(s.text) = md5(d.text))
"""


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus shape (exact percentiles — bit-identical to
    DuckDB's quantile_cont)."""
    from wpextract_spark.operators.textstats import corpus_profile

    return corpus_profile(_t(spark, sf_dir, "documents"), group_col="lang")


ORACLE_CORPUS_PROFILE = rf"""
WITH t AS (
  SELECT lang,
         CAST(len(string_split_regex(trim(text), '{WS_SQL}')) AS BIGINT) AS nt
  FROM documents)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       round(avg(nt), 6) AS mean_tokens,
       round(quantile_cont(nt, 0.5), 6) AS p50_tokens,
       round(quantile_cont(nt, 0.95), 6) AS p95_tokens,
       max(nt) AS max_tokens
FROM t GROUP BY lang
"""


QUERIES = {
    "q_salted_agg": q_salted_agg,
    "q_salted_join": q_salted_join,
    "q_token_stats": q_token_stats,
    "q_quality_scores": q_quality_scores,
    "q_fingerprints": q_fingerprints,
    "q_lang_id": q_lang_id,
    "q_pages_extract": q_pages_extract,
    "q_pdf_roundtrip": q_pdf_roundtrip,
    "q_main_content": q_main_content,
    "q_robots_filter": q_robots_filter,
    "q_redirect_chains": q_redirect_chains,
    "q_site_boilerplate": q_site_boilerplate,
    "q_incremental_extract": q_incremental_extract,
    "q_robots_directives": q_robots_directives,
    "q_warc_extract": q_warc_extract,
    "q_url_filter": q_url_filter,
    "q_snapshot_diff": q_snapshot_diff,
    "q_line_dedup": q_line_dedup,
    "q_pii_scrub": q_pii_scrub,
    "q_c4_filter": q_c4_filter,
    "q_source_cap": q_source_cap,
    "q_sequence_pack": q_sequence_pack,
    "q_url_dedup": q_url_dedup,
    "q_curation_pipeline": q_curation_pipeline,
    "q_decontaminate": q_decontaminate,
    "q_stratified_sample": q_stratified_sample,
    "q_hash_split": q_hash_split,
    "q_incremental_dedup": q_incremental_dedup,
    "q_pack_sequences": q_pack_sequences,
    "q_corpus_profile": q_corpus_profile,
    "q_classify_changes": q_classify_changes,
    "q_containment_dups": q_containment_dups,
    "q_repetition_stats": q_repetition_stats,
    "q_gopher_quality": q_gopher_quality,
    "q_dedup_clusters": q_dedup_clusters,
    "q_lang_id_ngram": q_lang_id_ngram,
    "q_extract_text_kernel": q_extract_text_kernel,
    "q_extract_link_spans": q_extract_link_spans,
    "q_extract_locale": q_extract_locale,
    "q_registry_last_wins": q_registry_last_wins,
    "q_crawl_first_wins": q_crawl_first_wins,
    "q_symmetrize_edges": q_symmetrize_edges,
    "q_resolution_broadcast": q_resolution_broadcast,
    "q_dedup_exact": q_dedup_exact,
    "q_minhash_signatures": q_minhash_signatures,
    "q_lsh_candidate_pairs": q_lsh_candidate_pairs,
    "q_dedup_pipeline": q_dedup_pipeline,
    "q_ngram_jaccard": q_ngram_jaccard,
}

ORACLES = {
    "q_extract_text_kernel": ORACLE_EXTRACT_TEXT,
    "q_extract_link_spans": ORACLE_LINK_SPANS,
    "q_extract_locale": ORACLE_LOCALE,
    "q_registry_last_wins": ORACLE_LAST_WINS,
    "q_crawl_first_wins": ORACLE_FIRST_WINS,
    "q_symmetrize_edges": ORACLE_SYMMETRIZE,
    "q_resolution_broadcast": ORACLE_RESOLUTION,
    "q_dedup_exact": ORACLE_DEDUP_EXACT,
    "q_minhash_signatures": ORACLE_MINHASH,
    "q_lsh_candidate_pairs": ORACLE_LSH_PAIRS,
    "q_dedup_pipeline": ORACLE_DEDUP_PIPELINE,
    "q_dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "q_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "q_salted_agg": ORACLE_SALTED_AGG,
    "q_salted_join": ORACLE_SALTED_JOIN,
    "q_token_stats": ORACLE_TOKEN_STATS,
    "q_quality_scores": _oracle_quality(),
    "q_fingerprints": ORACLE_FINGERPRINTS,
    "q_lang_id": _oracle_lang_id(),
    "q_lang_id_ngram": _oracle_lang_id_ngram(),
    "q_warc_extract": ORACLE_WARC_EXTRACT,
    "q_url_filter": ORACLE_URL_FILTER,
    "q_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "q_robots_filter": ORACLE_ROBOTS_FILTER,
    "q_redirect_chains": ORACLE_REDIRECT_CHAINS,
    "q_site_boilerplate": ORACLE_SITE_BOILERPLATE,
    "q_incremental_extract": ORACLE_INCREMENTAL_EXTRACT,
    "q_robots_directives": ORACLE_ROBOTS_DIRECTIVES,
    "q_classify_changes": ORACLE_CLASSIFY_CHANGES,
    "q_containment_dups": ORACLE_CONTAINMENT_DUPS,
    "q_pdf_roundtrip": ORACLE_PDF_ROUNDTRIP,
    "q_main_content": ORACLE_MAIN_CONTENT,
    "q_pages_extract": _oracle_pages_extract(),
    "q_repetition_stats": _oracle_repetition_stats(),
    "q_gopher_quality": _oracle_gopher_quality(),
    "q_line_dedup": ORACLE_LINE_DEDUP,
    "q_pii_scrub": _oracle_pii_scrub(),
    "q_c4_filter": _oracle_c4_filter(),
    "q_source_cap": ORACLE_SOURCE_CAP,
    "q_sequence_pack": _oracle_sequence_pack(),
    "q_url_dedup": ORACLE_URL_DEDUP,
    "q_curation_pipeline": _oracle_curation_pipeline(),
    "q_decontaminate": _oracle_decontaminate(),
    "q_stratified_sample": _oracle_stratified_sample(),
    "q_hash_split": _oracle_hash_split(),
    "q_incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "q_pack_sequences": _oracle_pack_sequences(),
    "q_corpus_profile": ORACLE_CORPUS_PROFILE,
}
