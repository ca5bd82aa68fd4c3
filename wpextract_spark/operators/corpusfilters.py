"""Corpus-level training-data filters: repetition statistics, quality-rule
flags, cross-document line deduplication, and PII scrubbing.

These are the standard web-corpus curation passes applied between extraction
and training (the MassiveText/Gopher repetition + quality rules, the
C4 heuristics, CCNet's cross-document paragraph dedup). Everything here is
built-in JVM expressions (whole-stage codegen, oracle-expressible):

* per-document metrics are computed per-row with no shuffle;
* n-gram mode and corpus line counts use explode -> groupBy, which partial-
  aggregates map-side and shuffles keys that are either doc-local
  ((doc_id, gram) — cardinality bounded by document length, no hot keys) or
  corpus-wide but count-only (normalized line text — partial aggregation
  collapses each partition's duplicates before the shuffle);
* reassembly joins are keyed by doc_id (uniform) and eligible for AQE
  broadcast when the deduplicated side is small.

No pandas UDFs, no driver-side loops: each operator is a declarative plan
Catalyst can push filters into and AQE can re-plan at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wpextract_spark.functions.urls import url_host
from wpextract_spark.operators.dedup import WS, split_words

#: Tracking query parameters dropped by URL canonicalization-style filters
#: and the C4/Gopher rule constants below. Kept module-level so oracles can
#: restate the identical values.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1

#: PII patterns, applied in this order (emails first: their local parts would
#: otherwise partially match the phone digit runs). Spelled to behave
#: identically under Java regex (Spark) and RE2 (DuckDB oracle): no
#: backreferences, no lookaround, explicit character classes.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+?\d([ -]?\d){7,}"


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher/MassiveText repetition metrics per document.

    Output: ``(id, n_words, dup_word_frac, top{n}_gram_char_frac ...)``.
    ``dup_word_frac`` is the fraction of word occurrences that repeat an
    earlier word; ``top{n}_gram_char_frac`` is the fraction of the document's
    characters covered by occurrences of its most frequent word n-gram
    (``count * len(gram) / len(text)``), ties broken by the
    lexicographically greatest gram so both engines pick the same one.

    Scale: word stats are one per-row expression (no shuffle). The n-gram
    mode is ONE posexplode over all requested n (grams tagged ``"n:..."``)
    followed by two groupBys — (doc, gram) then doc — whose keys are
    doc-local, so partial aggregation bounds every shuffle write by the
    document count, not the gram count. The final join back to the per-row
    stats is doc_id-keyed (uniform, AQE-broadcastable).
    """
    words = split_words(text_col)
    base = docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        words.alias("ws"),
    ).select(
        id_col,
        "n_chars",
        "ws",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
    )

    # All n-grams for every requested n, tagged "n:gram" so one explode and
    # one aggregation tree serves every n. The lambda must be unary: transform
    # passes the element index to any second parameter, so a `n=n` default
    # would be silently overwritten with a Column.
    def _gram_at(n: int):
        return lambda i: F.concat(
            F.lit(f"{n}:"), F.concat_ws(" ", F.slice(F.col("ws"), i, n))
        )

    tagged = None
    for n in ns:
        grams_n = F.when(
            F.col("n_words") >= n,
            F.transform(
                F.sequence(F.lit(1), F.col("n_words") - (n - 1)), _gram_at(n)
            ),
        ).otherwise(F.array().cast("array<string>"))
        tagged = grams_n if tagged is None else F.concat(tagged, grams_n)

    ex = base.select(id_col, F.explode(tagged).alias("m"))
    counts = ex.groupBy(id_col, "m").agg(F.count("*").alias("c"))
    # Split on the FIRST ':' — a fixed 1-char prefix would mis-parse any
    # n >= 10 tag ('10:the quick' would read as n='1', gram='0:the quick').
    counts = counts.select(
        id_col,
        F.substring_index("m", ":", 1).alias("n"),
        F.expr("substring(m, instr(m, ':') + 1)").alias("gram"),
        "c",
    )
    top_aggs = [
        F.max(F.when(F.col("n") == str(n), F.struct("c", "gram"))).alias(f"top{n}")
        for n in ns
    ]
    top = counts.groupBy(id_col).agg(*top_aggs)

    out_cols = [
        F.col(id_col),
        F.col("n_words"),
        F.round(
            (F.col("n_words") - F.col("n_distinct"))
            / F.greatest(F.col("n_words"), F.lit(1)),
            6,
        ).alias("dup_word_frac"),
    ]
    for n in ns:
        frac = (
            F.col(f"top{n}.c") * F.length(F.col(f"top{n}.gram"))
        ) / F.greatest(F.col("n_chars"), F.lit(1))
        out_cols.append(
            F.round(F.coalesce(frac, F.lit(0.0)), 6).alias(f"top{n}_gram_char_frac")
        )
    return base.join(top, on=id_col, how="left").select(*out_cols)


def _gopher_metrics(text_col: str) -> dict[str, Column]:
    """The Gopher rule metrics as named column expressions (shared by the
    standalone flags operator and the fused curation pipeline, which embeds
    ``keep`` directly in its single-lineage flag projection)."""
    words = split_words(text_col)
    n_words = F.size(words)
    # sum(len(word)) == len(text) minus separator runs: one regexp pass.
    total_word_chars = F.length(
        F.regexp_replace(F.trim(F.col(text_col)), WS, "")
    )
    mean_len = total_word_chars / F.greatest(n_words, F.lit(1))
    alpha_frac = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ) / F.greatest(n_words, F.lit(1))
    n_symbols = F.size(F.split(F.col(text_col), "#", -1)) - 1 + (
        F.size(F.split(F.col(text_col), r"\.\.\.", -1)) - 1
    )
    symbol_ratio = n_symbols / F.greatest(n_words, F.lit(1))
    keep = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_len.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
    )
    return {
        "n_words": n_words,
        "mean_len": mean_len,
        "alpha_frac": alpha_frac,
        "symbol_ratio": symbol_ratio,
        "keep": keep,
    }


def gopher_keep_expr(text_col: str = "text") -> Column:
    """The Gopher ``keep`` verdict as a bare column expression."""
    return _gopher_metrics(text_col)["keep"]


def gopher_quality_flags(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-rule quality flags: ``(id, n_words, mean_word_len,
    alpha_word_frac, symbol_ratio, keep)``.

    ``keep`` is the conjunction of the published MassiveText rules this
    corpus can evaluate: word count in [50, 100k], mean word length in
    [3, 10], >=80% of words contain a letter, <10% symbol(#/ellipsis)-to-word
    ratio. Pure per-row JVM expressions — no shuffle, whole-stage codegen.
    """
    m = _gopher_metrics(text_col)
    return docs.select(
        F.col(id_col),
        m["n_words"].alias("n_words"),
        F.round(m["mean_len"], 6).alias("mean_word_len"),
        F.round(m["alpha_frac"], 6).alias("alpha_word_frac"),
        F.round(m["symbol_ratio"], 6).alias("symbol_ratio"),
        m["keep"].alias("keep"),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """CCNet-style cross-document line dedup: drop every line whose
    normalized form (lowercased, trimmed) appears ``min_count`` or more
    times across the WHOLE corpus; reassemble the survivors in original
    order. Output: ``(id, text_clean, n_lines, n_kept)``.

    Scale: the corpus-wide line count is a groupBy on the normalized line —
    partial aggregation collapses each partition's repeats before the
    shuffle, so boilerplate lines ("all rights reserved") cost one row per
    partition, not one per occurrence. The count table (one row per DISTINCT
    line) joins back 1:N against the exploded lines; reassembly groups by
    doc_id (uniform key). No window functions, no driver collect.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).withColumn("norm", F.lower(F.trim(F.col("line"))))
    counts = lines.groupBy("norm").agg(F.count("*").alias("cnt"))
    kept = (
        lines.join(counts, on="norm")
        .filter(F.col("cnt") < min_count)
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("text_clean"),
            F.count("*").alias("n_kept"),
        )
    )
    n_lines = F.size(F.split(F.col(text_col), "\n", -1))
    return (
        docs.select(F.col(id_col), n_lines.alias("n_lines"))
        .join(kept, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


#: C4 line/page rule constants (Raffel et al. 2020 §2.2), module-level so the
#: oracles restate identical values.
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3
C4_TERMINAL_RE = r'[.!?"]$'


def _c4_parts(text_col: str) -> dict[str, Column]:
    """The C4 rule pieces as named column expressions (shared by the
    standalone filter and the fused curation pipeline)."""
    lines = F.split(F.col(text_col), "\n", -1)
    trimmed = lambda l: F.trim(l)  # noqa: E731
    keep_line = lambda l: (  # noqa: E731
        trimmed(l).rlike(C4_TERMINAL_RE)
        & (F.size(F.split(trimmed(l), WS)) >= C4_MIN_WORDS_PER_LINE)
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    n_kept = F.size(kept)
    page_ok = (
        ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
        & (n_kept >= C4_MIN_KEPT_LINES)
    )
    return {"lines": lines, "kept": kept, "n_kept": n_kept, "page_ok": page_ok}


def c4_page_keep_expr(text_col: str = "text") -> Column:
    """The C4 page verdict as a bare column expression."""
    return _c4_parts(text_col)["page_ok"]


def c4_line_filter(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4 cleaning heuristics: keep only lines that end in terminal
    punctuation, have >= 5 words, and don't mention javascript; flag pages
    with "lorem ipsum" or '{' and those keeping < 3 lines. Output:
    ``(id, text_clean, n_lines, n_kept, keep)``.

    Every rule is a per-row array expression (split -> filter -> join) — no
    explode, no shuffle, one whole-stage-codegen pass over the corpus. This
    is the cheapest curation operator and the model for line rules at scale:
    anything expressible per-document should never leave the row.
    """
    p = _c4_parts(text_col)
    lines, kept, n_kept, page_ok = p["lines"], p["kept"], p["n_kept"], p["page_ok"]
    return docs.select(
        F.col(id_col),
        F.concat_ws("\n", kept).alias("text_clean"),
        F.size(lines).alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        page_ok.alias("keep"),
    )


def source_cap(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    max_per_source: int = 100,
) -> DataFrame:
    """Cap documents per source/domain (Common-Crawl-style anti-dominance
    rule): deterministic rank within each source by id, keep the first
    ``max_per_source``. Output: ``(id, source, rank_in_source, keep)``.

    Scale: one shuffle on the source key. row_number needs each source's rows
    on one partition — exactly the skew a mega-domain creates — so at corpus
    scale pair this with the salting in ``operators/skew.py``: pre-aggregate
    per-source counts two-stage, or rank by a quality score and approximate
    the cap with a per-salt quota. The exact window is the correctness
    baseline those approximations are judged against.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(id_col)
    return docs.select(
        F.col(id_col),
        F.col(source_col),
        F.row_number().over(w).cast("long").alias("rank_in_source"),
    ).withColumn("keep", F.col("rank_in_source") <= max_per_source)


def url_dedup(
    docs: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Canonical-URL dedup: ``(id, url, canon_url, keep)`` where keep marks
    the smallest id per canonical URL (first-crawled survivor policy).

    Canonicalization (:func:`wpextract_spark.functions.urls.canonicalize_url`)
    is a per-row expression; the only shuffle is the min-per-canonical-url
    window, keyed on the canonical string — uniform unless one URL truly
    dominates, in which case it's exactly the duplicate mass we're removing.
    """
    from pyspark.sql import Window

    from wpextract_spark.functions.urls import canonicalize_url

    canon = docs.select(
        F.col(id_col),
        F.col(url_col),
        canonicalize_url(url_col).alias("canon_url"),
    )
    w = Window.partitionBy("canon_url")
    return canon.withColumn("keep", F.col(id_col) == F.min(id_col).over(w))


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub emails, IPv4 addresses, and phone-like digit runs, in that
    order, replacing each with a typed token. Output:
    ``(id, text_scrubbed, n_emails, n_ips, n_phones)``.

    Counts are taken on the text AS EACH PATTERN SEES IT (sequential
    scrubbing): emails are counted/removed first so their digit runs can't
    double-count as phones. Pure per-row regexp expressions — no shuffle.
    """
    t0 = F.col(text_col)
    n_emails = F.regexp_count(t0, F.lit(PII_EMAIL))
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    n_ips = F.regexp_count(t1, F.lit(PII_IPV4))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n_phones = F.regexp_count(t2, F.lit(PII_PHONE))
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        t3.alias("text_scrubbed"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
    )


#: Default URL word-score list (RefinedWeb §3.1-style: weighted presence of
#: flagged substrings in the lowercased URL). Weights are per-hit; a page
#: is dropped when the summed score reaches URL_SCORE_THRESHOLD. The list
#: here is a small innocuous stand-in for the published adult/fraud lists —
#: module-level so oracles restate identical literals and deployments
#: substitute their own.
URL_BANNED_WORDS: tuple[tuple[str, float], ...] = (
    ("casino", 1.0),
    ("lottery", 1.0),
    ("-pills-", 1.0),
    ("free-download", 0.5),
    ("click-here", 0.5),
    ("winner", 0.25),
    ("deal-of-the-day", 0.25),
)
URL_SCORE_THRESHOLD = 1.0


def _domain_suffix_chain(domain: Column) -> Column:
    """All dot-suffixes of a domain (``a.b.c.org`` -> [a.b.c.org, b.c.org,
    c.org]): a row-local expression, bounded by label count, that turns
    subdomain blocking into EXACT set membership — the scale trick that
    avoids a non-equi (endswith) join against the blocklist."""
    labels = F.split(domain, r"\.", -1)
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(".", F.slice(labels, i, n)),
    )


def url_filter(
    docs: DataFrame,
    blocked_domains: "list[str] | DataFrame",
    banned_words: tuple[tuple[str, float], ...] = URL_BANNED_WORDS,
    threshold: float = URL_SCORE_THRESHOLD,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """URL-level curation filter (RefinedWeb §3.1: domain blocklist +
    URL word score). Output: ``(id, url, domain, domain_blocked,
    url_score, keep)`` with ``keep = NOT blocked AND score < threshold``.

    Blocking matches the domain OR any parent domain (subdomain coverage)
    via the suffix-chain trick (:func:`_domain_suffix_chain`). Two paths by
    blocklist size:

    * ``list`` (config-scale, the common case): membership is a plan-literal
      ``arrays_overlap`` — pure row-local expression, ZERO shuffles, fully
      SQL-restatable (the oracle path).
    * ``DataFrame`` (production 4.6M-domain lists): suffix explode ->
      broadcast LEFT SEMI join -> max-hit regroup on ``id`` — one broadcast
      plus one uniform id-keyed shuffle; the blocklist never shuffles.

    The word score is a literal expression fold over the lowercased URL —
    whole-stage codegen, no UDF.
    """
    url = F.col(url_col)
    lurl = F.lower(url)
    domain = url_host(url)
    score = None
    for word, weight in banned_words:
        term = F.when(lurl.contains(word), F.lit(weight)).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    base = docs.select(
        F.col(id_col),
        url,
        domain.alias("domain"),
        _domain_suffix_chain(domain).alias("_sfx"),
        F.round(score, 2).alias("url_score"),
    )

    if isinstance(blocked_domains, DataFrame):
        bl = blocked_domains.toDF("bdomain")
        hits = (
            base.select(F.col(id_col), F.explode("_sfx").alias("sfx"))
            .join(F.broadcast(bl), F.col("sfx") == F.col("bdomain"), "leftsemi")
            .select(F.col(id_col).alias("_hit_id"))
            .distinct()
        )
        flagged = base.join(
            hits, base[id_col] == hits["_hit_id"], "left"
        ).withColumn("domain_blocked", F.col("_hit_id").isNotNull())
    else:
        blocked_lit = F.array(*[F.lit(d) for d in blocked_domains])
        flagged = base.withColumn(
            "domain_blocked", F.arrays_overlap(F.col("_sfx"), blocked_lit)
        )

    return flagged.select(
        F.col(id_col),
        url_col,
        "domain",
        "domain_blocked",
        "url_score",
        (~F.col("domain_blocked") & (F.col("url_score") < threshold)).alias("keep"),
    )
