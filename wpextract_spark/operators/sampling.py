"""Deterministic hash-based sampling and dataset splitting.

Training-data pipelines need sampling that is (a) reproducible across reruns
and engines, (b) stable under repartitioning, and (c) a pure per-row filter
with no shuffle. Spark's ``df.sample`` / ``stat.sampleBy`` fail (a) and (b):
they draw from a partition-seeded RNG, so adding an executor changes which
rows survive. These operators instead key every decision off
``md5(salt ':' id)`` — the same expression evaluates identically in Spark,
DuckDB, and Python, so the oracle can restate the exact decision rule and a
resumed/rescaled job keeps the same sample.

Scale notes: both operators are narrow (filter / projection only — no
shuffle, no UDF, whole-stage codegen), so they compose for free with any
downstream plan and survive arbitrary input partitioning. The per-stratum
rate table is compiled into a literal CASE expression: strata tables at
training-corpus scale (languages, source buckets) are tiny by definition, so
they belong in the plan, not in a join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Number of leading md5 hex chars the decision key keeps. 8 nibbles = 32
#: bits: rate granularity of 2^-32 — far below any sampling-noise floor.
_KEY_LEN = 8


def _rate_to_hex(rate: float) -> str:
    """Inclusive upper bound (exclusive compare) for ``rate`` as an 8-char
    lowercase hex string; ``'g'`` sorts above every hex digit and acts as
    the always-keep sentinel for rate >= 1."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return ""
    return format(int(rate * 16**_KEY_LEN), f"0{_KEY_LEN}x")


def sample_key(id_col: str = "doc_id", salt: str = "sample") -> Column:
    """The 32-bit decision key: first 8 hex chars of ``md5(salt ':' id)``.

    Lowercase fixed-width hex, so lexicographic order == numeric order and
    the same comparison works on strings in every engine.
    """
    return F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        1,
        _KEY_LEN,
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "lang",
    rates: dict[str, float] | None = None,
    default_rate: float = 0.1,
    salt: str = "sample",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample.

    A row is kept iff its :func:`sample_key` is lexicographically below the
    hex threshold of its stratum's rate — P(keep) == rate to within 2^-32,
    independently per row, reproducible across engines and partitionings.
    Counterpart of the reference-style "cap by source" policies
    (``corpusfilters.source_cap``) when a *proportional* rather than absolute
    cut is wanted.
    """
    rates = rates or {}
    threshold: Column = F.lit(_rate_to_hex(default_rate))
    for stratum, rate in sorted(rates.items()):
        threshold = (
            F.when(F.col(strata_col) == stratum, F.lit(_rate_to_hex(rate)))
            .otherwise(threshold)
        )
    return docs.where(sample_key(id_col, salt) < threshold)


def hash_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "split",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every row a deterministic train/val/test-style split label.

    ``weights`` maps label -> fraction (need not sum to 1; the remainder
    goes to the last label). Splits are disjoint contiguous hash ranges in
    declaration order, so a label's membership only changes if an *earlier*
    label's fraction changes — growing the tail label never reshuffles the
    head ones (the property that keeps eval sets frozen as the corpus is
    re-cut). Adds a ``split`` column; no rows are dropped.
    """
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not weights:
        raise ValueError("weights must contain at least one label")
    key = sample_key(id_col, salt)
    labels = list(weights)
    expr: Column | None = None
    cum = 0.0
    cases = []
    for label in labels[:-1]:
        cum += weights[label]
        cases.append((F.lit(_rate_to_hex(cum)), label))
    expr = F.lit(labels[-1])
    for bound, label in reversed(cases):
        expr = F.when(key < bound, F.lit(label)).otherwise(expr)
    return docs.withColumn("split", expr)


def source_mix(
    docs: DataFrame,
    budgets: dict[str, int],
    default_budget: int | None = None,
    salt: str = "mix",
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget corpus mixing (the FineWeb/DoReMi-style source-balancing
    pass): per source, keep a deterministic Bernoulli subsample whose
    expected word mass equals that source's ``budgets`` entry.

    The per-source keep rate is ``min(1, budget / total_words)``, realized
    through the same md5-threshold rule as :func:`stratified_sample` — but
    the threshold is computed in EXACT integer arithmetic
    (``budget * 2^32 // total``, arbitrary-precision in Python, HUGEINT in
    the SQL oracle), so both engines compare against bit-identical hex
    strings and no float rounding can flip a row near the boundary.

    Scale shape: one word-count shuffle (groupBy source, map-side partial
    agg) whose result — sources are config-scale by definition — collects
    as k rows and compiles into a literal CASE threshold, exactly the
    :func:`stratified_sample` convention. The selection itself is then a
    pure per-row filter: no join, no second shuffle, whole-stage codegen.
    Sources missing from ``budgets`` use ``default_budget`` (None = keep
    all). Output keeps every row with ``(n_words, rate_key, selected)`` so
    callers can audit the cut before applying it.
    """
    from wpextract_spark.operators.dedup import split_words

    n_words = F.size(split_words(text_col))
    base = docs.select(
        F.col(id_col), F.col(source_col), n_words.alias("n_words")
    )
    totals = {
        r["source"]: int(r["total"])
        for r in base.groupBy(source_col)
        .agg(F.sum("n_words").alias("total"))
        .collect()
    }

    def _hex_threshold(budget: int | None, total: int) -> str:
        if budget is None or budget >= total:
            return "g"  # the always-keep sentinel (sorts above every hex digit)
        if budget <= 0:
            return ""
        return format(budget * 16**_KEY_LEN // total, f"0{_KEY_LEN}x")

    threshold: Column = F.lit("")
    for source, total in sorted(totals.items()):
        budget = budgets.get(source, default_budget)
        threshold = F.when(
            F.col(source_col) == source, F.lit(_hex_threshold(budget, total))
        ).otherwise(threshold)
    key = sample_key(id_col, salt)
    return base.select(
        F.col(id_col),
        F.col(source_col),
        F.col("n_words").cast("int").alias("n_words"),
        threshold.alias("rate_key"),
        (key < threshold).alias("selected"),
    )
