"""Physical-plan regression guards: the scale-critical plan shapes must not
silently degrade (shuffle-free resolution, column pruning, UDF deduplication,
no cartesian products from salting)."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_resolution_is_one_narrow_probe(spark):
    from wpextract_spark.operators.registry import build_registry, registry_contribution
    from wpextract_spark.operators.resolve import resolve_span_array
    from wpextract_spark.operators.extract import RESOLVABLE_LINK_TYPE
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    schema = StructType(
        [StructField("_ord", LongType()), StructField("links", ArrayType(RESOLVABLE_LINK_TYPE))]
    )
    df = spark.createDataFrame(
        [(1, [{"text": "t", "href": "https://s.org/a/", "destination": None}])], schema
    )
    reg = build_registry(
        [registry_contribution(
            spark.createDataFrame([(7, "https://s.org/a/", 0)], "id long, link string, _ord long"),
            "link", "post", stage=1,
        )]
    )
    plan = _plan(resolve_span_array(df, "links", reg))
    # The registry is probed as a broadcast map inside one Arrow UDF: the
    # span table is never exploded, joined or shuffled.
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_entry_scan_prunes_columns(spark):
    import __spark_entry__ as e

    plan = _plan(e.entry(spark))
    # documents.parquet has more columns; the scan must read only these three
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    assert "doc_id" in read[0] and "text" in read[0] and "lang" in read[0]
    assert "embedding" not in read[0]


def test_struct_udf_referenced_many_evaluated_once(spark):
    from wpextract_spark.operators.extract import content_extract_udf

    df = spark.createDataFrame([("<p>x</p>", "https://a/")], "html string, url string")
    res = content_extract_udf()(F.col("html"), F.col("url"))
    out = df.select(
        res["text"].alias("a"),
        F.size(res["links_internal"]).alias("b"),
        F.size(res["links_external"]).alias("c"),
        F.size(res["images"]).alias("d"),
        F.size(res["embeds"]).alias("e"),
    )
    plan = _plan(out)
    assert plan.count("ArrowEvalPython") == 1, plan


def test_salted_join_no_cartesian(spark):
    from wpextract_spark.operators.skew import salted_join

    left = spark.range(100).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    right = spark.range(10).select((F.col("id") % 5).alias("k"), F.col("id").alias("w"))
    plan = _plan(salted_join(left, right, ["k"], buckets=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_caps_applied_before_self_join(spark):
    """The mega-bucket window filter must sit BELOW the self-join in the
    SimHash near-dup operator — capping after the join would defeat the guard."""
    from wpextract_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    plan = _plan(simhash_near_dup_pairs(docs))
    join_pos = plan.find("Join")
    win_pos = plan.find("Window")
    assert join_pos >= 0 and win_pos >= 0
    assert win_pos > join_pos, "window (cap) should be under the join in the plan tree"


def test_registry_outputs_driver_hashable_types(spark):
    """The driver's correctness canonicalizer pandas-sorts result columns and
    hashes values: array/struct/map columns crash it (round-2
    q_inverted_index) and decimal/int128 hash differently across engines
    (round-1 q_salted_join, round-2 q_sessionize). No registry query may
    emit them."""
    from wpextract_spark.plans.queries import QUERIES

    banned = {"array", "struct", "map", "decimal"}
    offenders = []
    for name, fn in QUERIES.items():
        schema = fn(spark, "/root/testdata/sf0.001").schema
        for field in schema.fields:
            root = field.dataType.typeName()
            if root in banned or root.startswith("decimal"):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, offenders


def test_textstats_queries_are_codegen_only(spark):
    """Token/quality/fingerprint/BPE stats must stay whole-stage-codegen JVM
    expressions — no Python workers (BatchEvalPython/ArrowEvalPython) in the
    plan."""
    from wpextract_spark.plans.queries import (
        q_bpe_tokens,
        q_fingerprints,
        q_quality_scores,
        q_token_stats,
    )

    for fn in (q_token_stats, q_quality_scores, q_fingerprints, q_bpe_tokens):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        assert "EvalPython" not in plan, f"{fn.__name__} fell back to Python:\n{plan}"


def test_bm25_four_exchanges_single_token_lineage(spark):
    """BM25's pinned plan (PLANS.md): per-term document frequencies come
    from a WINDOW over the tf table — one scan->explode lineage — never a
    second explode; corpus totals are a 1-row SinglePartition aggregate.
    Exactly 4 computational shuffles: (doc,term) tf agg, the token window,
    the per-doc sum, the totals single-partition — anything more means the
    df computation regressed to a second corpus lineage."""
    from wpextract_spark.plans.queries import q_bm25

    df = q_bm25(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange" in l
        and "Broadcast" not in l
        and "Reused" not in l
        and "RoundRobin" not in l  # input-loader repartitions, not operator shuffles
    ]
    assert len(exchanges) == 4, exchanges
    keyed = [l for l in exchanges if "hashpartitioning" in l]
    assert len(keyed) == 3 and sum("SinglePartition" in l for l in exchanges) == 1
    # the explode feeding tf must appear exactly once (single token lineage)
    assert plan.count("Generate explode") == 1, plan


def test_collocations_scans_corpus_twice(spark):
    """PMI totals and unigram-join sides must read the persisted count
    tables, not re-execute the scan->explode lineage: after execution the
    outer plan contains no parquet scan at all (both real corpus passes
    happen inside the two cached relations)."""
    import re

    from wpextract_spark.plans.queries import q_collocations

    df = q_collocations(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    outer, skip = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-*("))
        if skip is not None:
            if indent > skip:
                continue
            skip = None
        if "InMemoryRelation" in line or "== Initial Plan ==" in line:
            skip = indent
            continue
        outer.append(line)
    outer_txt = "\n".join(outer)
    assert not re.search(r"FileScan parquet", outer_txt)
    # exactly the two cached count tables feed everything downstream
    assert outer_txt.count("InMemoryTableScan") >= 4


def test_redirect_loop_lineage_is_truncated(spark):
    """Pointer doubling's scale-critical property: per-round lazy
    checkpoints cut the lineage, so the FINAL plan contains only the
    terminal-verdict join over a checkpointed RDD — not a chain of N
    doubling joins growing with the round count."""
    from wpextract_spark.operators.redirects import resolve_redirects

    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i + 1}") for i in range(9)], ["src", "dst"]
    )
    out = resolve_redirects(edges)  # chains up to 9: several live rounds
    plan = _plan(out)
    # the loop result enters as a scanned checkpoint, not re-derived joins
    assert "ExistingRDD" in plan, plan
    # only the final verdict join (+ its AQE wrapper) may remain
    assert plan.count("Join") <= 2, plan
    assert {r.src: r.final_url for r in out.collect()}["u0"] == "u9"


def test_incremental_extract_diff_computed_once(spark):
    """The shuffle-census outlier (PLANS.md r4: 13 shuffles) pinned after
    the fix: the snapshot diff is lazy-checkpointed inside
    incremental_update, so the final plan reads the diff as one
    materialized RDD — the full-outer SortMergeJoin (and its pair of hash
    exchanges) must not appear per consumer, and the only joins left are
    the two broadcast url-subset joins (stale re-extract + carried)."""
    from wpextract_spark.plans.queries import q_incremental_extract

    df = q_incremental_extract(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    computational = [
        l
        for l in plan.splitlines()
        if "Exchange" in l
        and "Broadcast" not in l
        and "Reused" not in l
        and "RoundRobin" not in l  # input-loader repartitions
    ]
    assert computational == [], computational
    assert plan.count("BroadcastHashJoin") == 2, plan
    # diff enters as a scanned checkpoint, not re-derived joins
    assert "ExistingRDD" in plan, plan


def _plan_tree(plan: str) -> list[tuple[str, int | None]]:
    """(operator line, parent index) per node of a physical-plan string,
    from the tree-drawing indentation of ``treeString``."""
    nodes: list[tuple[str, int | None]] = []
    stack: list[tuple[int, int]] = []  # (indent, node index)
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        if not body or body.startswith("AdaptiveSparkPlan"):
            continue
        indent = len(line) - len(body)
        while stack and stack[-1][0] >= indent:
            stack.pop()
        nodes.append((body, stack[-1][1] if stack else None))
        stack.append((indent, len(nodes) - 1))
    return nodes


def _lineage(nodes, i: int) -> list[int]:
    """Node ``i`` and its ancestors, bottom-up."""
    out = [i]
    while (i := nodes[i][1]) is not None:
        out.append(i)
    return out


def _subtree(nodes, root: int) -> list[int]:
    return [i for i in range(len(nodes)) if root in _lineage(nodes, i)]


def test_incremental_kernel_runs_once_above_stale_join(spark):
    """The kernel's quarantine filter must not drag a copy of the UDF
    under the stale-subset join onto the raw new-crawl scan: the fresh
    branch evaluates the kernel exactly once, above the join, so only the
    stale pages are parsed."""
    from wpextract_spark.plans.incremental import extract_pages, incremental_update

    run1 = spark.createDataFrame(
        [(f"u{i}", f"<p>body {i}</p>") for i in range(1, 7)], "url string, html string"
    )
    run2 = spark.createDataFrame(
        [("u2", "<p>body 2 EDITED</p>"), ("u3", "<p>body 3</p>"), ("u7", "<p>7</p>")],
        "url string, html string",
    )
    corpus, _ = incremental_update(extract_pages(run1), run2)
    nodes = _plan_tree(_plan(corpus))
    union = next(i for i, (op, _) in enumerate(nodes) if op.startswith("Union"))
    fresh_root = next(i for i, (_, parent) in enumerate(nodes) if parent == union)
    fresh = _subtree(nodes, fresh_root)

    evals = [i for i in fresh if nodes[i][0].startswith("ArrowEvalPython")]
    assert len(evals) == 1, nodes
    below = [nodes[i][0] for i in _subtree(nodes, evals[0])]
    assert any("Join" in op for op in below), nodes
    # no filter on kernel output sits below the join (on the raw scan)
    for i in fresh:
        if nodes[i][0].startswith("Filter") and "pythonUDF" in nodes[i][0]:
            above = _lineage(nodes, i)[1:]
            assert not any("Join" in nodes[a][0] for a in above), nodes
    # previous corpus (carried branch) parses run 1 once too
    assert sum(op.startswith("ArrowEvalPython") for op, _ in nodes) == 2, nodes


def test_corpus_build_docs_parse_each_page_once(spark):
    from wpextract_spark.plans.corpus_build import extract_docs

    pages = spark.createDataFrame(
        [("https://a/1", 1, "en", "<p>one</p>"), ("https://a/2", 2, "de", "<p>zwei</p>")],
        "url string, warc_ts long, lang string, html string",
    )
    plan = _plan(extract_docs(pages))
    assert plan.count("ArrowEvalPython") == 1, plan
