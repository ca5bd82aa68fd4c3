"""Graph clustering for dedup: connected components over near-dup pairs.

Pairwise near-duplicate detection (MinHash LSH / n-gram Jaccard / containment) emits
*edges*; an actual dedup pass needs *clusters* — the transitive closure of
"is a near-dup of" — plus one canonical survivor per cluster. This module
turns a pair DataFrame into a (node, cluster_id) assignment with the
alternating large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), the standard shuffle-based CC
construction:

* every round is two linear passes (a groupBy + an equi-join each) — no
  driver-side graph, no per-node messages held in memory;
* convergence in O(log^2 n) rounds on any graph and 2-3 rounds on the dense,
  low-diameter clusters near-dup edges actually form;
* the edge set shrinks monotonically toward disjoint stars, so late rounds
  shuffle far less than early ones;
* each round materializes via ``localCheckpoint`` to truncate lineage —
  without it the iterated plan doubles every round and the driver, not the
  data, becomes the bottleneck at 100 TB;
* the convergence test is a single scalar aggregate (count + hash-sum
  fingerprint), never a ``collect()`` of edges.

The reference engine has no graph stage (it dedups exact URLs only,
`src/wpextract/scrape/crawler.py`); this is part of the beyond-reference
training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _normalize_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list as (u < v) long pairs, self-loops dropped."""
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).where(F.col("a") != F.col("b"))
    return e.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """For each node x: connect every strictly-larger neighbor to
    min(N(x) ∪ {x}).  Output keeps the (u < v) normal form."""
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # m = min over neighbors and self; m <= x < larger-neighbor, so the
    # emitted (m, neighbor) pair is already in normal form.
    mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node x: connect every smaller-or-equal neighbor (and x) to
    the minimum of that set.  In (u < v) normal form the smaller neighbors
    of x are exactly the u-side of edges whose v == x."""
    mins = e.groupBy("v").agg(F.min("u").alias("m"))
    rewired = (
        e.join(mins, "v")
        .select(F.col("m").alias("u"), F.col("u").alias("v"))  # (m, smaller-neighbor)
        .union(mins.select(F.col("m").alias("u"), F.col("v").alias("v")))  # (m, x)
        .where(F.col("u") != F.col("v"))
    )
    return rewired.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()


def _fingerprint(e: DataFrame) -> tuple:
    """Order-independent edge-set fingerprint: one scalar aggregation job.

    Equality of (count, bit_xor(xxhash64(u, v))) across rounds is the
    fixpoint test — the iteration is deterministic, so an unchanged
    fingerprint means an unchanged (with overwhelming probability) edge set,
    and an unchanged edge set is a true fixpoint of small∘large. XOR (not
    sum) because the edge rows are distinct and a 64-bit sum overflows under
    ANSI mode.
    """
    row = e.agg(
        F.count("*").alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
    ).first()
    return (row["n"], row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, cluster_id) for every node in ``edges``; cluster_id is the
    smallest node id in the component (deterministic canonical label).

    Alternates large-star/small-star until the edge set is a fixpoint
    (disjoint min-rooted stars), checked by scalar fingerprint. ``max_rounds``
    is a safety bound far above the O(log^2 n) guarantee — 25 rounds covers
    graphs beyond 2^25 nodes per component chain.
    """
    # Lazy checkpoints: the fingerprint action right after is what
    # materializes them, so each round runs ONE Spark job (an eager
    # checkpoint would run its own job first and double the per-round
    # latency — pure driver overhead on a 3-6 round convergence).
    e = _normalize_edges(edges, src, dst).localCheckpoint(eager=False)
    fp = _fingerprint(e)
    for _ in range(max_rounds):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
        fp2 = _fingerprint(e2)
        e = e2
        if fp2 == fp:
            break
        fp = fp2
    # Converged stars: u is the component min, v its members.
    return (
        e.select(F.col("v").alias("node"), F.col("u").alias("cluster_id"))
        .union(e.select(F.col("u").alias("node"), F.col("u").alias("cluster_id")))
        .distinct()
    )


def near_dup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-document dedup verdict: (id, cluster_id, keep).

    Documents in no near-dup pair form singleton clusters (cluster_id = own
    id, keep = true); inside a cluster the smallest id survives. The
    components assignment is tiny relative to the corpus (only docs that hit
    a pair), so the join back to ``docs`` broadcasts it.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    assigned = cc.select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("_cc")
    )
    return docs.select(id_col).join(F.broadcast(assigned), id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("_cc"), F.col(id_col)).alias("cluster_id"),
        (F.col("_cc").isNull() | (F.col("_cc") == F.col(id_col))).alias("keep"),
    )
