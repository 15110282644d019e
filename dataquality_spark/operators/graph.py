"""Duplicate-cluster resolution: near-dup PAIRS → connected components
→ one canonical document per cluster.

The pair generators (dedup.minhash_lsh_pairs / simhash_pairs /
embedding_neardup_pairs) emit edges; a training-data pipeline then has
to pick ONE survivor per duplicate *cluster* — and near-dup similarity
is not transitive (A~B ≥ t and B~C ≥ t does not imply A~C ≥ t), so
clusters are the connected components of the pair graph, not the pairs
themselves. Semantic ancestor: the reference's uniqueness dimension
(/root/reference/DataQuality_AI_CaseStudy.md:144-147) stops at
duplicate COUNTS; this closes the loop to a drop decision.

Scale design (the point at 10^12 docs):

* Alternating large-star / small-star (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14): converges in
  O(log^2 n) rounds on any graph — for near-dup graphs (small, dense
  clusters) it is 2-4 rounds in practice. Plain min-label propagation
  needs O(diameter) rounds and dies on chain-shaped clusters.
* Every round shuffles only (long, long) edge pairs — never text, never
  signatures. Edge count is bounded by the verified pair count, which
  LSH banding + hot-bucket capping already bounds upstream.
* Each round ends in `localCheckpoint(eager=True)`: the iterative plan
  is truncated so round k+1's lineage does not replay rounds 1..k (the
  standard Spark iterative-algorithm requirement; GraphFrames does the
  same internally).
* Convergence is detected with a (count, bit_xor-of-xxhash64) fingerprint
  aggregate on the checkpointed edges — one cheap job per round.
* Small graphs skip the loop: when the checkpointed edge set has at most
  `config.COMPONENTS_DRIVER_MAX_EDGES` edges, they are collected and
  resolved by a union-find on the driver, and the (node, component) map
  comes back as a broadcast-hinted local frame. Each round of the loop
  costs several Spark jobs of fixed overhead, which dominates on the
  few-hundred-edge graphs LSH verification emits per 10^3 docs. The
  driver never holds more than cap + 1 edges (budget stated beside the
  cap); above it, edges never leave the executors.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config as C


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set canonicalized to (u > v), self-loops dropped,
    deduplicated."""
    return (edges
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}) — (v, m) for v in N(u), v > u."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", F.col("u")).alias("m")))
    return (sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v")))


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over its smaller-or-equal neighborhood: attach
    every neighbor (and u itself) to the minimum — (v, m) for
    v in N(u) ∪ {u}, v != m, where edges are canonicalized u > v."""
    e = _canon(edges)
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    return (e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v"))))


def _union_find(edges) -> pd.DataFrame:
    """(node, component = min node id of its component) for every node
    of an edge list, by union-find with path compression. Linking the
    larger root under the smaller keeps every root its set's minimum."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return pd.DataFrame({"node": list(parent),
                         "component": [find(x) for x in parent]},
                        dtype="int64")


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """(node, component) for every node appearing in `pairs`, where
    component = the minimum node id reachable from it.

    `pairs` is an undirected edge list (duplicates / self-loops / either
    orientation all fine). Up to `config.COMPONENTS_DRIVER_MAX_EDGES`
    distinct edges, a driver-side union-find resolves them and the
    result is a broadcast-hinted local frame. Above it, alternates
    large-star and small-star until the canonical edge-set fingerprint
    is stable; at the fixed point the edges form a star forest
    (node → component root).
    """
    spark = pairs.sparkSession
    edges = _canon(pairs.select(F.col(src).cast("long").alias("u"),
                                F.col(dst).cast("long").alias("v")))
    # Materialize the input graph ONCE: the pair generator feeding this
    # is typically the expensive part of the plan, and without the
    # checkpoint both the bounded collect and round 1 of the loop would
    # recompute it from scratch.
    edges = edges.localCheckpoint(eager=True)
    cap = C.COMPONENTS_DRIVER_MAX_EDGES
    small = edges.take(cap + 1)
    if not small:
        return spark.createDataFrame([], "node bigint, component bigint")
    if len(small) <= cap:
        return F.broadcast(spark.createDataFrame(
            _union_find(small), "node bigint, component bigint"))

    prev_fp = None
    for _ in range(max_iter):
        # Checkpoint BETWEEN the phases too: small-star consumes its
        # input twice (the edge set and its per-node minima), so an
        # unmaterialized large-star subtree would be recomputed ~3×
        # per round (verified via .explain — the large-star join
        # appeared three times in the round plan).
        big = _large_star(edges).localCheckpoint(eager=True)
        edges = _canon(_small_star(big))
        edges = edges.localCheckpoint(eager=True)
        fp = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h")).first()
        fp = (fp["n"], fp["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"large-star/small-star rounds")

    # Star forest: every non-root points at its root; roots appear only
    # on the right. min() guards the (converged-by-fingerprint) set.
    child = edges.groupBy("u").agg(F.min("v").alias("component")) \
                 .select(F.col("u").alias("node"), "component")
    roots = (edges.select(F.col("v").alias("node"))
             .subtract(edges.select(F.col("u").alias("node")))
             .withColumn("component", F.col("node")))
    return child.unionByName(roots)


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iterations: int = 4, damping_num: int = 85,
             damping_den: int = 100, scale: int = 1_000_000) -> DataFrame:
    """Fixed-iteration PageRank over a (host) link graph on an exact
    integer lattice — the link-centrality signal RefinedWeb/CCNet-style
    curation uses to weight hosts (a quality prior that needs no model),
    fed by `operators/html.extract_links` edge lists.

    Math (mass-per-node convention, all integer):
        r0(v) = scale
        r_{k+1}(v) = base + (damping_num * S_k(v)) div damping_den
        S_k(v)     = Σ_{u→v} ( r_k(u) div outdeg(u) )
    with base = (scale * (damping_den - damping_num)) div damping_den.
    Integer division AFTER exact integer sums makes every iteration
    partition-order-free, so a SQL twin (the unrolled CTE chain in the
    `host_pagerank` oracle) reproduces ranks bit-for-bit — no float
    drift, no tolerance. rank/scale ≈ classical PageRank × n_nodes.

    Semantics: multi-edges collapse (distinct), self-loops kept, NULL
    endpoints dropped. Dangling nodes (outdeg 0) leak their mass
    rather than redistributing it — redistribution needs one extra
    global scalar per round; left out deliberately and documented, as
    the per-host RANKING (what curation consumes) is unaffected for
    the dominant connected crawl graph.

    Scale design at 10^12 docs / 10^8 hosts: the graph is edges only —
    (string, string) pairs, never text. Per iteration: one join of the
    slim rank table against the persisted edges-with-outdeg relation
    (both keyed on u — AQE co-partitions; at host cardinality the rank
    side is broadcastable) and one map-side-combined groupBy(v) sum.
    Each round ends in localCheckpoint(eager=True), truncating lineage
    so round k+1 never replays rounds 1..k (same requirement as
    connected_components above). Overflow: damping_num * S fits BIGINT
    while total mass n_nodes·scale < 2^63/damping_num ≈ 10^17 — at
    larger n·scale, lower `scale` or lift the sums to DECIMAL(38,0).
    """
    base = (scale * (damping_den - damping_num)) // damping_den
    e = (edges.select(F.col(src).cast("string").alias("u"),
                      F.col(dst).cast("string").alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull())
         .distinct())
    e = e.localCheckpoint(eager=True)
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("_outdeg"))
    ew = e.join(outdeg, "u").localCheckpoint(eager=True)
    nodes = (e.select(F.col("u").alias("node"))
             .union(e.select(F.col("v").alias("node")))
             .distinct().localCheckpoint(eager=True))
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iterations):
        contrib = (ew.join(ranks, ew["u"] == ranks["node"])
                   .select(F.col("v"),
                           F.expr("rank div _outdeg").alias("_c")))
        sums = contrib.groupBy("v").agg(F.sum("_c").alias("_s"))
        ranks = (nodes.join(sums, nodes["node"] == sums["v"], "left")
                 .select("node",
                         (F.lit(base)
                          + F.expr(f"({damping_num} * coalesce(_s, 0L))"
                                   f" div {damping_den}")
                          ).cast("long").alias("rank")))
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def resolve_duplicates(df: DataFrame, pairs: DataFrame, id_col: str,
                       src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Annotate `df` with its duplicate cluster and the keep decision:
    `component` (cluster id = min doc id in the cluster), `is_dup`
    (True for every cluster member except the canonical minimum), and
    `dup_of` (the canonical id, NULL for survivors).

    Rows absent from `pairs` are their own singleton cluster. The join
    key is the id column only — at 10^12 docs the component map has one
    row per *clustered* node (pair-graph nodes, typically a few percent
    of the corpus). Below the driver-side edge cap the map is a
    broadcast-hinted local frame; above it AQE broadcasts it once its
    size is known. Either way document text never crosses an exchange;
    `df.filter(~is_dup)` is the deduped corpus.
    """
    comp = connected_components(pairs, src, dst) \
        .withColumnRenamed("node", id_col)
    return (df.join(comp, id_col, "left")
            .withColumn("component",
                        F.coalesce("component", F.col(id_col).cast("long")))
            .withColumn("is_dup", F.col("component") != F.col(id_col))
            .withColumn("dup_of",
                        F.when(F.col("is_dup"), F.col("component"))))
