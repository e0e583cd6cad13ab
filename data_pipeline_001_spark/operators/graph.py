"""Distributed graph analytics over relational co-occurrence graphs.

The reference pipeline has no graph surface; these extend the engine
with the graph primitives a training-data/feature pipeline needs
(co-occurrence graphs from transaction logs, influence scores,
community-ish structure metrics). Everything is DataFrame-native —
edges are plain (src, dst, weight) frames, algorithms are joins +
aggregations, so Catalyst/AQE handle distribution:

- ``copurchase_edges``: item co-occurrence within a transaction
  (order) — the canonical self-join edge builder. One shuffle on the
  transaction key; output is deduplicated undirected edges.
- ``triangle_stats``: degree-ordered orientation + one two-hop join
  with closure check. Orientation bounds the join to Sum(out_deg^2)
  with out-degree <= sqrt(2m) — the standard MapReduce/MPC trick
  (Suri & Vassilvitskii, WWW'11) that keeps triangle counting
  feasible when a hub node would otherwise explode the wedge join.
- ``pagerank``: fixed-iteration power method as repeated
  join+aggregate. Each iteration rounds scores to ``inter_round``
  decimals, which makes the result bit-stable across engines and
  partitionings (double-sum order differences are absorbed before
  they can compound) — the same determinism discipline the EWMA and
  jackknife queries use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def copurchase_edges(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Undirected co-occurrence edges (src < dst, weight = number of
    transactions containing both items).

    Self-join on the transaction key with ``item < item`` to emit each
    unordered pair once. Scale: the join is per-order (equi-join on
    the order key, never cross-order), so cost is Sum(items_per_order
    ^2) — bounded by basket size, linear in order count. Distinct
    (order, item) first so a quantity split across line rows doesn't
    double-count an edge."""
    items = lineitem.select(
        F.col(order_col).alias("ok"), F.col(item_col).alias("item")
    ).distinct()
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(
            F.col("a.item").alias("src"), F.col("b.item").alias("dst")
        )
        .agg(F.count("*").alias("weight"))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, degree) from undirected (src, dst) edges."""
    ends = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node"))
    )
    return ends.groupBy("node").agg(F.count("*").alias("degree"))


def triangle_stats(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """One-row frame: n_nodes, n_edges, n_triangles, n_wedges,
    global_clustering = 3*triangles / wedges (rounded 6).

    Degree-ordered orientation: direct each undirected edge from the
    (degree, id)-smaller endpoint to the larger. Every triangle has
    exactly one node with two out-edges under this total order, so
    counting (u->v, u->w, v->w) with v,w from u's out-list counts each
    triangle exactly once, and out-degrees are bounded by sqrt(2m),
    keeping the wedge join near-linear in m^1.5 worst case (far less
    on real degree distributions).

    ``materialize`` persists the edge list (MEMORY_AND_DISK) before
    the plan's four references to it (degrees ×2 via the union, the
    orientation join, the closure check): Spark's exchange reuse did
    NOT deduplicate the upstream edge BUILDER in practice — the
    physical plan carried 28 parquet scans and re-ran the per-order
    self-join + groupBy per reference, measured as ~4× the builder
    cost at sf1. Deriving the edge list once and reading it
    thereafter is also the honest 100 TB shape (edge lists are
    materialized artifacts, not re-derived per pass). Pass False when
    the caller already persisted the frame; the cache entry lives
    until the caller unpersists or the session ends."""
    if materialize:
        from data_pipeline_001_spark.operators._scoped import (
            bounded_intermediate,
        )

        edges = bounded_intermediate(edges)
    deg = degrees(edges)
    e = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("degree", "d_src")
        .join(
            deg.withColumnRenamed("node", "dst").withColumnRenamed(
                "degree", "d_dst"
            ),
            "dst",
        )
    )
    fwd = F.struct("d_src", "src") < F.struct("d_dst", "dst")
    # materialized unconditionally (``materialize`` only says whether
    # the CALLER already materialized ``edges``): oriented is
    # referenced twice below (adjacency build + probe side), and each
    # lazy re-derivation would re-run the degree aggregation (a full
    # union+groupBy over 2m rows) as well as the orientation joins.
    from data_pipeline_001_spark.operators._scoped import (
        bounded_intermediate,
    )

    oriented = bounded_intermediate(
        e.select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
        )
    )
    # Compact-forward intersection (round-11 rework; Latapy 2008 /
    # the "edge iterator" form of Suri-Vassilvitskii): n_triangles =
    # Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)|. Each triangle
    # {a,b,c} with a<b<c under the (degree,id) order is counted
    # exactly once — at edge (a,b), via common out-neighbor c (at
    # (a,c) and (b,c) the intersection is empty because c is the
    # sink). The former shape materialized every oriented wedge as a
    # ROW (Σ C(outdeg,2) rows ≈ 417M at sf1 for 12M edges) and pushed
    # them through an Exchange into a 417M-row closure join; here the
    # same Σ outdeg² information rides the v-side exchange as
    # contiguous long arrays on 12M edge rows and the quadratic work
    # happens inside array_intersect in the join stage — no wedge
    # rows, no closure join, one aggregation. Out-degree ≤ √(2m)
    # bounds every array (max 97 at sf1), so per-row memory is as
    # bounded as the old per-bucket join was.
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    tri = (
        oriented.join(
            adj.select(F.col("u"), F.col("nbrs").alias("nbrs_u")), "u"
        )
        .join(
            adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nbrs_v")),
            "v",
        )
        .select(F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("c"))
        .agg(
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("long")
            .alias("n_triangles")
        )
    )
    counts = edges.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(
                (F.col("degree") * (F.col("degree") - 1) / F.lit(2)).cast(
                    "long"
                )
            ).alias("n_wedges"),
        )
    )
    return counts.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.round(
            F.lit(3) * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("global_clustering"),
    )


def triangle_estimate(edges: DataFrame, keep_buckets: int = 64) -> DataFrame:
    """DOULION-style approximate triangle count (Tsourakakis, Kang &
    Faloutsos, KDD'09): sparsify edges with a coin of probability
    p = keep_buckets/256, count triangles EXACTLY on the sparsified
    graph (via ``triangle_stats``'s degree-ordered orientation), and
    scale by 1/p³ — the unbiased estimator. This is the 100 TB answer
    to the exact form's Θ(m^1.5) wedge join: the surviving join runs
    over p·m edges, ~p^1.5 of the exact cost, and p is the
    accuracy/cost dial.

    The coin is the engine's established deterministic-sampling trick
    (md5 prefix, see ``plans.queries_curation``): edge (src,dst) is
    kept iff the first md5 byte of "src_dst" lands in the first
    ``keep_buckets`` of 256 — identical in any engine, so the whole
    estimate is reproducible bit-for-bit and the exact pipeline over
    the same sparsified edges is its oracle twin. ``keep_buckets``
    must divide 256 so 1/p³ is an exact integer and ``est_triangles``
    stays a BIGINT (no float drift).

    One row: n_edges_full, n_edges_kept, sample_p, est_triangles."""
    if 256 % keep_buckets:
        raise ValueError("keep_buckets must divide 256 for an exact 1/p³")
    inv = 256 // keep_buckets
    hex_max = format(keep_buckets - 1, "02x")
    coin = F.substring(
        F.md5(F.concat_ws("_", F.col("src"), F.col("dst"))), 1, 2
    )
    # materialize the FULL edge list (not the kept subset): the
    # full-count branch and all four sparsified references then share
    # one build of the expensive co-occurrence self-join
    from data_pipeline_001_spark.operators._scoped import (
        bounded_intermediate,
    )

    edges = bounded_intermediate(edges)
    kept = edges.where(coin <= F.lit(hex_max))
    sparse = triangle_stats(kept, materialize=False)
    full = edges.agg(F.count("*").alias("n_edges_full"))
    return full.crossJoin(
        sparse.select(
            F.col("n_edges").alias("n_edges_kept"),
            (F.col("n_triangles") * F.lit(inv**3)).alias("est_triangles"),
        )
    ).select(
        "n_edges_full",
        "n_edges_kept",
        F.lit(keep_buckets / 256.0).alias("sample_p"),
        "est_triangles",
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    inter_round: int = 8,
    hub_chunk_cap: int = 100_000,
    # 2M, not 10M (round-12, ADVICE): each iteration collects the pr
    # table through the DRIVER to build the broadcast; on-wire bytes
    # are ~16/node but the driver-side JVM row/hash-relation overhead
    # is several x, and N iterations pay it N times — 10M nodes was a
    # driver-OOM cliff on default driver memory where the shuffle
    # join form ran fine. 2M nodes ≈ 32 MB on-wire, ~100-200 MB
    # driver-resident per build: comfortably inside a 1 GB driver.
    broadcast_nodes_max: int = 2_000_000,
) -> DataFrame:
    """(node, pr) after ``iterations`` synchronous power-method steps
    over the symmetrized edge set, uniform 1/n start, rounded to
    ``inter_round`` decimals per step for cross-engine/partitioning
    determinism. No dangling mass: every node of a co-occurrence
    graph has degree >= 1 in the symmetric direction set.

    Scale (round-8 rework): the graph is materialized ONCE as
    ADJACENCY LISTS — (src, deg, nbrs array) via localCheckpoint,
    the standard iterative-graph discipline (GraphX/MLlib do the
    same). Without a checkpoint every power step's lazy join
    re-derives the full co-occurrence lineage (44 redundant parquet
    scans in the static plan), and checkpointing the flat
    degree-annotated edge list instead costs 2× the adjacency form
    in block-write volume (one row per directed edge vs one per
    node). Each step then joins pr against the node-sized adjacency
    table (not the edge-sized flat table), explodes neighbors
    carrying pr/deg, and map-side-combines into the groupBy(dst)
    shuffle — the per-step shuffle is the only Θ(m) cost left.
    Measured isolated at sf1: 35.6 s (lazy re-derivation) → ~25 s
    (the hub-slice projection costs a few seconds of array copy —
    the price of bounded rows).

    Round-11 (guide §2.4/§3.1): the pr side — node-sized, two narrow
    columns — is broadcast when the node count (already computed for
    the rounding literal) is under ``broadcast_nodes_max``, removing
    the adjacency side from the per-step join exchange entirely
    (the checkpointed scan's unknown partitioning is irrelevant to a
    broadcast join): one Θ(m) exchange per step (the contrib
    groupBy) remains, the algorithmic floor for synchronous PR.
    Same-session interleaved best-of-3 at sf1: 14.4 → 7.8 s,
    identical top-20. Above the threshold (a near-gate graph's
    broadcast) the shuffle join form is kept — node count, not edge
    count, gates the trade. The adjacency stays ``localCheckpoint``
    rather than ``persist``: measured equivalent under broadcast
    (10.3 vs 10.1 s same-session), and a persisted relation lives in
    the CacheManager for the session's lifetime while checkpoint
    blocks are GC-cleaned — the round-11 sweep measured exactly that
    accumulation class (aged-session slowdowns on untouched queries).
    Construction was already action-bearing here (the node-count
    scalar), so the checkpoint adds no new purity class."""
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # hub guard: a node's neighbor list is degree-sized, and a single
    # row checkpointing (and re-exploding every iteration) a
    # 10^7-neighbor hub whole is the kind of row that breaks block
    # limits. Oversized lists are re-split into <=cap slices AFTER the
    # one aggregation — a projection over the node-sized table, so
    # ordinary graphs pay nothing (no degree pre-join: a measured
    # attempt to chunk via sym ⋈ degrees before the collect_list cost
    # +12 s at sf1). Each slice row carries the node's FULL degree,
    # so the pr/deg contribution arithmetic is unchanged — the hub's
    # mass just arrives via several rows. The transient pre-split
    # list lives once in the aggregation buffer (~80 MB at 10^7
    # neighbors — collect_list's array limit, not the checkpoint or
    # the per-iteration explode, is then the binding constraint;
    # beyond that scale the flat-edge formulation is the fallback).
    cap = hub_chunk_cap
    adj = (
        sym.groupBy("src")
        .agg(F.collect_list("dst").alias("all_nbrs"))
        .select(
            "src",
            F.size("all_nbrs").alias("deg"),
            F.explode(
                F.expr(
                    "transform(sequence(0, int(ceil(size(all_nbrs) /"
                    f" {cap}.0)) - 1),"
                    f" i -> slice(all_nbrs, i * {cap} + 1, {cap}))"
                )
            ).alias("nbrs"),
        )
        .localCheckpoint(eager=True)
    )
    # bounded scalar: the node count (needed as a literal so
    # per-iteration rounding is identical in both engines); a cheap
    # distinct over the checkpointed node-sized table (chunked hubs
    # contribute several rows but one node)
    nodes = adj.select("src").distinct()
    n = nodes.count()
    pr = nodes.select(
        "src", F.round(F.lit(1.0) / F.lit(n), inter_round).alias("pr")
    )
    for _ in range(iterations):
        contrib = (
            adj.join(F.broadcast(pr) if n <= broadcast_nodes_max else pr, "src")
            .select(
                F.explode("nbrs").alias("dst"),
                (F.col("pr") / F.col("deg")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        pr = contrib.select(
            F.col("dst").alias("src"),
            F.round(
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.col("mass"),
                inter_round,
            ).alias("pr"),
        )
    return pr.select(F.col("src").alias("node"), "pr")
