"""Graph analytics over edge-list DataFrames.

Complements ``operators.dedup.connected_components`` (min-label BSP) with
rank propagation in the same bulk-synchronous shape: one shuffled
join+aggregate per superstep, lineage truncated per round, never a
driver-side collect of graph data.

The reference engine has no graph surface; this exists for the
training-data workloads the engine targets (e.g. scoring documents by
centrality inside near-duplicate clusters to pick the canonical copy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knime_core_columnar_spark.session import checkpoint


def pagerank_scaled(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER micro-units — bit-identical on
    any engine and any partitioning.

    Floating-point PageRank is not oracle-comparable: the per-node sum of
    double contributions depends on reduction order. This variant defines
    the recurrence over int64 so every engine computes the same value:

        rank_0(v)   = scale
        rank_k+1(v) = scale*(den-num) div den
                      + SUM over edges (u,v):  rank_k(u)*num div (outdeg(u)*den)

    (`div` = integer division; all quantities positive). With the default
    scale 1e6 the truncation error vs real PageRank is < 1e-5 per term —
    irrelevant for ranking, decisive for exactness.

    Scale shape: per superstep, only (dst, int64 contribution) pairs
    shuffle — never adjacency or payload. ``edges`` joined with out-degrees
    once and checkpointed so the per-iteration plan re-reads a
    materialized edge frame instead of recomputing the (possibly
    expensive: LSH candidates, verification joins) edge derivation each
    round; lineage is truncated per round like connected_components.
    Overflow bound: rank ≤ scale·|V|, times damping_num must fit int64 —
    fine to ~10^11 nodes at the default scale.

    Returns (node, rank) with rank in micro-units after ``iterations``
    supersteps. Nodes = all edge endpoints (a dangling node keeps paying
    its base term; dangling mass is dropped, the standard simplification).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    base = scale * (damping_den - damping_num) // damping_den

    # checkpoint the edge list once — the caller's edge derivation may be
    # an expensive subtree (LSH candidates + verification); nodes/outdeg/
    # adj below would otherwise each recompute it.
    sym = checkpoint(edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ))
    outdeg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    if symmetric:
        # with a SYMMETRIC edge list (every caller that undirects
        # pairs), every endpoint appears as a src, so the node set IS
        # the outdeg aggregation's key set — the union+distinct pass
        # (a second full-edge shuffle + its own materialization) is
        # redundant and dropped.
        outdeg = checkpoint(outdeg)
        nodes = outdeg.select(F.col("src").alias("node"))
    else:
        nodes = checkpoint(
            sym.select(F.col("src").alias("node"))
            .unionByName(sym.select(F.col("dst").alias("node")))
            .distinct()
        )
    adj = checkpoint(sym.join(outdeg, "src"))

    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iterations):
        contrib = (
            adj.join(ranks, adj["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr(
                    f"(rank * {damping_num}) div (outdeg * {damping_den})"
                ).alias("__c"),
            )
        )
        incoming = contrib.groupBy("dst").agg(F.sum("__c").alias("__in"))
        # with FIXED iterations there is no per-round probe (unlike
        # connected_components' convergence count): the checkpoint only
        # caps plan growth
        ranks = checkpoint(
            nodes.join(incoming, nodes["node"] == incoming["dst"], "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("__in"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
        )
    return ranks


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts of the UNDIRECTED simple graph induced by
    ``edges`` (direction ignored, self-loops and multi-edges dropped) —
    the local-clustering signal (cohesive co-purchase neighborhoods,
    template families in near-dup graphs).

    Compact-forward shape: every edge is oriented from its lower-degree
    endpoint to the higher (ties by id), which makes the wedge self-join
    — the only quadratic-risk step — O(m^1.5) total wedges instead of
    Σ deg² (a single celebrity node otherwise generates deg² wedges on
    its own: the classic skew killer). Wedges close into triangles via
    one join back against the oriented edge set; only (node, node) pairs
    ever shuffle. The triad set is orientation-invariant, so results are
    identical to the plain id-ordered 3-way join an oracle runs.

    Returns (node, n_triangles) for every node incident to an edge,
    zeros included.
    """
    # edge derivation may be expensive; used 4×
    e = checkpoint(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    rank_lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = checkpoint(
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(rank_lt, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(rank_lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    o1 = oriented.select(F.col("u"), F.col("v"))
    o2 = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    wedges = o1.join(o2, "v").select("u", "v", "w")
    closing = oriented.select(F.col("u"), F.col("v").alias("w"))
    triads = wedges.join(closing, ["u", "w"])
    per_node = (
        triads.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )
