"""Iterative graph ranking over relations — engine-portable PageRank.

Web-corpus curation ranks domains/pages to prioritize crawl and weight
training data. This PageRank runs entirely in FIXED-POINT INTEGER
arithmetic (ranks scaled by 10^9, integer ``div`` everywhere): bigint
sums are exact and order-independent, so the result is bit-identical
across engines, partitionings, and reruns — no float-summation-order
hazard, and the DuckDB oracle replicates it with unrolled CTEs.

Physical shape per iteration: one equi-join (edges ⋈ ranks on src) + one
hash aggregate (inflow per dst) + one left join back to the node set —
all shuffles on the node key. The plan grows linearly with iterations
(each generation is referenced once); for deep iteration counts at
100 TB, localCheckpoint per generation the way ``dedup.
connected_components`` does (``dedup.py``; its convergence count is an
``Observation`` on that checkpoint job) — at the default 5 rounds the
linear plan is cheaper than materialization.

Simplified model (teleport + link mass; dangling mass dropped) — the
comparison semantics, not a numerics choice; documented so the oracle
matches by construction. PageRank per Page et al. 1999.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # rank fixed-point denominator


def pagerank_fp(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """(node, rank_fp) after ``iterations`` rounds; rank_fp is the rank
    scaled by 10^9, bigint. Edges are deduplicated; nodes = src ∪ dst.

    r_{t+1}(v) = (100-d)%·SCALE div (100·N)  +  d%·Σ_{u→v} (r_t(u) div deg(u)) div 100
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # N as a 1-row relation cross-joined in (no driver-side count action)
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"CAST({SCALE} AS BIGINT) div n").alias("rank_fp")
    )
    for _ in range(iterations):
        inflow = (
            e.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div d").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(inflow, "node", "left")
            .select(
                "node",
                (
                    F.expr(f"CAST({100 - damping_pct} AS BIGINT) * {SCALE} div (100 * n)")
                    + F.expr(
                        f"CAST({damping_pct} AS BIGINT) * coalesce(inflow, CAST(0 AS BIGINT)) div 100"
                    )
                ).alias("rank_fp"),
            )
        )
    return ranks


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_n: int = 20,
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph —
    ``(node, n_triangles)``, top ``top_n`` by count (ties by node).

    Algorithm: degree-ordered edge orientation (Schank 2007; the
    MapReduce formulation of Suri & Vassilvitskii, WWW 2011). Each
    undirected edge is oriented from the endpoint that is LOWER in the
    total order (degree, node) to the higher one; every triangle then
    has exactly one source vertex with out-edges to the other two, so
    one wedge join (r ⋈ r on the middle vertex) plus one closing
    equi-join counts each triangle exactly once — no de-dup by 6
    permutations, no counting a triangle 3×.

    Shape at 100 TB: the orientation bounds each vertex's out-degree by
    O(sqrt(m)) on graphs of bounded arboricity — the wedge join's
    fan-out is capped where a naive src-grouped join would explode on
    hubs. All three joins are equi-joins on node keys (never cartesian);
    degrees come from one partial-aggregated shuffle; AQE's skew split
    handles residual hot vertices. Counting is exact and integer-only,
    so the result is bit-identical across engines and partitionings.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))  # drops self-loops and NULLs
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    r = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    wedge = (
        r.alias("x")
        .join(r.alias("y"), F.col("x.v") == F.col("y.u"))
        .select(
            F.col("x.u").alias("u"),
            F.col("x.v").alias("v"),
            F.col("y.v").alias("w"),
        )
    )
    closing = r.select(F.col("u").alias("cu"), F.col("v").alias("cw"))
    tri = wedge.join(
        closing,
        (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")),
    ).select("u", "v", "w")
    per_node = (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node.orderBy(
        F.desc("n_triangles"), F.asc("node")
    ).limit(top_n)
