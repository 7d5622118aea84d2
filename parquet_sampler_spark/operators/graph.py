"""Iterative graph algorithms over edge relations: PageRank in integer
fixed-point arithmetic.

Floating-point PageRank cannot be hash-compared across engines (the
per-node inbound sum's addition order differs), so scores here are
integers at a fixed scale: each iteration floors ``pr/outdeg`` per
source once, sums exact integers per destination, and applies damping
as ``(d_pct · sum) // 100``. Every operation is order-independent
integer arithmetic — a DuckDB oracle unrolling the same iterations
reproduces the scores bit-for-bit (the same strategy as the unrolled
connected-components oracle in queries_ext).

Scale shape: each iteration is one (edges ⋈ ranks) shuffle keyed on the
edge source plus one destination-keyed aggregate — the standard
large-scale PageRank plan. Ranks are persisted per round and lineage is
truncated the same way duplicate_clusters does; iterations is a fixed
small constant (rank queries want a handful of sweeps, not
convergence-to-epsilon).

Dangling nodes (no out-edges) contribute nothing — their rank mass
leaks, which keeps the arithmetic exact; the conventional
redistribution term would need a global float division.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parquet_sampler_spark.plans.lineage import (
    truncate_lineage as _truncate_lineage,
)


def _idiv(a: Column, b: Column | int) -> Column:
    """Exact integer floor division for non-negative operands:
    (a - a mod b) is divisible by b, so the double quotient is an
    integer well under 2^53 and casts back exactly."""
    bl = F.lit(b) if isinstance(b, int) else b
    return ((a - F.pmod(a, bl)) / bl).cast("bigint")


def pagerank(
    edges: DataFrame,
    num_iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
    nodes: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Integer fixed-point PageRank.

    ``edges``: directed (src, dst) pairs — pass both directions for an
    undirected graph. ``nodes``: optional (id) relation defining the
    vertex set (defaults to every endpoint of ``edges``); extra nodes
    rank at the base value. Returns ``(id, pr)`` with ``pr`` at
    ``scale`` fixed-point (initial rank = scale).

    Each iteration truncates lineage (plans/lineage.py): by default via
    ``localCheckpoint()`` (executor-storage blocks — fast, but lost on
    executor death); pass ``checkpoint_dir`` (fault-tolerant path) on a
    real cluster so a lost executor costs a re-read, not the job.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    if num_iterations < 1:
        raise ValueError("num_iterations must be >= 1")
    from parquet_sampler_spark.plans.cache import (
        persist as _plan_persist,
        register,
        release,
    )

    # edges and the out-degree table are read by EVERY iteration's
    # contribution join; unpersisted, each of the num_iterations
    # sweeps re-derives both from the source relation (at 100 TB:
    # num_iterations extra scans of the edge table plus one degree
    # aggregate per sweep). Persist once — the standard iterative-
    # graph shape (guide §2.4 / §5: cache exactly the relations every
    # iteration re-reads). Registered in plans.cache, so
    # clear_caches() releases them.
    e = _plan_persist(edges.select(F.col("src"), F.col("dst")))
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("id"))
    deg = _plan_persist(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    )
    base = (100 - damping_pct) * scale // 100

    pr = nodes.select(
        "id", F.lit(scale).cast("bigint").alias("pr")
    ).persist()
    for _ in range(num_iterations):
        contrib = (
            e.join(pr, pr["id"] == e["src"])
            .join(deg, "src")
            .select(
                F.col("dst"), _idiv(F.col("pr"), F.col("__deg")).alias("__c")
            )
        )
        inbound = contrib.groupBy("dst").agg(F.sum("__c").alias("__s"))
        new_pr = (
            pr.join(inbound, pr["id"] == inbound["dst"], "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + _idiv(
                        F.lit(damping_pct)
                        * F.coalesce(F.col("__s"), F.lit(0).cast("bigint")),
                        100,
                    )
                ).alias("pr"),
            )
        )
        # the truncation materialized the new generation and cut its
        # lineage, so the previous one's blocks (a checkpointed RDD
        # after the first round) are read by nothing
        new_pr = _truncate_lineage(new_pr, checkpoint_dir)
        release(pr)
        pr = new_pr

    return register(pr)


def triangle_counts(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Per-node triangle counts over an undirected pair graph — the
    cliquishness signal of the duplicate graph: true re-crawl groups
    are near-CLIQUES (every copy pairs with every other → many
    triangles), while template drift forms CHAINS (a—b—c with a, c
    dissimilar → zero triangles). Connected components treat both the
    same; triangle counts separate them, which is what decides
    "keep one representative" vs "inspect the template family".

    ``pairs`` is the canonical edge list ``(id_a < id_b)`` (the shared
    duplicate graph). Triangles enumerate ORIENTED as a < b < c — each
    triangle exactly once — by two self-joins: (a,b) ⋈ (b,c) ⋈ (a,c).
    Every node of the triangle is credited once. Output:
    ``(id_col, triangles)`` over ALL nodes (0 for nodes without
    triangles, including nodes outside the graph entirely).

    Scale: the wedge join is Σ_v deg(v)² on the CANONICAL orientation
    (successor lists — strictly smaller than the symmetric Σdeg²);
    near-dup graphs are degree-bounded by construction after dedup's
    own capping conventions, and the edge list is Θ(near-dups), not
    Θ(docs²). The join keys are plain equi-joins — shuffle-partitioned,
    no broadcast needed beyond the edge list itself if small.
    """
    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    ab = e.alias("ab")
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("bc")
    ac = e.select(F.col("a").alias("a2"), F.col("b").alias("c2")).alias("ac")
    tri = (
        ab.join(bc, F.col("ab.b") == F.col("bc.b"))
        .join(ac, (F.col("ac.a2") == F.col("ab.a"))
              & (F.col("ac.c2") == F.col("bc.c")))
        .select(F.col("ab.a").alias("a"), F.col("ab.b").alias("b"),
                F.col("bc.c").alias("c"))
    )
    credit = (
        tri.selectExpr("a AS v")
        .unionAll(tri.selectExpr("b AS v"))
        .unionAll(tri.selectExpr("c AS v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
    )
    return (
        nodes.select(F.col(id_col))
        .join(credit, nodes[id_col] == credit["v"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__t"), F.lit(0)).cast("bigint")
            .alias("triangles"),
        )
    )
