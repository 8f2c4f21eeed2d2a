"""PageRank over the entity graph — importance ranking for KG consumers.

The reference ranks harvested entities only by degree (the release
rollups count features per source); a KG consumer ordering entities for
display/linking wants a link-structure score, so the engine adds damped
PageRank as a first-class iterative operator next to
``connected_components`` (same round loop: operators/rounds.py).

Semantics (classic Page et al. 1999, uniform teleport):

    rank'(v) = (1-d)/N + d * ( Σ_{u→v} rank(u)/outdeg(u)  +  D/N )

where ``D`` is the total rank mass sitting on dangling nodes (no
out-edges) this iteration — redistributed uniformly so Σ rank stays 1
(without it the score drifts toward the teleport floor and rank mass
leaks every round).

Scale notes:
- ranks/contribs are node- and edge-shaped DataFrames; every step is an
  equi-join + partial-aggregated groupBy — AQE-partitionable, no
  driver-side state except the two scalar aggregates (N, dangling mass).
- both variants share one iteration body (`_power_iterate`) on
  `rounds.iterate`.
- out-degrees are computed once before the loop and reused; at web
  scale this is the classic "join rank vector with static link matrix"
  shape, so a production deployment would bucket both sides on the
  node id to make every per-iteration join shuffle-free.
- dangling mass is ONE scalar aggregate per iteration (anti-join of the
  rank vector against out-degree keys), not a per-node broadcast.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounds import edge_list, iterate

DEFAULT_DAMPING = 0.85
DEFAULT_ITERATIONS = 10


def _power_iterate(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame,
    ranks: DataFrame,
    iterations: int,
    damping: float,
    teleport: Column,
    dangling_share: Callable[[float], Column],
) -> DataFrame:
    """The damped power iteration both variants run: every round,

        rank'(v) = teleport(v) + d·( Σ_{u→v} rank(u)/outdeg(u) + share_D(v) )

    over every row of `nodes` (which carries the columns `teleport`
    reads), where D is the rank mass on dangling nodes — ONE scalar
    aggregate per round — and `dangling_share(D)` spreads it back."""
    e = edge_list(edges, src, dst)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))

    def step(ranks: DataFrame) -> DataFrame:
        with_deg = ranks.join(deg, ranks["n"] == deg["u"], "left")
        dangling = with_deg.filter(F.col("u").isNull()).agg(F.sum("rank")).first()[0] or 0.0
        contribs = (
            e.join(ranks, e["u"] == ranks["n"])
            .join(deg, "u")
            .select(F.col("v").alias("n"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("n")
            .agg(F.sum("c").alias("contrib"))
        )
        return nodes.join(contribs, "n", "left").select(
            "n",
            (
                teleport
                + F.lit(damping)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dangling_share(dangling))
            ).alias("rank"),
        )

    ranks = iterate(step, ranks, iterations)
    return ranks.select(F.col("n").alias("entity_id"), "rank")


def pagerank(
    edges: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    iterations: int = DEFAULT_ITERATIONS,
    damping: float = DEFAULT_DAMPING,
) -> DataFrame:
    """Directed edge list → DataFrame(entity_id, rank).

    Every node appearing as src or dst gets a row; Σ rank = 1 (dangling
    mass redistributed uniformly).  Deterministic for a fixed edge set
    up to float summation order — callers that hash-compare results
    should round (the oracle gate rounds to 6 dp).
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # nodes derive from the RAW edge list so a node whose only edge is a
    # self-loop still gets a rank row (as a dangling node); only the
    # walk ignores self-loops
    nodes = (
        raw.select(F.col("u").alias("n"))
        .union(raw.select(F.col("v").alias("n")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty-input empty output, preserving the caller's id type
        return raw.select(
            F.col("u").alias("entity_id"), F.lit(0.0).alias("rank")
        ).limit(0)
    ranks = nodes.select("n", (F.lit(1.0) / n_nodes).alias("rank"))
    teleport = F.lit((1.0 - damping) / n_nodes)
    return _power_iterate(
        edges, src, dst, nodes, ranks, iterations, damping, teleport, lambda d: F.lit(d / n_nodes)
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    seed_col: str = "node",
    iterations: int = DEFAULT_ITERATIONS,
    damping: float = DEFAULT_DAMPING,
) -> DataFrame:
    """PageRank personalized to a seed set — "importance relative to
    THESE entities" (Page et al. 1999 §6; the standard KG relevance
    ranking for neighborhood retrieval around a query entity, the
    weighted generalization of the reference's pinned 3-hop chain,
    /root/reference/userCode/defs_test.py:104-116).

    The teleport vector is uniform over the seeds instead of all
    nodes, and dangling mass returns to the seeds, so Σ rank = 1 and
    rank concentrates around the seed neighborhood:

        rank'(v) = (1-d)·s(v) + d·( Σ_{u→v} rank(u)/outdeg(u) + D·s(v) )

    with s(v) = 1/|S| on seeds, else 0.  Same iteration body and scale
    shape as :func:`pagerank`; the only new state is the broadcastable
    seed indicator column.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sd = seeds.select(F.col(seed_col).alias("n")).distinct()
    nodes = (
        raw.select(F.col("u").alias("n"))
        .union(raw.select(F.col("v").alias("n")))
        .distinct()
    )
    n_seeds = sd.count()
    if n_seeds == 0:
        return raw.select(
            F.col("u").alias("entity_id"), F.lit(0.0).alias("rank")
        ).limit(0)
    # seed indicator as a column on the node table: teleport mass s(v)
    base = (
        nodes.join(sd.withColumn("is_seed", F.lit(True)), "n", "left")
        .select(
            "n",
            F.when(F.col("is_seed"), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("s"),
        )
        .localCheckpoint()
    )
    ranks = base.select("n", F.col("s").alias("rank"))
    teleport = F.lit(1.0 - damping) * F.col("s")
    return _power_iterate(
        edges, src, dst, base, ranks, iterations, damping, teleport, lambda d: F.lit(d) * F.col("s")
    )
