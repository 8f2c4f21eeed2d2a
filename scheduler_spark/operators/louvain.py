"""Louvain phase-1 local moving — modularity-gain community assignment.

Label propagation (operators/lpa.py) follows the majority; Louvain
(Blondel et al. 2008, J. Stat. Mech. P10008 §2) follows the modularity
GAIN: node u moves to the neighbor community C maximizing

    ΔQ(u→C) ∝ k_{u,C} / m  −  k_u · Σ_{C∖u} / (2 m²)

with k_{u,C} the number of u's edges into C, k_u its degree, Σ_C the
degree sum over C's members, and m the undirected edge count.  Staying
put is always a candidate (C = u's own community, with u's own degree
excluded from Σ), so a node moves only when some neighbor community
strictly beats its current one; exact ties break toward the smaller
community id — fully deterministic, partition-order-independent.

This is the synchronous ("parallel local moving", Staudt & Meyerhofer
2016) variant: every node evaluates against the PREVIOUS round's
assignment and all moves apply at once — the only variant whose result
is well-defined without a node visiting order, hence the only one an
independent SQL twin can replicate.  A fixed round count is the
contract (synchronous moving can two-cycle on symmetric graphs, so
fixpoint detection is not meaningful here the way it is for LPA).

Every score is a pure scalar IEEE expression of BIGINTs (two
divisions of integer products, one subtract, identical operation order
in both engines), so cross-engine argmax agreement is exact — the
modularity.py discipline.

Scale shape per round: one edge ⨝ label join (shuffle on the node id),
one (node, community) rollup with map-side combine, one community
degree rollup, a per-node window argmax — all linear in |E|; the 2m
total is a 1-row broadcast scalar.  The rounds run on `rounds.iterate`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rounds import edge_list, iterate


def louvain_local_moving(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src_entity",
    dst: str = "dst_entity",
) -> DataFrame:
    """Directed edge list → DataFrame(entity_id, community) after
    `rounds` synchronous gain-argmax move rounds from singletons.
    Self-loops drop and edges de-duplicate after symmetrizing; the node
    universe is the endpoints of the surviving edges.
    """
    e = edge_list(edges, src, dst, symmetric=True)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("ku"))
    m2 = e.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    lab = deg.select(F.col("u").alias("n"), F.col("u").alias("c"))
    lab = iterate(lambda lab: _move_round(e, deg, m2, lab), lab, rounds)
    return lab.select(F.col("n").alias("entity_id"), F.col("c").alias("community"))


def _move_round(
    e: DataFrame, deg: DataFrame, m2: DataFrame, lab: DataFrame
) -> DataFrame:
    """One synchronous move round: previous labels → new labels."""
    lv = lab.select(F.col("n").alias("v"), F.col("c").alias("cv"))
    # k_{u,C}: u's edge count into each neighbor community
    nbr = (
        e.join(lv, "v")
        .groupBy("u", F.col("cv").alias("cand"))
        .agg(F.count(F.lit(1)).cast("long").alias("kuc"))
    )
    # Σ_C: community degree totals under the previous assignment
    sigma = (
        lab.join(deg.select(F.col("u").alias("n"), "ku"), "n")
        .groupBy(F.col("c").alias("cand"))
        .agg(F.sum("ku").cast("long").alias("sig"))
    )
    own = lab.select(F.col("n").alias("u"), F.col("c").alias("own"))
    # candidate set = neighbor communities ∪ the node's own community
    # (kuc = 0 when u has no intra-community edge)
    cands = (
        nbr.unionByName(
            own.select("u", F.col("own").alias("cand"), F.lit(0).cast("long").alias("kuc"))
        )
        .groupBy("u", "cand")
        .agg(F.max("kuc").alias("kuc"))
    )
    scored = (
        cands.join(own, "u")
        .join(deg, "u")
        .join(sigma, "cand")
        .crossJoin(F.broadcast(m2))
        .withColumn(
            "adj_sig",
            F.col("sig")
            - F.when(F.col("cand") == F.col("own"), F.col("ku")).otherwise(F.lit(0)),
        )
        .withColumn(
            "score",
            (F.lit(2) * F.col("kuc")) / F.col("m2")
            - (F.lit(2) * F.col("ku") * F.col("adj_sig"))
            / (F.col("m2") * F.col("m2")),
        )
    )
    w = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("cand"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("u").alias("n"), F.col("cand").alias("c"))
    )
