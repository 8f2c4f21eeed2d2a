"""k-truss decomposition — the edge-level analog of the k-core peel.

A k-truss (Cohen 2008, "Trusses: cohesive subgraphs for social network
analysis") is the maximal subgraph in which every EDGE participates in
at least k−2 triangles of that subgraph.  Where the k-core trims
low-degree NODES (operators/kcore.py), the truss trims weakly-embedded
EDGES — the standard next filter a KG audit applies after coreness,
because a high-degree node can still hang off the dense backbone by
triangle-free spokes (the reference's 3-hop neighborhood probe,
/root/reference/userCode/defs_test.py:104-116, has no way to tell the
two apart).

Iterative peel on `rounds.iterate`, same contract as kcore/closure:

- round r enumerates the surviving subgraph's triangles ONCE via the
  degree-ordered wedge join (operators/triangles.py — oriented
  out-degree bounded O(√m), hubs never generate quadratic wedge keys),
  credits each triangle to its three edges, and drops edges with
  support < k−2;
- repeat until a round drops no edge (fixpoint) or `max_rounds` is
  exhausted, in which case the operator RAISES rather than silently
  returning a superset (a silently truncated peel is worse than no
  peel).

Scale shape: per-round cost is the wedge volume O(m^{3/2}) worst-case
with map-side-combined per-edge rollups; the edge set shrinks
monotonically, and the fixpoint probe is one count per round, which
also materializes the round's checkpoint.  Bucketing
the edge table on the node id makes the wedge joins shuffle-free at
cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import iterate, unchanged
from .triangles import _oriented_by_degree

DEFAULT_MAX_ROUNDS = 50


def _edge_support(und: DataFrame) -> DataFrame:
    """Canonical (a<b) edge list → (a, b, support) for edges in ≥1
    triangle: one degree-ordered triangle enumeration, each triangle
    exploded to its three canonical edges."""
    o = _oriented_by_degree(und, "a", "b")
    e1 = o.select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    e2 = o.select(F.col("u").alias("x"), F.col("v").alias("z"), F.col("dv").alias("dz"))
    wedges = e1.join(e2, "x").filter(F.struct("dy", "y") < F.struct("dz", "z"))
    closing = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    pair = lambda p, q: F.struct(  # noqa: E731 — canonical edge of a triangle side
        F.least(p, q).alias("a"), F.greatest(p, q).alias("b")
    )
    return (
        tri.select(
            F.explode(
                F.array(pair("x", "y"), pair("x", "z"), pair("y", "z"))
            ).alias("e")
        )
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )


def ktruss(
    edges: DataFrame,
    k: int = 3,
    src: str = "src_entity",
    dst: str = "dst_entity",
    max_rounds: int = DEFAULT_MAX_ROUNDS,
) -> DataFrame:
    """Directed edge list → DataFrame(node_u, node_v, support): the
    canonical (u<v) edges of the k-truss, each with its triangle count
    within the truss.  Self-loops drop, edges de-duplicate after
    canonicalizing.  Raises RuntimeError if `max_rounds` peel rounds
    don't reach the fixpoint.
    """
    if k < 3:
        raise ValueError(f"k-truss requires k >= 3, got {k}")
    cur = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    kept = iterate(
        lambda kept: _edge_support(kept.select("a", "b")).filter(
            F.col("support") >= k - 2
        ),
        cur,
        max_rounds,
        until=unchanged(lambda kept: kept.count(), cur.count()),
        name="ktruss",
    )
    return kept.select(F.col("a").alias("node_u"), F.col("b").alias("node_v"), "support")
