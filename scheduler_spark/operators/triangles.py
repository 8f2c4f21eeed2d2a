"""Degree-ordered triangle counting — the web-scale wedge join.

Triangle count is the KG clustering-coefficient primitive (the graph
QA companion to the 3-hop chain the reference pins,
/root/reference/userCode/defs_test.py:104-116).  The standard
distributed algorithm enumerates each triangle exactly once by
orienting every undirected edge along a total order and joining
wedges; the choice of order is the whole scale story:

- ordered by NODE ID, a celebrity node with degree D contributes up to
  C(D, 2) wedges — a single mega-entity (the mega-repo shape,
  FIXTURES.md F6) makes one join key quadratic.
- ordered by (DEGREE, id) — edges point from the lower-degree endpoint
  to the higher — every node's oriented out-degree is bounded by
  O(√m) on any graph (a node of degree d > √m can only point to
  nodes of degree ≥ d, and there are < 2m/d ≤ 2√m of those), so
  wedge volume is O(m^{3/2}) worst-case and hubs sit on the closing
  (probe) side of the join, never the wedge-generating side.

Both orientations are pure DataFrame equi-joins (shuffle on node ids,
never a cross product); the count is orientation-invariant, which the
kg_triangle_count oracle's id-ordered SQL and tests/test_triangles.py
(plain-Python counts) check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _oriented_by_degree(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list → edges oriented low→high along the
    (degree, id) total order, carrying the destination's order key.

    Output: (u, v, dv) with rank(u) < rank(v), one row per undirected
    edge; dv = degree of v (for wedge-side ordering downstream)."""
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .distinct()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    return (
        sym.join(du, "u")
        .join(dv, "v")
        .filter(F.struct("du", "u") < F.struct("dv", "v"))
        .select("u", "v", "dv")
    )


def triangle_count(
    edges: DataFrame, src: str = "src_entity", dst: str = "dst_entity"
) -> DataFrame:
    """One-row DataFrame (n_triangles BIGINT): degree-ordered wedge
    enumeration.  Wedges (u;v,w) are generated from each node's
    oriented out-neighborhood (bounded O(√m) by the orientation) and
    closed by an equi-join against the oriented edge (v,w)."""
    o = _oriented_by_degree(edges, src, dst)
    e1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("dv").alias("db"))
    e2 = o.select(F.col("u").alias("a"), F.col("v").alias("c"), F.col("dv").alias("dc"))
    wedges = e1.join(e2, "a").filter(F.struct("db", "b") < F.struct("dc", "c"))
    closing = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    return wedges.join(closing, ["b", "c"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def local_clustering_coefficient(
    edges: DataFrame, src: str = "src_entity", dst: str = "dst_entity"
) -> DataFrame:
    """Per-node clustering coefficient over the undirected simple
    graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0 when deg < 2.

    T(v) comes from the SAME degree-ordered wedge enumeration as
    :func:`triangle_count` — each closed triangle (a,b,c) is found
    exactly once and credited to all three corners (one explode of a
    3-element array, then a count per node), so the per-node pass
    inherits the O(m^{3/2}) wedge bound and hub safety of the global
    count; degrees are one groupBy over the symmetrized edge list.
    Output: (entity_id, degree BIGINT, n_triangles BIGINT,
    clustering DOUBLE) for every node of the graph — including nodes
    whose only incident edges are self-loops (degree 0 in the simple
    graph, clustering 0.0): the node universe is ALL edge endpoints,
    not just endpoints of non-self edges.
    """
    nodes = (
        edges.select(F.col(src).alias("entity_id"))
        .unionAll(edges.select(F.col(dst).alias("entity_id")))
        .distinct()
    )
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .distinct()
        .localCheckpoint()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    o = _oriented_by_degree(und, "a", "b")
    e1 = o.select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    e2 = o.select(F.col("u").alias("x"), F.col("v").alias("z"), F.col("dv").alias("dz"))
    wedges = e1.join(e2, "x").filter(F.struct("dy", "y") < F.struct("dz", "z"))
    closing = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri_nodes = (
        wedges.join(closing, ["y", "z"])
        .select(F.explode(F.array("x", "y", "z")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        nodes.join(deg, "entity_id", "left")
        .join(tri_nodes, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce(F.col("degree"), F.lit(0).cast("long")).alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
