"""Degree-ordered triangle counting: exact counts on analytic graphs,
agreement with a plain-Python count (incl. a hub-skewed graph and the
oracle graph at sf0.01), and the equi-join plan pin."""

from __future__ import annotations

from pyspark.sql import functions as F

from scheduler_spark.operators.triangles import _oriented_by_degree, triangle_count


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_entity string, dst_entity string")


def _n(df):
    return df.first()["n_triangles"]


def _py_count(pairs):
    """Triangles of the undirected simple graph, counted in plain Python
    with the id-ordered rule u < v < w."""
    adj = {}
    for u, v in pairs:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    return sum(
        1 for u in adj for v in adj[u] if u < v for w in adj[u] & adj[v] if v < w
    )


def test_k4_has_four_triangles(spark):
    nodes = ["a", "b", "c", "d"]
    e = _edges(spark, [(u, v) for u in nodes for v in nodes if u < v])
    assert _n(triangle_count(e)) == 4


def test_path_and_self_loops_have_none(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "a")])
    assert _n(triangle_count(e)) == 0


def test_duplicate_and_reversed_edges_count_once(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("c", "a"), ("a", "b")],
    )
    assert _n(triangle_count(e)) == 1


def test_hub_graph_matches_id_ordered(spark):
    """Star hub h + a cycle among leaves: the shape where id-ordering
    piles C(D,2) wedges onto the hub.  Counts must agree."""
    leaves = [f"n{i:02d}" for i in range(12)]
    star = [("hub", leaf) for leaf in leaves]
    cycle = [(leaves[i], leaves[(i + 1) % len(leaves)]) for i in range(len(leaves))]
    e = _edges(spark, star + cycle)
    got = _n(triangle_count(e))
    assert got == _py_count(star + cycle) == len(leaves)


def test_orientation_bounds_hub_outdegree(spark):
    """Degree orientation must leave the hub with oriented out-degree 0
    (everything points AT the highest-degree node), so the hub never
    generates wedges."""
    leaves = [f"n{i:02d}" for i in range(8)]
    e = _edges(spark, [("hub", leaf) for leaf in leaves] + [("n00", "n01")])
    o = _oriented_by_degree(e, "src_entity", "dst_entity")
    assert o.filter(F.col("u") == "hub").count() == 0
    assert o.filter(F.col("v") == "hub").count() == len(leaves)


def test_matches_oracle_graph_at_sf001(spark):
    from scheduler_spark.queries import _order_graph_edges, all_queries

    sf = "/root/testdata/sf0.01"
    edges = _order_graph_edges(spark, sf, src="_u", dst="_v")
    pairs = [(r["_u"], r["_v"]) for r in edges.collect()]
    assert _n(triangle_count(edges, "_u", "_v")) == _py_count(pairs)
    plan = all_queries()["kg_triangle_count"](spark, sf)
    plan.collect()
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
