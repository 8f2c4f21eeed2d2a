"""Hand-computed gates for the round-5 graph adds: personalized
PageRank (operators/pagerank.py), weighted SSSP (operators/sssp.py),
and per-node clustering coefficients (operators/triangles.py).
DuckDB parity lives in the oracle gate (ppr_seed_entities,
graph_sssp_costs, local_clustering_coeff)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from scheduler_spark.operators.pagerank import personalized_pagerank
from scheduler_spark.operators.sssp import weighted_sssp
from scheduler_spark.operators.triangles import local_clustering_coefficient


def _edges(spark, pairs, schema="src_entity long, dst_entity long"):
    return spark.createDataFrame(pairs, schema)


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "u long, v long, w long")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


# --------------------------------------------------------------- PPR

def test_ppr_mass_sums_to_one_and_concentrates_on_seed(spark):
    # star 1 -> {2,3,4}; seeding on 1 keeps all teleport mass at 1
    e = _edges(spark, [(1, 2), (1, 3), (1, 4)])
    out = {
        r["entity_id"]: r["rank"]
        for r in personalized_pagerank(e, _seeds(spark, [1]), iterations=3).collect()
    }
    assert math.isclose(sum(out.values()), 1.0, rel_tol=1e-9)
    assert out[1] > max(out[2], out[3], out[4])
    # leaves are symmetric
    assert math.isclose(out[2], out[3], rel_tol=1e-12)


def test_ppr_non_seed_without_inlinks_gets_zero(spark):
    # 5 -> 6 is disconnected from the seed; no teleport, no walk mass
    e = _edges(spark, [(1, 2), (5, 6)])
    out = {
        r["entity_id"]: r["rank"]
        for r in personalized_pagerank(e, _seeds(spark, [1]), iterations=2).collect()
    }
    assert out[5] == 0.0 and out[6] == 0.0
    assert out[1] > 0.0 and out[2] > 0.0


def test_ppr_dangling_mass_returns_to_seeds(spark):
    # 1 -> 2, 2 dangling: after one iteration, 2's mass teleports back
    # through the seed term, so rank(1) stays strictly positive forever
    e = _edges(spark, [(1, 2)])
    out = {
        r["entity_id"]: r["rank"]
        for r in personalized_pagerank(e, _seeds(spark, [1]), iterations=5).collect()
    }
    assert out[1] > 0.3
    assert math.isclose(sum(out.values()), 1.0, rel_tol=1e-9)


def test_ppr_empty_seeds_empty_output(spark):
    e = _edges(spark, [(1, 2)])
    assert personalized_pagerank(e, _seeds(spark, []), iterations=2).count() == 0


# --------------------------------------------------------------- SSSP

def test_sssp_prefers_cheap_two_hop_over_expensive_direct(spark):
    # 1->3 costs 10 direct, 1->2->3 costs 2+3=5: weighted answer differs
    # from the BFS hop answer, which is the point of the operator
    e = _wedges(spark, [(1, 3, 10), (1, 2, 2), (2, 3, 3)])
    out = {r["node"]: r["dist"] for r in weighted_sssp(e, _seeds(spark, [1])).collect()}
    assert out == {1: 0, 2: 2, 3: 5}


def test_sssp_min_over_seed_set(spark):
    # two seeds; node 3 takes the cheaper origin
    e = _wedges(spark, [(1, 3, 9), (2, 3, 1)])
    out = {r["node"]: r["dist"] for r in weighted_sssp(e, _seeds(spark, [1, 2])).collect()}
    assert out == {1: 0, 2: 0, 3: 1}


def test_sssp_parallel_edges_keep_cheapest_and_cycles_terminate(spark):
    e = _wedges(spark, [(1, 2, 7), (1, 2, 4), (2, 1, 1)])
    out = {r["node"]: r["dist"] for r in weighted_sssp(e, _seeds(spark, [1])).collect()}
    assert out == {1: 0, 2: 4}


def test_sssp_unreachable_nodes_absent(spark):
    e = _wedges(spark, [(1, 2, 1), (3, 4, 1)])
    out = {r["node"]: r["dist"] for r in weighted_sssp(e, _seeds(spark, [1])).collect()}
    assert out == {1: 0, 2: 1}


def test_sssp_negative_weight_raises(spark):
    e = _wedges(spark, [(1, 2, -1)])
    with pytest.raises(ValueError):
        weighted_sssp(e, _seeds(spark, [1]))


def test_sssp_raises_when_rounds_exhausted(spark):
    # a 5-hop chain cannot converge in 2 rounds; silent truncation
    # breaks the rounds.py budget rule
    e = _wedges(spark, [(i, i + 1, 1) for i in range(1, 6)])
    with pytest.raises(RuntimeError):
        weighted_sssp(e, _seeds(spark, [1]), max_rounds=2)


# --------------------------------------------- clustering coefficient

def test_clustering_triangle_with_tail(spark):
    # triangle {1,2,3} + tail 3-4: cc(1)=cc(2)=1.0, cc(3)=1/3, cc(4)=0
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    rows = {
        r["entity_id"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in local_clustering_coefficient(e).collect()
    }
    assert rows[1] == (2, 1, 1.0)
    assert rows[2] == (2, 1, 1.0)
    assert rows[3][0] == 3 and rows[3][1] == 1
    assert math.isclose(rows[3][2], 1 / 3, rel_tol=1e-12)
    assert rows[4] == (1, 0, 0.0)


def test_clustering_triangle_free_graph_all_zero(spark):
    # 4-cycle: every node degree 2, no triangles
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    rows = local_clustering_coefficient(e).collect()
    assert len(rows) == 4
    assert all(r["n_triangles"] == 0 and r["clustering"] == 0.0 for r in rows)


def test_clustering_ignores_direction_duplicates_selfloops(spark):
    # (1,2)+(2,1) one edge; (1,1) nothing — K3 stays cc=1 everywhere
    e = _edges(spark, [(1, 2), (2, 1), (1, 1), (2, 3), (3, 1)])
    rows = {r["entity_id"]: r["clustering"] for r in local_clustering_coefficient(e).collect()}
    assert rows == {1: 1.0, 2: 1.0, 3: 1.0}


def test_clustering_per_node_counts_sum_to_three_per_triangle(spark, sf_dir):
    # the gate graph: Σ per-node triangle credits = 3 × global count
    from scheduler_spark.queries import _tri_graph_edges
    from scheduler_spark.operators.triangles import triangle_count

    e = _tri_graph_edges(spark, sf_dir)
    total = triangle_count(e).collect()[0]["n_triangles"]
    per_node = local_clustering_coefficient(e).agg(
        F.sum("n_triangles").alias("s")
    ).collect()[0]["s"]
    assert per_node == 3 * total
