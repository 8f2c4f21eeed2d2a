"""Hand-computed gates for the round-4 graph adds: k-core peeling
(operators/kcore.py) and HITS hubs/authorities (operators/hits.py).
DuckDB parity lives in the oracle gate — kg_kcore_2core's unrolled-peel
twin and kg_hits_scores' closed-form CTE twin (tools/oracle_check.py)."""

from __future__ import annotations

from scheduler_spark.operators.hits import hits
from scheduler_spark.operators.kcore import kcore


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_entity long, dst_entity long")


def test_kcore_peels_tail_in_rounds(spark):
    # triangle {1,2,3} with a 2-hop tail 3-4-5: the tail peels over TWO
    # rounds (5 drops first, exposing 4) — pins the iterative fixpoint,
    # not a single degree filter
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    out = {r["node_id"]: r["core_degree"] for r in kcore(e, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_empty_core_returns_no_rows(spark):
    # a path graph has no 2-core; the loop must filter the edge frame
    # before breaking so no stale edges leak into the result
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert kcore(e, k=2).count() == 0


def test_kcore_ignores_selfloops_and_duplicates(spark):
    # degree counts DISTINCT neighbors: (1,2)+(2,1)+(1,2) is one edge,
    # (1,1) contributes nothing
    e = _edges(spark, [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3), (1, 3)])
    out = {r["node_id"]: r["core_degree"] for r in kcore(e, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_raises_when_rounds_exhausted(spark):
    # a 9-node path peels two endpoints per round (4 rounds to empty);
    # capping max_rounds below that must raise, never return the
    # partially peeled superset (the rounds.py budget rule)
    import pytest

    e = _edges(spark, [(i, i + 1) for i in range(1, 9)])
    with pytest.raises(RuntimeError, match="did not converge within"):
        kcore(e, k=2, max_rounds=2)
    # with enough rounds the same graph converges to the empty 2-core
    assert kcore(e, k=2, max_rounds=12).count() == 0


def test_kcore_k3_on_k4_minus_edge(spark):
    # K4 missing one edge: nodes 1,2 have degree 3 but 3,4 have degree
    # 2, so the 3-core is empty; the 2-core is the whole graph
    e = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)])
    assert kcore(e, k=3).count() == 0
    assert kcore(e, k=2).count() == 4


def test_hits_star_fixpoint(spark):
    # 10→1←20: node 1 is the sole authority, 10/20 split hub mass
    e = _edges(spark, [(10, 1), (20, 1)])
    rows = {r["entity_id"]: r for r in hits(e, iterations=3).collect()}
    assert abs(rows[1]["auth_score"] - 1.0) < 1e-12
    assert abs(rows[1]["hub_score"]) < 1e-12
    for n in (10, 20):
        assert abs(rows[n]["hub_score"] - 0.5) < 1e-12
        assert abs(rows[n]["auth_score"]) < 1e-12


def test_hits_chain_two_iterations(spark):
    # 1→2→3 by hand: iter1 auth (2: .5, 3: .5), hub (1: .5, 2: .5);
    # iter2 reproduces the same vectors — a fixpoint the loop must hold
    e = _edges(spark, [(1, 2), (2, 3)])
    rows = {r["entity_id"]: r for r in hits(e, iterations=2).collect()}
    assert abs(rows[1]["hub_score"] - 0.5) < 1e-12
    assert abs(rows[2]["hub_score"] - 0.5) < 1e-12
    assert abs(rows[3]["hub_score"]) < 1e-12
    assert abs(rows[2]["auth_score"] - 0.5) < 1e-12
    assert abs(rows[3]["auth_score"] - 0.5) < 1e-12
    assert abs(rows[1]["auth_score"]) < 1e-12


def test_hits_selfloop_only_node_gets_zero_scores(spark):
    # a node whose only edge is a self-loop still appears (it is an
    # endpoint) but never receives mass
    e = _edges(spark, [(1, 2), (2, 1), (7, 7)])
    rows = {r["entity_id"]: r for r in hits(e, iterations=2).collect()}
    assert set(rows) == {1, 2, 7}
    assert rows[7]["hub_score"] == 0.0 and rows[7]["auth_score"] == 0.0
    assert abs(rows[1]["hub_score"] - 0.5) < 1e-12


def test_deterministic_walks_hand_computed(spark):
    from scheduler_spark.operators.walks import deterministic_walks

    # ranked neighbors: 1→{2:idx0, 3:idx1} deg2; 2→{3:idx0} deg1; 3 sink
    # walk(1) step1: (1·31 + 1·7 + 1) % 2 = 1 → node 3, then stops (sink)
    # walk(2) step1: (2·31 + 2·7 + 1) % 1 = 0 → node 3, then stops
    e = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    rows = {
        (r["start_node"], r["step"], r["node"])
        for r in deterministic_walks(e, length=3).collect()
    }
    assert rows == {(1, 0, 1), (2, 0, 2), (1, 1, 3), (2, 1, 3)}


def test_deterministic_walks_follow_chain_full_length(spark):
    from scheduler_spark.operators.walks import deterministic_walks

    # a chain is degree-1 everywhere: every alive walk must advance one
    # hop per step until the sink, never skip or fork
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    rows = {
        (r["start_node"], r["step"], r["node"])
        for r in deterministic_walks(e, length=2).collect()
    }
    assert {(1, 0, 1), (1, 1, 2), (1, 2, 3)} <= rows
    assert {(3, 0, 3), (3, 1, 4)} <= rows
    assert (3, 2, 4) not in rows  # sink reached, walk stopped


def test_transitive_closure_chain_and_diamond(spark):
    from scheduler_spark.operators.closure import transitive_closure

    # chain 1→2→3→4 plus diamond 1→5, 5→4: closure must contain every
    # reachable pair exactly once (the two 1→4 paths collapse)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4)])
    got = {
        (r["src_entity"], r["dst_entity"])
        for r in transitive_closure(e).collect()
    }
    assert got == {
        (1, 2), (1, 3), (1, 4), (1, 5),
        (2, 3), (2, 4), (3, 4), (5, 4),
    }


def test_transitive_closure_cycle_terminates(spark):
    from scheduler_spark.operators.closure import transitive_closure

    # 1→2→1 cycle: self-pairs are excluded by contract and the
    # anti-join must reach the fixpoint instead of looping forever
    e = _edges(spark, [(1, 2), (2, 1), (2, 3)])
    got = {
        (r["src_entity"], r["dst_entity"])
        for r in transitive_closure(e).collect()
    }
    assert got == {(1, 2), (2, 1), (1, 3), (2, 3)}


def test_betweenness_path_graph_hand_computed(spark):
    # P5 a-b-c-d-e seeded at a: sigma = 1 everywhere, so delta(v) is
    # the count of downstream nodes — b:3, c:2, d:1, e:0 — the
    # textbook Brandes accumulation on a single shortest-path chain
    from scheduler_spark.operators.betweenness import seeded_betweenness

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r["entity_id"]: (r["n_seed_paths"], r["betweenness"])
        for r in seeded_betweenness(
            e, seeds, src="src_entity", dst="dst_entity", max_depth=4
        ).collect()
    }
    assert out == {2: (1, 3.0), 3: (1, 2.0), 4: (1, 1.0), 5: (1, 0.0)}


def test_betweenness_diamond_splits_dependency(spark):
    # diamond s-{a,b}-t: sigma(t) = 2, so each middle node brokers
    # exactly half the s→t dependency — delta(a) = delta(b) = 0.5
    from scheduler_spark.operators.betweenness import seeded_betweenness

    e = _edges(spark, [(10, 20), (10, 30), (20, 40), (30, 40)])
    seeds = spark.createDataFrame([(10,)], "node long")
    out = {
        r["entity_id"]: r["betweenness"]
        for r in seeded_betweenness(
            e, seeds, src="src_entity", dst="dst_entity", max_depth=4
        ).collect()
    }
    assert out == {20: 0.5, 30: 0.5, 40: 0.0}


def test_betweenness_radius_bound_truncates(spark):
    # same P5 seeded at a but max_depth=2: e is outside the radius, so
    # it neither appears nor contributes to c's dependency (b still
    # brokers c at depth 2: delta(b) = 1 + delta... with d,e cut,
    # delta(c)=0, delta(b)=1)
    from scheduler_spark.operators.betweenness import seeded_betweenness

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r["entity_id"]: r["betweenness"]
        for r in seeded_betweenness(
            e, seeds, src="src_entity", dst="dst_entity", max_depth=2
        ).collect()
    }
    assert out == {2: 1.0, 3: 0.0}
