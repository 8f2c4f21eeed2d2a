"""The round budget of every fixpoint operator (operators/rounds.py):
the smallest succeeding budget returns the operator's rows, and one
round less raises the one non-convergence message — never a result read
before the fixpoint."""

from __future__ import annotations

import pytest

from scheduler_spark.operators.closure import transitive_closure
from scheduler_spark.operators.components import connected_components
from scheduler_spark.operators.dag import longest_path_depth
from scheduler_spark.operators.kcore import kcore
from scheduler_spark.operators.sssp import weighted_sssp
from scheduler_spark.operators.truss import ktruss

CHAIN16 = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]
PATH9 = [(i, i + 1) for i in range(1, 9)]
K4_WITH_TAIL = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [
    (4, 5), (5, 6), (4, 6), (6, 7),
]


def _cc(spark, budget):
    edges = spark.createDataFrame(CHAIN16, "src_entity string, dst_entity string")
    out = connected_components(edges, max_iterations=budget, small_graph_threshold=0)
    return {(r.entity_id, r.canonical_id) for r in out.collect()}


def _kcore(spark, budget):
    edges = spark.createDataFrame(PATH9, "src_entity long, dst_entity long")
    return {tuple(r) for r in kcore(edges, k=2, max_rounds=budget).collect()}


def _closure(spark, budget):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src_entity long, dst_entity long")
    return {tuple(r) for r in transitive_closure(edges, max_rounds=budget).collect()}


def _sssp(spark, budget):
    edges = spark.createDataFrame([(i, i + 1, 1) for i in range(1, 6)], "u long, v long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    return {tuple(r) for r in weighted_sssp(edges, seeds, max_rounds=budget).collect()}


def _ktruss(spark, budget):
    edges = spark.createDataFrame(K4_WITH_TAIL, "src_entity long, dst_entity long")
    return {tuple(r) for r in ktruss(edges, k=4, max_rounds=budget).collect()}


def _dag(spark, budget):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src_entity long, dst_entity long")
    return {tuple(r) for r in longest_path_depth(edges, max_rounds=budget).collect()}


CASES = {
    # log-depth star contraction, plus the round whose fingerprint is unchanged
    "connected_components": (_cc, 5, {(f"n{i:02d}", "n00") for i in range(16)}),
    # two endpoints peel per round; the 4th round empties the path
    "kcore": (_kcore, 4, set()),
    # path lengths 2 and 3 are new, the 3rd round finds none
    "transitive_closure": (_closure, 3, {(1, 2), (2, 3), (3, 4), (1, 3), (2, 4), (1, 4)}),
    # one hop relaxes per round; the 6th round improves nothing
    "weighted_sssp": (_sssp, 6, {(i, i - 1) for i in range(1, 7)}),
    # round 1 drops the tail, round 2 drops nothing
    "ktruss": (_ktruss, 2, {(a, b, 2) for a in range(1, 5) for b in range(a + 1, 5)}),
    # one node finalizes per round
    "longest_path_depth": (_dag, 3, {(4, 0), (3, 1), (2, 2), (1, 3)}),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_smallest_budget_succeeds_and_one_less_raises(spark, name):
    run, budget, expected = CASES[name]
    assert run(spark, budget) == expected
    with pytest.raises(RuntimeError, match=f"{name} did not converge within {budget - 1} rounds"):
        run(spark, budget - 1)
