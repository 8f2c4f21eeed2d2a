"""Hand-computed gates for the round-5 third-batch adds: DAG
longest-path depth (operators/dag.py) and owl:sameAs triple rewriting
(operators/canonicalize.rewrite_triples).  DuckDB parity lives in the
oracle gate — kg_topo_depth's all-walks recursive CTE and
kg_sameas_canonical's CC+coalesce twin (tools/oracle_check.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scheduler_spark.operators.canonicalize import rewrite_triples
from scheduler_spark.operators.dag import longest_path_depth


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_entity long, dst_entity long")


def test_longest_path_diamond_with_chord(spark):
    # 1→2, 1→3, 2→4, 3→4 plus chord 2→3: longest 1→2→3→4 beats the
    # shortest 2-hop route — a pure BFS level would report 2, not 3
    e = _edges(spark, [(1, 2), (1, 3), (2, 4), (3, 4), (2, 3)])
    out = {r["node"]: r["depth"] for r in longest_path_depth(e).collect()}
    assert out == {4: 0, 3: 1, 2: 2, 1: 3}


def test_longest_path_multiple_sinks_and_dups(spark):
    # two sinks (3, 4); self-loop and duplicate edges collapse first
    e = _edges(spark, [(1, 2), (1, 2), (2, 3), (1, 4), (4, 4)])
    out = {r["node"]: r["depth"] for r in longest_path_depth(e).collect()}
    assert out == {3: 0, 4: 0, 2: 1, 1: 2}


def test_longest_path_cycle_raises(spark):
    # a cycle has no topological order: nodes 1..3 can never finalize
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    with pytest.raises(RuntimeError, match="did not converge within"):
        longest_path_depth(e, max_rounds=10)


def test_longest_path_exact_round_budget(spark):
    # ADVICE r05 boundary: a 3-chain finalizes node-by-node in exactly
    # 3 processing rounds; with the old top-of-loop-only convergence
    # check max_rounds=3 finished the work but raised RuntimeError
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    out = {
        r["node"]: r["depth"]
        for r in longest_path_depth(e, max_rounds=3).collect()
    }
    assert out == {4: 0, 3: 1, 2: 2, 1: 3}


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj long, pred string, obj long")


def _entities(spark, rows):
    return spark.createDataFrame(rows, "entity_id long, canonical_id long")


def test_rewrite_triples_collapses_both_ends(spark):
    # 2→1 and 20→10 are sameAs: triples (2,p,20) and (1,p,10) collapse
    # into ONE canonical (1,p,10); unmapped ids pass through untouched
    t = _triples(
        spark,
        [(2, "p", 20), (1, "p", 10), (3, "q", 2), (3, "q", 99)],
    )
    ents = _entities(spark, [(1, 1), (2, 1), (10, 10), (20, 10)])
    got = {(r["subj"], r["pred"], r["obj"]) for r in rewrite_triples(t, ents).collect()}
    assert got == {(1, "p", 10), (3, "q", 1), (3, "q", 99)}


def test_rewrite_triples_identity_map_is_noop(spark):
    t = _triples(spark, [(1, "p", 2), (2, "p", 1)])
    ents = _entities(spark, [(1, 1), (2, 2)])
    assert rewrite_triples(t, ents).count() == 2
    # column order is preserved for downstream writers
    assert rewrite_triples(t, ents).columns == ["subj", "pred", "obj"]


def test_rewrite_triples_dedup_counts(spark):
    # 5 aliases of one entity citing the same object → one triple
    t = _triples(spark, [(i, "cites", 100) for i in range(5)])
    ents = _entities(spark, [(i, 0) for i in range(5)])
    rows = rewrite_triples(t, ents).collect()
    assert len(rows) == 1 and rows[0]["subj"] == 0 and rows[0]["obj"] == 100
