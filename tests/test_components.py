"""Connected components: large-star/small-star DataFrame loop."""

from __future__ import annotations

from pyspark.sql import functions as F

from scheduler_spark.operators.canonicalize import canonicalize_values
from scheduler_spark.operators.components import connected_components


import pytest


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "src_entity string, dst_entity string")
    return {
        r.entity_id: r.canonical_id
        for r in connected_components(edges, **kw).collect()
    }


# threshold=0 forces the distributed large-star/small-star loop;
# the default exercises the driver union-find fast path — both paths
# must produce identical labelings.
@pytest.mark.parametrize("kw", [{}, {"small_graph_threshold": 0}], ids=["driver", "distributed"])
def test_two_components(spark, kw):
    got = _cc(spark, [("b", "a"), ("c", "b"), ("y", "z")], **kw)
    assert got == {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}


@pytest.mark.parametrize("kw", [{}, {"small_graph_threshold": 0}], ids=["driver", "distributed"])
def test_long_chain_converges(spark, kw):
    # a chain of 40 nodes exercises the O(log n) star contraction
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(40)]
    got = _cc(spark, chain, **kw)
    assert set(got.values()) == {"n00"}
    assert len(got) == 41


def test_driver_and_distributed_paths_agree(spark):
    import random

    rng = random.Random(3)
    pairs = [
        (f"v{rng.randrange(200):03d}", f"v{rng.randrange(200):03d}")
        for _ in range(300)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    fast = _cc(spark, pairs)
    dist = _cc(spark, pairs, small_graph_threshold=0)
    assert fast == dist


def test_result_partition_order_independent(spark):
    pairs = [("b", "a"), ("c", "b"), ("d", "c"), ("y", "z")]
    e1 = spark.createDataFrame(pairs, "src_entity string, dst_entity string").repartition(1)
    e8 = spark.createDataFrame(list(reversed(pairs)), "src_entity string, dst_entity string").repartition(8)
    r1 = {
        (r.entity_id, r.canonical_id)
        for r in connected_components(e1, small_graph_threshold=0).collect()
    }
    r8 = {
        (r.entity_id, r.canonical_id)
        for r in connected_components(e8, small_graph_threshold=0).collect()
    }
    assert r1 == r8


def test_distributed_path_at_scale_matches_union_find(spark):
    """150k distributed-generated edges through the star loop — the one
    iterative algorithm, exercised at 500× the toy sizes and compared
    against driver union-find on the identical edge set."""
    from pyspark.sql import functions as F

    edges = spark.range(150_000).select(
        F.concat(F.lit("n"), F.pmod(F.xxhash64("id", F.lit("u")), F.lit(30_000)).cast("string")).alias("src_entity"),
        F.concat(F.lit("n"), F.pmod(F.xxhash64("id", F.lit("v")), F.lit(30_000)).cast("string")).alias("dst_entity"),
    ).filter(F.col("src_entity") != F.col("dst_entity"))
    dist = {
        r.entity_id: r.canonical_id
        for r in connected_components(edges, small_graph_threshold=0).collect()
    }
    fast = {
        r.entity_id: r.canonical_id
        for r in connected_components(edges).collect()  # driver union-find
    }
    assert dist == fast
    assert len(dist) >= 29_000  # nearly every node appears


def test_byte_budget_forces_distributed_path(spark):
    """Long entity ids exceed the byte budget even at a tiny edge count:
    the distributed loop must kick in and agree with union-find."""
    long_ = "x" * 2000
    pairs = [(f"{long_}{i:02d}", f"{long_}{i + 1:02d}") for i in range(20)]
    edges = spark.createDataFrame(pairs, "src_entity string, dst_entity string")
    # 20 edges × ~4 KB ids ≈ 80 KB > the 10 KB budget → star loop
    dist = {
        r.entity_id: r.canonical_id
        for r in connected_components(edges, small_graph_max_bytes=10_000).collect()
    }
    fast = _cc(spark, pairs)  # default budget → driver union-find
    assert dist == fast
    assert set(dist.values()) == {f"{long_}00"}


def test_canonicalize_includes_singletons(spark):
    values = spark.createDataFrame([("a",), ("b",), ("solo",)], "value string")
    edges = spark.createDataFrame([("b", "a")], "src_entity string, dst_entity string")
    got = {r.entity_id: r.canonical_id for r in canonicalize_values(values, edges).collect()}
    assert got == {"a": "a", "b": "a", "solo": "solo"}


def test_distributed_round_budget_succeeds_or_raises(spark):
    """At the round budget the star loop either has converged (an
    unchanged fingerprint after the final round counts) or raises —
    it never labels nodes from a graph that is not yet a star."""
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]
    edges = spark.createDataFrame(chain, "src_entity string, dst_entity string")

    def run(budget):
        return {
            r.entity_id: r.canonical_id
            for r in connected_components(
                edges, max_iterations=budget, small_graph_threshold=0
            ).collect()
        }

    budget = 1
    while True:
        try:
            got = run(budget)
            break
        except RuntimeError:
            budget += 1
            assert budget <= 25
    assert len(got) == 16 and set(got.values()) == {"n00"}
    assert budget > 1
    with pytest.raises(RuntimeError, match="did not converge within"):
        run(budget - 1)


def _driver_path(df) -> bool:
    """The driver path returns an Arrow-built LocalRelation; the
    distributed loop's output reads checkpointed (LogicalRDD) frames."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LocalRelation" in plan and "LogicalRDD" not in plan


def _labels(df):
    return {r.entity_id: r.canonical_id for r in df.collect()}


def test_small_path_threshold_boundary(spark):
    """Exactly `small_graph_threshold` edges take the driver path; one
    more takes the distributed loop — with identical labels."""
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(10)] + [("y", "z")]
    edges = spark.createDataFrame(chain, "src_entity string, dst_entity string")
    at = connected_components(edges, small_graph_threshold=len(chain))
    over = connected_components(edges, small_graph_threshold=len(chain) - 1)
    assert _driver_path(at) and not _driver_path(over)
    assert _labels(at) == _labels(over)
    assert set(_labels(at).values()) == {"n00", "y"}


def test_small_path_byte_cap_boundary(spark):
    """The per-edge byte cap (max_bytes / threshold) is inclusive: an
    edge costing exactly the cap stays on the driver path, one byte
    over sends the graph to the distributed loop."""
    from scheduler_spark.operators.components import EDGE_OVERHEAD_BYTES

    pairs = [("aa", "bb"), ("bb", "cc")]  # 4 octets + overhead per edge
    edges = spark.createDataFrame(pairs, "src_entity string, dst_entity string")
    cap = 4 + EDGE_OVERHEAD_BYTES
    fits = connected_components(edges, small_graph_threshold=2, small_graph_max_bytes=2 * cap)
    over = connected_components(edges, small_graph_threshold=2, small_graph_max_bytes=2 * cap - 2)
    assert _driver_path(fits) and not _driver_path(over)
    assert _labels(fits) == _labels(over) == {"aa": "aa", "bb": "aa", "cc": "aa"}


def test_driver_path_self_loops_and_duplicates(spark):
    """Self-loop-only nodes stay singleton components and duplicate or
    reversed edges change nothing — on the driver path, matching the
    distributed loop."""
    pairs = [
        ("b", "a"), ("a", "b"), ("b", "a"),  # duplicate and reversed
        ("s", "s"), ("s", "s"),  # self-loop-only node
        ("c", "c"), ("d", "c"),  # self-loop on a node with a real edge
    ]
    edges = spark.createDataFrame(pairs, "src_entity string, dst_entity string")
    fast = connected_components(edges, small_graph_threshold=len(pairs))
    dist = connected_components(edges, small_graph_threshold=0)
    assert _driver_path(fast)
    want = {"a": "a", "b": "a", "s": "s", "c": "c", "d": "c"}
    assert _labels(fast) == _labels(dist) == want
    assert fast.count() == len(want)  # one row per node
