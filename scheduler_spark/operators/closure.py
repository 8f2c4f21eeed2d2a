"""Transitive closure — ancestor expansion for KG hierarchies.

The reference's 3-hop SPARQL chain (userCode/defs_test.py:104-116)
walks a FIXED depth; subclass/part-of/watershed hierarchies need the
full closure (every (node, ancestor) pair) at unknown depth.  The
engine evaluates it semi-naively (the datalog TC discipline): only the
LAST round's NEW pairs join the base relation each round, so work per
round tracks the frontier, not the whole closure.

Scale notes:
- every round is one equi-join (frontier ⨝ base on the hop node) plus
  a distinct and an anti-join against the accumulated closure — all
  AQE-partitionable key shuffles; no driver state beyond the per-round
  new-pair count.
- the rounds run on `rounds.iterate`; each carries (closure, frontier)
  and folds the previous frontier into the closure first.
- rounds are bounded by the longest path (≈ hierarchy depth, single
  digits for real taxonomies), not by pair volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import edge_list, iterate

MAX_ROUNDS = 50


def transitive_closure(
    edges: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    max_rounds: int = MAX_ROUNDS,
) -> DataFrame:
    """Directed edge list → DataFrame(src_entity, dst_entity): every
    pair connected by a directed path of length ≥ 1.  Self-loops are
    dropped; cycles are safe (the anti-join makes each pair appear
    once, so the loop terminates at the closure fixpoint).  Raises if
    ``max_rounds`` is exhausted before the fixpoint — a silently
    truncated closure is worse than no closure.

    The constraint-propagation toggle below mutates SESSION-scoped
    conf for the loop's duration: safe for the sequential driver
    contract this engine runs under, NOT re-entrant for concurrent
    planners on the same session."""
    spark = edges.sparkSession
    # Spark 4.1 bug guard: UnionBase.rewriteConstraints resolves the
    # union's inherited constraints against attribute ids that a
    # localCheckpoint has already retired (NoSuchElementException:
    # key not found: u#N) when a union child descends from an
    # anti-join on checkpointed frames — exactly this loop's shape.
    # Constraint propagation is an optimizer inference aid (extra
    # isnotnull/filter pushdowns), never a correctness input, so it is
    # disabled for the loop and restored after.
    prev = spark.conf.get("spark.sql.constraintPropagation.enabled", "true")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try:
        base = edge_list(edges, src, dst)

        def extend(state: tuple) -> tuple:
            closure, frontier = state
            closure = closure.unionByName(frontier)
            new = (
                frontier.alias("f")
                .join(base.alias("b"), F.col("f.v") == F.col("b.u"))
                .select(F.col("f.u").alias("u"), F.col("b.v").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .join(closure, ["u", "v"], "left_anti")
            )
            return closure, new

        closure, _ = iterate(
            extend,
            (base.limit(0), base),
            max_rounds,
            until=lambda state: state[1].isEmpty(),
            name="transitive_closure",
        )
    finally:
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev)
    return closure.select(
        F.col("u").alias(src), F.col("v").alias(dst)
    )
