"""DAG longest-path depth — reverse-topological dynamic program.

For an ontology / dependency DAG the longest path from a node down to
a sink is its *depth*: how many subsumption (or build-order) levels sit
below it.  The reference never computes this — its hierarchy handling
is the fixed 3-hop SPARQL probe (/root/reference/userCode/defs_test.py:104-116)
— but any KG audit that materializes a subclass closure
(operators/closure.py) wants the level structure next: depth 0 = leaf
sinks, depth d = everything exactly d subsumption steps above one.

Kahn-style reverse-topological rounds:

- round 0 finalizes the sinks (nodes with no outgoing edge) at depth 0;
- round r finalizes every node whose out-neighbors are ALL final, at
  depth = 1 + max(neighbor depth) — computed as one edge ⨝ finalized
  equi-join, a per-node rollup (matched count + running max), and an
  out-degree equality filter;
- repeat until every node is final.  A cycle can never finalize, so
  exhausting `max_rounds` raises RuntimeError (a silently truncated
  result is worse than none).

Scale shape: each round is one key shuffle over the edge table plus a
map-side-combined rollup; rounds are bounded by the DAG's longest path
(single digits for real taxonomies), not node count.  The rounds run
on `rounds.iterate`; the only driver state is the finalized count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import edge_list, iterate

DEFAULT_MAX_ROUNDS = 50


def longest_path_depth(
    edges: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    max_rounds: int = DEFAULT_MAX_ROUNDS,
) -> DataFrame:
    """Directed edge list → DataFrame(node, depth): the longest-path
    distance from each node to any sink of the DAG.  Self-loops drop,
    duplicate edges collapse.  Raises RuntimeError if the fixpoint is
    not reached within `max_rounds` — in particular on any cyclic
    input, where no topological order exists.
    """
    e = edge_list(edges, src, dst)
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("od")).localCheckpoint(eager=False)
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).distinct()
    )
    # sinks: endpoints that never appear as a source
    sinks = nodes.join(e.select("u").distinct(), "u", "left_anti").select(
        F.col("u").alias("n"), F.lit(0).cast("long").alias("depth")
    )

    def finalize(fin: DataFrame) -> DataFrame:
        matched = (
            e.join(fin, e["v"] == fin["n"])
            .groupBy("u")
            .agg(
                F.count(F.lit(1)).alias("nm"),
                F.max("depth").alias("md"),
            )
        )
        ready = (
            matched.join(outdeg, "u")
            .filter(F.col("nm") == F.col("od"))
            .select(F.col("u").alias("n"), (F.col("md") + 1).cast("long").alias("depth"))
            .join(fin.select("n"), "n", "left_anti")
        )
        return fin.unionByName(ready)

    total = nodes.count()
    fin = iterate(
        finalize,
        sinks,
        max_rounds,
        until=lambda fin: fin.count() == total,
        name="longest_path_depth",
    )
    return fin.select(F.col("n").alias("node"), "depth")
