"""Bounded multi-source BFS shortest paths over an edge list.

KG consumers ask "what is within k hops of these entities?" constantly
(neighborhood expansion for context retrieval, blast-radius queries on
the release graph — the reference pins the 3-hop SPARQL chain for
exactly this, /root/reference/userCode/defs_test.py:104-116).
This operator generalizes that to true shortest-path distances from a
seed set, as a pure DataFrame frontier loop:

- `visited` holds (src, dst, dist) for every pair already reached at its
  BFS (= minimal) distance; `frontier` is the slice discovered in the
  latest round.
- each round: frontier ⨝ edges (one shuffle on the join key), dedup the
  new (src, dst) pairs, anti-join against `visited` so a node is kept
  only at FIRST reach — first reach IS the shortest distance, so no
  min-aggregation pass is needed.
- exactly `max_hops` rounds run on `rounds.iterate`, with no per-round
  check: a round after the frontier empties joins nothing, so it is
  cheaper than the driver round trip an early exit would cost.

Scale notes: state is O(seeds × reachable-within-k), sharded by the
(src, dst) shuffle — never collected.  The per-round join shuffles only
the CURRENT frontier against the edge list, so cost tracks the frontier
wave, not |V|×|E|.  For web-scale graphs the edge list would be
pre-bucketed on `u` so every round's join co-locates without a fresh
edge-side shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import edge_list, iterate


def bfs_shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "u",
    dst: str = "v",
    seed_col: str = "node",
    max_hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Edge list + seed nodes → (src_node, dst_node, dist) with
    dist = BFS shortest-path length in [1, max_hops]; the trivial
    (s, s, 0) rows are excluded.  Undirected inputs are symmetrized.
    """
    e = edge_list(edges, src, dst, symmetric=not directed)
    s = seeds.select(F.col(seed_col).alias("src_node")).distinct()
    # seed self-rows at dist 0: they seed the frontier AND block cycles
    # back to the source from re-entering visited; filtered at the end.
    start = s.select(
        "src_node", F.col("src_node").alias("dst_node"), F.lit(0).cast("long").alias("dist")
    )

    def expand(state: tuple) -> tuple:
        visited, frontier = state
        visited = visited.union(frontier)
        nxt = (
            frontier.join(e, frontier["dst_node"] == e["u"])
            .select("src_node", F.col("v").alias("dst_node"), (F.col("dist") + 1).alias("dist"))
            .dropDuplicates(["src_node", "dst_node"])
            .join(visited, ["src_node", "dst_node"], "left_anti")
        )
        return visited, nxt

    visited, frontier = iterate(expand, (start.limit(0), start), max_hops)
    return (
        visited.union(frontier)
        .filter(F.col("dist") >= 1)
        .select("src_node", "dst_node", "dist")
    )
