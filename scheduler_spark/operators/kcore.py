"""k-core decomposition — iterative degree peeling over the entity graph.

The reference's KG consumers rank entities by degree only (the release
rollups, /root/reference/userCode/defs_test.py:104-116 walks fixed-depth
chains); a k-core adds the standard "dense backbone" primitive: drop
every node with degree < k, repeat until fixpoint (Seidman 1983,
"Network structure and minimum degree").  Used in practice to trim
low-signal entities before expensive downstream passes (embedding,
community detection).

Scale notes:
- the graph lives as an undirected, deduplicated edge DataFrame; each
  peel round is ONE map-side-combinable degree aggregation plus two
  left-semi joins against the surviving node set — all equi-joins on
  the node id, AQE-partitionable, no driver-side adjacency.
- the fixpoint check is one degree aggregate over the round's
  checkpoint: a round after which no node has degree < k is the k-core.
- peel depth is bounded by the graph's degeneracy ordering, typically
  < 100 even on web graphs; exhausting ``max_rounds`` before the
  fixpoint raises RuntimeError (a silently truncated core is a
  SUPERSET of the true k-core).
- at 1000-executor scale both join sides would be bucketed on the node
  id (Spark ``bucketBy``) so every round's semi-joins are shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import edge_list, iterate

DEFAULT_K = 2
MAX_ROUNDS = 100


def kcore(
    edges: DataFrame,
    k: int = DEFAULT_K,
    src: str = "src_entity",
    dst: str = "dst_entity",
    max_rounds: int = MAX_ROUNDS,
) -> DataFrame:
    """Directed/undirected edge list → DataFrame(node_id, core_degree):
    the nodes of the k-core with their within-core degree.

    Self-loops are ignored; parallel/reversed duplicates collapse (the
    degree counts DISTINCT neighbors).  Deterministic: set semantics
    throughout, no floats.  Raises RuntimeError if ``max_rounds`` peel
    rounds run without reaching the fixpoint — the partially peeled
    graph is a superset of the true k-core and silently returning it
    would violate the definition.
    """

    # und holds BOTH directions, so grouping on u sees every node and
    # count(*) is the distinct-neighbor degree
    def degrees(und: DataFrame) -> DataFrame:
        return und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))

    def peel(und: DataFrame) -> DataFrame:
        keep = degrees(und).filter(F.col("deg") >= k).select("u")
        return (
            und.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
        )

    und = iterate(
        peel,
        edge_list(edges, src, dst, symmetric=True),
        max_rounds,
        until=lambda und: degrees(und).filter(F.col("deg") < k).isEmpty(),
        name="kcore",
    )
    return degrees(und).select(
        F.col("u").alias("node_id"), F.col("deg").alias("core_degree")
    )
