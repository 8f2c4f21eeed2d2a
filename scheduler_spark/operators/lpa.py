"""Label propagation — community detection over the entity graph.

Connected components (operators/components.py) answers "which mentions
are the SAME entity" (transitive closure over match edges); community
detection answers the coarser KG question "which entities CLUSTER
together" — the reference groups its released graphs only by crawl
source (/root/reference/userCode/assetGroups/release_graph_generator.py:79-83),
while a KG consumer wants structural groupings of the linked graph
itself.
Classic label propagation (Raghavan et al. 2007, Phys. Rev. E 76)
supplies that with per-round cost linear in |E|.

Deterministic synchronous variant (so a fixed-round run is
oracle-checkable in SQL):

- every node starts with its own id as its label;
- each round, a node adopts the label that is MOST FREQUENT among its
  neighbours' current labels PLUS its own current label (one self
  vote), ties broken by the smallest label;
- all nodes update simultaneously from the previous round's labels
  (synchronous), for a caller-fixed number of rounds.

Integer counts + a total tie-break order make every round a pure
function of the edge set — no RNG, no float comparisons, no visit-order
dependence (the usual LPA nondeterminism sources).  The self vote is
the standard damper for the synchronous variant's label oscillation on
bipartite substructures (a 2-chain flips its labels forever without
it); asynchronous update order, the other classic fix, is exactly the
nondeterminism a distributed hash-compared operator cannot afford.

Scale shape (the 100 TB story):
- one round = labels⨝edges equi-join (shuffle on the node id) + a
  (node,label) count with map-side partial aggregation + one
  row_number window per node — all AQE-partitionable, state strictly
  node/edge-shaped, nothing driver-side;
- the rounds run on `rounds.iterate`;
- a production deployment buckets the static edge table on the node id
  once so every per-round join is shuffle-free on the edge side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rounds import edge_list, iterate

DEFAULT_ITERATIONS = 5


def label_propagation(
    edges: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    iterations: int = DEFAULT_ITERATIONS,
) -> DataFrame:
    """Undirected-ified edge list → DataFrame(entity_id, community).

    Self-loops are dropped; edges are symmetrized and de-duplicated, so
    neighbour-label counts are per distinct neighbour.  Nodes whose
    every edge is a self-loop vanish with their edges (callers wanting
    singleton communities union them back).  Deterministic for a fixed
    edge set — safe to hash-compare.
    """
    e = edge_list(edges, src, dst, symmetric=True)
    nodes = e.select(F.col("u").alias("n")).distinct().localCheckpoint(eager=False)
    # one self-vote edge per node (see module docstring)
    voting = e.union(nodes.select(F.col("n").alias("u"), F.col("n").alias("v")))
    pick = Window.partitionBy("n").orderBy(F.desc("c"), F.asc("label"))

    def vote(labels: DataFrame) -> DataFrame:
        counts = (
            voting.join(labels.select(F.col("n").alias("v"), "label"), "v")
            .groupBy(F.col("u").alias("n"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            counts.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("n", "label")
        )

    labels = iterate(vote, nodes.select("n", F.col("n").alias("label")), iterations)
    return labels.select(F.col("n").alias("entity_id"), F.col("label").alias("community"))
