"""Newman modularity — quality score for a community assignment.

Modularity (Newman & Girvan 2004, Phys. Rev. E 69) measures how much
denser a partition's intra-community edges are than a degree-preserving
random rewiring:

    Q = Σ_c [ m_c / m  −  (D_c / 2m)² ]

with m undirected edges, m_c intra-community edges of community c, and
D_c the degree sum over c's nodes.  The engine computes it over the
SYMMETRIZED edge table E (|E| = 2m, each undirected edge appears twice),
so the per-community term is

    intra_sym_c / |E|  −  (deg_sum_c / |E|)²

where intra_sym_c counts BOTH directions of every intra edge — exactly
the textbook Q once summed.

This closes the loop the reference leaves open: it groups released
graphs only by crawl source
(/root/reference/userCode/assetGroups/release_graph_generator.py:79-83),
and the engine's label propagation (operators/lpa.py) proposes
structural communities instead — modularity is the standard score that
says whether those communities beat the configuration-model null.

Scale shape: two equi-joins of the edge table against the (node →
community) map (shuffle on node id), one groupBy(community) with
map-side partial aggregation, and two scalar totals — all linear in
|E|, nothing driver-side.  Every per-row float is a pure scalar
expression of BIGINTs (two IEEE divisions, one square, one subtract),
so the result is bit-reproducible cross-engine; rounding to 6 dp is
kept only for suite consistency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import edge_list


def community_modularity(
    edges: DataFrame,
    assignments: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    node_col: str = "entity_id",
    community_col: str = "community",
) -> DataFrame:
    """Directed edge list + (node → community) map → one row per
    community: (community, n_nodes, intra_edges, deg_sum,
    modularity_term), where intra_edges counts undirected intra edges
    and Σ modularity_term over all rows is Newman's Q.

    Self-loops are dropped and edges de-duplicated after symmetrizing —
    the same graph normalization as label_propagation, so the two
    compose without re-normalizing.  Nodes missing from `assignments`
    (possible only if the map was built on a different edge set) are
    ignored on the edge side and never form communities.
    """
    e = edge_list(edges, src, dst, symmetric=True)
    lab = assignments.select(
        F.col(node_col).alias("n"), F.col(community_col).alias("c")
    )
    # total symmetric edge count = 2m; a 1-row scalar, broadcast back
    m2 = e.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    # per-node degree within E, then community rollup of nodes + degree
    deg = e.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    comm = (
        deg.join(lab, "n")
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("deg_sum"),
        )
    )
    # intra-community symmetric edge count (counts both directions)
    cu = lab.select(F.col("n").alias("u"), F.col("c").alias("cu"))
    cv = lab.select(F.col("n").alias("v"), F.col("c").alias("cv"))
    intra = (
        e.join(cu, "u")
        .join(cv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_sym"))
    )
    out = (
        comm.join(intra, "c", "left")
        .withColumn("intra_sym", F.coalesce("intra_sym", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(m2))
    )
    return out.select(
        F.col("c").alias("community"),
        "n_nodes",
        (F.col("intra_sym") / 2).cast("long").alias("intra_edges"),
        "deg_sum",
        F.round(
            F.col("intra_sym") / F.col("m2")
            - (F.col("deg_sum") / F.col("m2")) * (F.col("deg_sum") / F.col("m2")),
            6,
        ).alias("modularity_term"),
    )
