"""Link prediction — common-neighbor / Jaccard scoring of missing edges.

KG construction ends with a graph that is necessarily incomplete (the
reference harvests only the links its sources assert; its release
graphs join features per source,
/root/reference/userCode/assetGroups/release_graph_generator.py:79-83).
The classic next step is predicting which UNOBSERVED links are likely
real (Liben-Nowell & Kleinberg 2003): score non-adjacent pairs by
neighborhood overlap and surface the top candidates for linking or
review.

Score: jaccard(a, b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| over the
undirected neighbor sets, computed WITHOUT materializing neighbor sets:

    wedges:  adj(w, a) ⋈ adj(w, b) on w, a < b   → groupBy (a,b) count
             = |N(a) ∩ N(b)| (each shared neighbor contributes one wedge)
    union:   deg(a) + deg(b) − common  (inclusion-exclusion)

Scale shape: the wedge join is an equi-join on the CENTER node; a
celebrity entity of degree d contributes O(d²) wedges, so
``max_wedge_degree`` deterministically excludes hub centers beyond the
cap (the posting-cap discipline of dedup.winnow_copy_pairs) — scores
lose only the hubs' contribution, which Jaccard already discounts
(a hub's huge union makes its wedges near-worthless).  Everything else
is edge-shaped: one count aggregate, one anti-join against observed
edges, two degree joins, one top-k.

Determinism: counts and degrees are integers, so every score is the
same IEEE division in any engine — the ranking needs no ulp guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import edge_list


def predict_links(
    edges: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    k: int = 20,
    max_wedge_degree: int | None = None,
) -> DataFrame:
    """Undirected-ified edge list → top-k non-adjacent pairs:
    (entity_a, entity_b, common_neighbors, jaccard_score)."""
    adj = edge_list(edges, src, dst, symmetric=True)
    deg = adj.groupBy(F.col("u").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    centers = adj
    if max_wedge_degree is not None:
        ok = deg.filter(F.col("d") <= max_wedge_degree).select(
            F.col("n").alias("u")
        )
        centers = adj.join(ok, "u", "left_semi")
    wedges = (
        centers.select("u", F.col("v").alias("a"))
        .join(centers.select("u", F.col("v").alias("b")), "u")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    observed = adj.filter(F.col("u") < F.col("v")).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    cand = wedges.join(observed, ["a", "b"], "left_anti")
    scored = (
        cand.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.col("a").alias("entity_a"),
            F.col("b").alias("entity_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard_score"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_score"), "entity_a", "entity_b"
    ).limit(k)
