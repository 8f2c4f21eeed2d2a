"""HITS hubs & authorities — link-analysis twin to operators/pagerank.py.

Kleinberg 1999 ("Authoritative sources in a hyperlinked environment"):
    auth(v) = Σ_{u→v} hub(u)        then L1-normalize
    hub(u)  = Σ_{u→v} auth(v)       then L1-normalize
per iteration, starting from hub ≡ 1.  The reference ranks entities by
raw degree only (release rollups); HITS separates "pages that point at
good things" from "things pointed at" — the natural KG companion score
for the harvested link graph (same edge shape the PageRank gate uses).

Scale notes:
- every half-iteration is an equi-join (edges ⨝ score vector on the
  node id) plus a map-side-combinable sum; the rounds run on
  `rounds.iterate`.
- normalization is ONE scalar aggregate per half-iteration (the L1
  mass), cross-joined back as a 1-row side, not a driver round trip or
  a per-node broadcast; L1 is used instead of the paper's L2 so the
  SQL oracle twin is a plain SUM.
- bucketing both sides on the node id makes the per-iteration joins
  shuffle-free at cluster scale (tests/test_plans.py proves the layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import edge_list, iterate

DEFAULT_ITERATIONS = 2


def hits(
    edges: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    iterations: int = DEFAULT_ITERATIONS,
) -> DataFrame:
    """Directed edge list → DataFrame(entity_id, hub_score, auth_score).

    Self-loops ignored, duplicate edges collapsed; every endpoint gets a
    row (zero scores if it never receives mass).  Deterministic up to
    float summation order — hash-comparing callers should round (the
    oracle gate rounds to 6 dp).

    Degenerate zero-mass graphs (every edge a self-loop, or no edges at
    all): an iteration whose total mass is <= 0 skips normalization and
    keeps the scores UNNORMALIZED — here that means all-zero auth/hub
    columns, never NULL and never a divide-by-zero.  A SQL twin that
    divides by SUM(score) unconditionally diverges on that input class
    (NULL from 0/0); the oracle gate's graph has off-diagonal edges so
    both agree there, but callers porting the SQL elsewhere should wrap
    the divisor in NULLIF + COALESCE to match this zero-mass contract.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        raw.select(F.col("u").alias("n"))
        .union(raw.select(F.col("v").alias("n")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = edge_list(edges, src, dst)

    def spread(scores: DataFrame, frm: str, to: str, col: str) -> DataFrame:
        """Σ of `scores` over the edges frm → to, for every node, divided
        by its L1 mass (kept unnormalized when the mass is <= 0)."""
        got = (
            e.join(scores, e[frm] == scores["n"])
            .groupBy(F.col(to).alias("m"))
            .agg(F.sum(scores.columns[1]).alias("s"))
        )
        raw = nodes.join(got, nodes["n"] == got["m"], "left").select(
            "n", F.coalesce(F.col("s"), F.lit(0.0)).alias(col)
        )
        return raw.crossJoin(raw.agg(F.sum(col).alias("mass"))).select(
            "n",
            F.when(F.col("mass") > 0.0, F.col(col) / F.col("mass"))
            .otherwise(F.col(col))
            .alias(col),
        )

    hubs = nodes.select("n", F.lit(1.0).alias("hub"))
    auths = nodes.select("n", F.lit(0.0).alias("auth"))
    if iterations > 0:
        # a round's hubs depend only on its auths, so the loop carries
        # the auth vector alone and derives the last hubs after it
        auths = iterate(
            lambda a: spread(spread(a, "v", "u", "hub"), "u", "v", "auth"),
            spread(hubs, "u", "v", "auth"),
            iterations - 1,
        )
        hubs = spread(auths, "v", "u", "hub")
    return (
        nodes.join(hubs, "n")
        .join(auths, "n")
        .select(
            F.col("n").alias("entity_id"),
            F.col("hub").alias("hub_score"),
            F.col("auth").alias("auth_score"),
        )
    )
