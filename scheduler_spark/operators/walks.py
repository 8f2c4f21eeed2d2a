"""Deterministic graph walks — the DeepWalk corpus-generation step.

DeepWalk / node2vec (Perozzi et al. 2014; Grover & Leskovec 2016)
train embeddings on random-walk "sentences" over the graph.  The
engine generates the walk corpus distributively and DETERMINISTICALLY:
the next hop from node ``cur`` on step ``s`` of the walk started at
``start`` is the out-neighbor at index

    (start·31 + cur·7 + s) mod outdeg(cur)

over the id-sorted neighbor list — reproducible on any cluster layout
and expressible identically in SQL (no RNG), the same determinism
discipline as stratified_sample_deterministic / corpus_mix_weights.

Scale notes:
- the ranked neighbor table (u, v, idx, deg) is computed ONCE (one
  shuffle on u: row_number + count over the same window partition) and
  reused by every step.
- each step is one equi-join of the walk frontier against the ranked
  table on the current node — L joins total for length-L walks, the
  classic frontier shape (operators/bfs.py); bucketing both sides on
  the node id makes every step shuffle-free at cluster scale.
- walks that reach a sink (no out-edges) simply stop: the inner join
  drops them, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rounds import edge_list

DEFAULT_LENGTH = 3


def deterministic_walks(
    edges: DataFrame,
    length: int = DEFAULT_LENGTH,
    src: str = "src_entity",
    dst: str = "dst_entity",
) -> DataFrame:
    """Directed edge list (BIGINT node ids) → DataFrame(start_node,
    step, node): one row per visited node per walk, step 0..length,
    one walk per node that has at least one out-edge.  Self-loops and
    duplicate edges collapse first."""
    fwd = edge_list(edges, src, dst)
    w = Window.partitionBy("u").orderBy("v")
    ranked = fwd.select(
        "u",
        "v",
        (F.row_number().over(w) - 1).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("u")).alias("deg"),
    ).localCheckpoint()
    frontier = fwd.select(F.col("u").alias("start")).distinct().select(
        "start", F.col("start").alias("cur"), F.lit(0).cast("long").alias("step")
    )
    levels = [frontier]
    for s in range(1, length + 1):
        nxt = (
            levels[-1]
            .join(ranked, levels[-1]["cur"] == ranked["u"])
            .filter(
                F.col("idx")
                == F.pmod(F.col("start") * 31 + F.col("u") * 7 + s, F.col("deg"))
            )
            .select("start", F.col("v").alias("cur"), F.lit(s).cast("long").alias("step"))
        )
        levels.append(nxt)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        F.col("start").alias("start_node"), "step", F.col("cur").alias("node")
    )


def node2vec_walks(
    edges: DataFrame,
    length: int = 3,
    wp: int = 1,
    w1: int = 4,
    wq: int = 2,
    src: str = "src_entity",
    dst: str = "dst_entity",
) -> DataFrame:
    """node2vec-biased deterministic walks (Grover & Leskovec 2016 §3.2):
    from step 2 on, the hop from `cur` (having arrived from `prev`)
    weights each out-neighbor by its distance from `prev` —

        wp  return  (nbr == prev;            α = 1/p)
        w1  common  (edge prev→nbr exists;   α = 1)
        wq  explore (everything else;        α = 1/q)

    — and picks by a hash-driven roll over the INTEGER cumulative
    weights of the id-sorted neighbor list:

        r = (start·31 + cur·7 + prev·13 + step) mod Σw,  pick the
        neighbor whose [cum−w, cum) interval contains r

    so higher-weight neighbors own proportionally wider intervals and
    both engines replay the identical walk with no RNG.  Step 1 has no
    `prev` and hops uniformly (the deterministic_walks rule), the
    standard node2vec convention.

    Returns DataFrame(start_node, step, node) like deterministic_walks.
    Scale shape per step: frontier ⨝ ranked neighbors (equi-join on the
    node id), one LEFT equi-join against the edge set on (prev, nbr)
    for the distance-1 test, and two per-walk window sums over ≤ deg
    candidate rows — no driver state, `localCheckpoint` per step.
    """
    fwd = edge_list(edges, src, dst)
    w = Window.partitionBy("u").orderBy("v")
    ranked = fwd.select(
        "u",
        "v",
        (F.row_number().over(w) - 1).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("u")).alias("deg"),
    ).localCheckpoint()
    starts = fwd.select(F.col("u").alias("start")).distinct()
    levels = [
        starts.select(
            "start",
            F.lit(0).cast("long").alias("step"),
            F.col("start").alias("cur"),
        )
    ]
    state = (
        starts.join(ranked, starts["start"] == ranked["u"])
        .filter(
            F.col("idx")
            == F.pmod(F.col("start") * 31 + F.col("u") * 7 + 1, F.col("deg"))
        )
        .select("start", F.col("u").alias("prev"), F.col("v").alias("cur"))
        .localCheckpoint()
    )
    levels.append(
        state.select("start", F.lit(1).cast("long").alias("step"), "cur")
    )
    ex = fwd.select(F.col("u").alias("prev"), F.col("v").alias("nbr"), F.lit(1).alias("hit"))
    for s in range(2, length + 1):
        cand = (
            state.join(ranked, state["cur"] == ranked["u"])
            .select("start", "prev", "cur", F.col("v").alias("nbr"), "idx")
            .join(ex, ["prev", "nbr"], "left")
            .withColumn(
                "wt",
                F.when(F.col("nbr") == F.col("prev"), F.lit(wp))
                .when(F.col("hit").isNotNull(), F.lit(w1))
                .otherwise(F.lit(wq))
                .cast("long"),
            )
        )
        wc = Window.partitionBy("start").orderBy("idx")
        wt_all = Window.partitionBy("start")
        picked = (
            cand.withColumn("cum", F.sum("wt").over(wc))
            .withColumn("tot", F.sum("wt").over(wt_all))
            .withColumn(
                "r",
                F.pmod(
                    F.col("start") * 31 + F.col("cur") * 7 + F.col("prev") * 13 + s,
                    F.col("tot"),
                ),
            )
            .filter(
                (F.col("r") >= F.col("cum") - F.col("wt"))
                & (F.col("r") < F.col("cum"))
            )
        )
        state = picked.select(
            "start", F.col("cur").alias("prev"), F.col("nbr").alias("cur")
        ).localCheckpoint()
        levels.append(
            state.select("start", F.lit(s).cast("long").alias("step"), "cur")
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        F.col("start").alias("start_node"), "step", F.col("cur").alias("node")
    )
