"""Connected components over candidate match edges — the dedup/merge
core of canonicalization (≈ `nabu release`'s graph merge,
/root/reference/userCode/assetGroups/release_graph_generator.py:79-83).

Implements the alternating **large-star / small-star** algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) as a pure DataFrame loop:

- large-star: for each node u, attach every strictly-larger neighbor to
  the minimum of u's closed neighborhood.
- small-star: for each node u, attach u and its ≤ neighbors to that
  minimum.

Node ids are the entity strings themselves; `min` is lexicographic, so
the final root of each component is its lexicographically-smallest
member — **deterministic under any partitioning** (SURVEY.md §7 "hard
parts": canonical ids must not depend on partition order).

Scale notes:
- converges in O(log n) rounds vs O(diameter) for naive label
  propagation — the difference between 5 and 500 shuffles on a long
  chain at 10^12 scale.
- the rounds run on `rounds.iterate` (checkpoint cadence, budget rule).
- convergence is detected with a single aggregate fingerprint
  (count + commutative hash-sum of the edge set) — one job per round
  instead of two `exceptAll` anti-joins; a hash-sum collision marking a
  changed edge set as converged has probability ~2^-64 per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import ENTITIES, enforce, local_frame
from .rounds import edge_list, iterate, unchanged

MAX_ITERATIONS = 25

# Below these bounds the component graph is driver-trivial: one
# collect + union-find beats ~10 Spark jobs of star iterations.  This is
# the broadcast-join analog for iterative graph work — the *distinct
# entity-pair* graph after LSH blocking is typically orders of magnitude
# smaller than the corpus, so the small path is the common case; the
# distributed loop remains the correctness path for genuinely huge
# vocabularies.  The gate is BYTE-aware, not just row-count-aware: a
# row-count threshold alone would collect 100k edges of 1 KB entity
# IRIs (~200 MB of Python strings) onto the driver.  Each edge may cost
# at most SMALL_GRAPH_MAX_BYTES / SMALL_GRAPH_THRESHOLD driver bytes
# (UTF-8 octets of both ids plus EDGE_OVERHEAD_BYTES of Python
# tuple/str objects), so a collect of threshold + 1 edges stays within
# the byte budget; the decision is a pure function of the edge set.
SMALL_GRAPH_THRESHOLD = 100_000
SMALL_GRAPH_MAX_BYTES = 32 * 1024 * 1024
EDGE_OVERHEAD_BYTES = 120


def _large_star(edges: DataFrame) -> DataFrame:
    """edges(u,v) → edges'(v, m) for v > u, m = min(N(u) ∪ {u}).

    r06: no intermediate `distinct` — min-aggregates are insensitive to
    duplicate edges and the round's single `distinct` (end of
    `_small_star`) restores the deduplicated set the convergence
    fingerprint reads, so dropping the two input dedups removes two
    serial exchanges per round (measured ~0.55 s → ~0.45 s per round on
    the golden graph) without changing any round's output set."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("minv")).select(
        "u", F.least(F.col("minv"), F.col("u")).alias("m")
    )
    out = (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out


def _small_star(edges: DataFrame) -> DataFrame:
    """edges pointed large→small; attach u and its small neighbors to min."""
    pointed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = pointed.groupBy("u").agg(F.min("v").alias("m"))
    attach_small = (
        pointed.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    attach_self = m.select(F.col("u"), F.col("m").alias("v"))
    return attach_small.union(attach_self).distinct()


def _driver_union_find(spark, pairs) -> DataFrame:
    """Union-find with path compression for driver-small graphs.

    Duplicate edges are no-ops and a self-loop only registers its node,
    which stays its own singleton component unless another edge joins
    it.  The labels come back as an Arrow-built LocalRelation, so the
    job that reads them runs no Python worker."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # lexicographic-min root keeps parity with the star loop
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return local_frame(spark, [(n, find(n)) for n in sorted(parent)], ENTITIES)


def connected_components(
    edges: DataFrame,
    src: str = "src_entity",
    dst: str = "dst_entity",
    max_iterations: int = MAX_ITERATIONS,
    small_graph_threshold: int = SMALL_GRAPH_THRESHOLD,
    small_graph_max_bytes: int = SMALL_GRAPH_MAX_BYTES,
) -> DataFrame:
    """Edge list → ENTITIES(entity_id, canonical_id).

    Every node that appears in `edges` gets a row; canonical_id is the
    lexicographic min of its component.  A node whose only edges are
    self-loops is its own singleton component (a self-match asserts the
    entity exists — it must not vanish from canonicalization).  Nodes
    absent from `edges` entirely are the caller's concern (left-join
    and coalesce to self).  Raises RuntimeError if the distributed loop
    does not converge within `max_iterations` rounds.

    Spark actions: the raw edges are checkpointed lazily, then either one
    bounded collect (at most `small_graph_threshold` + 1 edge rows, none
    over the per-edge byte cap) whose union-find labels come back as a
    LocalRelation, or — past either bound, or with
    `small_graph_threshold=0` — the distributed loop: one fingerprint
    action per round, which also materializes the round's checkpoint.
    """
    def fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    # r06: checkpoint the raw edge list once — both paths read it again
    # (the collect below; `selfers` inside the distributed path's FINAL
    # output job), and without this the whole upstream pair-generation
    # plan (e.g. simhash banding + verify) ran a second time (measured
    # ~0.7 s per run on the golden corpus).  Lazy: the first action that
    # reads it (the small-path collect, or `e` below) computes and keeps
    # the blocks, so the checkpoint costs no job of its own.  An edge
    # with a null end names no entity and is dropped.
    raw = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).dropna().localCheckpoint(eager=False)
    spark = raw.sparkSession

    # Small path: ONE collect of at most threshold + 1 edge rows (self-
    # loops and duplicates included — union-find handles both) decides
    # the path AND carries the graph.  An edge over the per-edge byte
    # cap comes back with null ids, which sends the graph to the
    # distributed loop.  The take scans one partition, then 4× more per
    # job, so a one-partition edge list (the common small case) costs a
    # single job and a large one is still computed in parallel.
    if small_graph_threshold > 0:
        cap = small_graph_max_bytes // small_graph_threshold
        fits = (
            F.octet_length("u") + F.octet_length("v") + F.lit(EDGE_OVERHEAD_BYTES)
        ) <= F.lit(cap)
        rows = (
            raw.select(F.when(fits, F.col("u")).alias("u"), F.when(fits, F.col("v")).alias("v"))
            .limit(small_graph_threshold + 1)
            .collect()
        )
        if len(rows) <= small_graph_threshold and all(r["u"] is not None for r in rows):
            return _driver_union_find(spark, rows)

    e = edge_list(raw, "u", "v")
    # Nodes whose ONLY edges are self-loops: singleton components.  The
    # anti-join is over two node-distinct sets (vocabulary-bounded, far
    # smaller than the edge list), so it rides on the output job.
    selfers = raw.filter(F.col("u") == F.col("v")).select("u").distinct()
    touched = e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
    singletons = (
        selfers.join(touched, "u", "left_anti")
        .select(F.col("u").alias("entity_id"), F.col("u").alias("canonical_id"))
    )

    def with_singletons(out: DataFrame) -> DataFrame:
        return enforce(out.unionByName(singletons), ENTITIES)

    start = fingerprint(e)
    if start[0] == 0:
        return with_singletons(local_frame(spark, [], ENTITIES))
    # an unchanged fingerprint after a round is convergence; labels read
    # off a graph that is not yet a star are wrong, so the budget raises
    e = iterate(
        lambda e: _small_star(_large_star(e)),
        e,
        max_iterations,
        until=unchanged(fingerprint, start),
        name="connected_components",
    )
    # after convergence e is a star: (member, root); add the roots.
    labels = e.select(F.col("u").alias("entity_id"), F.col("v").alias("canonical_id"))
    roots = e.select(F.col("v").alias("entity_id")).distinct().withColumn(
        "canonical_id", F.col("entity_id")
    )
    out = labels.union(roots).distinct()
    return with_singletons(out)
