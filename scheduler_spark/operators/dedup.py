"""Deduplication operators for large-scale corpora.

≈ the reference's dedup-on-release (one deduplicated graph per source;
hash-keyed docs make exact dedup an equi-group, /root/reference/docs/
hdt.md:12-16) generalized to the near-dup families a training-data
pipeline needs: exact, MinHash-LSH (see linking.lsh_candidate_pairs),
SimHash, n-gram Jaccard, embedding cosine.

All built-in column expressions — no Python workers:

- exact: `sha2` fingerprint group-by.
- SimHash: per-token 64-bit xxhash; each of the 64 bit positions votes
  ±1 weighted by token presence; the sign vector packs into a BIGINT.
  Near-dup candidates are blocked on 4×16-bit bands: by pigeonhole two
  docs share ≥1 exact band iff their hamming distance h ≤ bands-1 = 3,
  so the banding GUARANTEES recall only for h ≤ 3 (pairs with 4+
  differing bits are found only if the bits happen to cluster); the
  survivors are verified with `bit_count(xor)` — exact hamming.  For a
  guaranteed radius of h ≤ 8 use ≥ 9 bands.

Scale notes: simhash is a narrow map (one pass, no shuffle); the band
explode is ×4; the bucket self-join is bounded by bucket size exactly
like MinHash-LSH.  At 10^12 docs the 16-bit bands would be widened to
keep bucket cardinality ~uniform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import SHINGLE_VOCAB, local_frame


def bucket_cap_stats(banded: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Observability for every banded-LSH bucket cap: one row of
    (n_buckets, n_capped_buckets, n_rows_shed, max_bucket_n) over the
    same banded frame an operator caps.  The cap bounds per-bucket
    self-join work (a degenerate bucket would go O(n²)); this makes the
    loss it causes a measured number a pipeline can alert on — e.g. the
    sf0.1 documents corpus sheds its hottest simhash buckets at the
    default cap, which is exactly the recall drop documented in
    tests/test_recall_gates.py."""
    sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0))
        .cast("long").alias("n_capped_buckets"),
        F.sum(F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0))
        .cast("long").alias("n_rows_shed"),
        F.max("n").cast("long").alias("max_bucket_n"),
    )


def simhash_banded(sh: DataFrame) -> DataFrame:
    """(doc_id, sim) → one row per (band, chunk) — the 4x16-bit banding
    shared by simhash_pairs and its cap-stats/oracle twins."""
    return sh.select(
        "doc_id",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sim"), 16 * b).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band", "chunk"),
    )


def _tokens(text_col):
    return F.array_distinct(
        F.regexp_extract_all(F.lower(text_col), F.lit("[a-z0-9]+"), 0)
    )


def simhash64(text_col) -> "F.Column":
    """64-bit SimHash of the distinct-token set, as a column expression.

    For each bit i: sum over tokens of (+1 if bit i of xxhash64(token)
    set else -1); simhash bit i = 1 iff the sum is positive.
    """
    toks = _tokens(text_col)

    # shiftright/shiftleft take Python-int bit counts, so the 64 bit
    # positions are unrolled as literal expressions (static plan, still
    # one pass over the token array per row).
    def bit_votes(t):
        return F.array(
            *[
                F.when(
                    F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(-1).cast("long"))
                for i in range(64)
            ]
        )

    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(acc, bit_votes(t), lambda a, b: a + b),
    )
    # pack sign bits into one BIGINT (bit 63 is the sign bit of long)
    packed = None
    for i in range(64):
        weight = (1 << i) if i < 63 else -(1 << 63)
        term = F.when(F.element_at(votes, i + 1) > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else packed.bitwiseXOR(term)
    return packed


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, sim) — SimHash computed the shuffle-friendly way.

    Identical bits to `simhash64` (asserted by tests), but instead of
    one giant higher-order expression per row (64 whens inside an
    aggregate lambda — too large for whole-stage codegen, falls back to
    interpreted evaluation, ~10× slower), tokens are exploded and the
    64 bit-votes become 64 plain `sum` aggregates: map-side partial
    aggregation shrinks the shuffle to one row per (doc × partition),
    and every expression stays codegen-simple.  Docs with zero tokens
    keep sim = 0 via the left join (parity with the fold's zero vector).
    """
    # r06: branch-free votes, no base join.  The ±1 vote sum is
    # 2·(set-bit count) − n, so 64 conditional sums (a `when` branch per
    # token per bit, the old form) become 64 plain sums of the raw bit
    # plus one count — same packed bits including the v=0 tie
    # (2·s > n ⟺ v > 0).  explode_outer keeps zero-token docs as one
    # null-token row whose null hash makes every s_i null, and
    # null·2 > n is null → no bit set → sim = 0, exactly the old
    # left-join parity — so the separate base scan + join is gone.
    # Measured 1.5 s → 0.9 s for the whole table at sf1.0.
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(_tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.when(F.col("tok").isNotNull(), F.xxhash64("tok")))
    aggs = [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"s{i}")
        for i in range(64)
    ] + [F.count(F.lit(1)).alias("n_toks")]
    votes = toks.groupBy("doc_id").agg(*aggs)
    packed = None
    for i in range(64):
        weight = (1 << i) if i < 63 else -(1 << 63)
        term = F.when(
            F.col(f"s{i}") * 2 > F.col("n_toks"), F.lit(weight).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed.bitwiseXOR(term)
    return votes.select("doc_id", packed.alias("sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-dup pairs by SimHash banding + exact hamming verify.

    Default max_hamming=3 matches the 4-band pigeonhole bound (see
    module docstring): within that radius banding guarantees the pair
    is generated, so the result is exact.  Larger radii need more bands
    (bands ≥ max_hamming+1) or the tail is silently incomplete.
    """
    sh = simhash_table(df, id_col=id_col, text_col=text_col)
    banded = simhash_banded(sh)
    from pyspark.sql import Window

    w = Window.partitionBy("band", "chunk")
    # r06: materialize the capped banding before the bucket self-join —
    # both join sides otherwise embed the whole upstream plan (tokenize
    # → 64-agg votes → window), doubling planning/codegen per run and
    # leaving recompute to exchange-reuse luck.  The banded table is 4
    # small rows per doc, the same index a production pipeline would
    # persist.
    banded = (
        banded.withColumn("bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    ).localCheckpoint()
    a = banded.select("band", "chunk", F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a"))
    b = banded.select("band", "chunk", F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b"))
    # r06: the hamming verify is one bit_count over columns already in
    # the joined row, so it runs BEFORE the pair dedup — the dedup
    # shuffle then carries only verified survivors (deterministic per
    # pair, so band-duplicates pass/fail identically; same result set)
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


def hashed_shingles(text_col, n: int = 3):
    """Distinct char-n-gram shingles as 64-bit hashes (column expr).

    Integer intersects are ~2x faster than string intersects and
    preserve set sizes (in-doc collision odds ~1e-15).
    """
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(text_col) - n, F.lit(0))),
            lambda i: F.xxhash64(F.substr(text_col, i + 1, F.lit(n))),
        )
    )


def _minhash_base(
    df: DataFrame, id_col: str, text_col: str, block_col: str | None, n: int
) -> DataFrame:
    """(doc_id, block, s): hashed shingle sets keyed for banding.

    MATERIALIZED (localCheckpoint): every consumer reads `s` at least
    twice (banding + verify), and a Generate whose generator inlines
    the nested interpreted shingle expression re-evaluates it
    pathologically (measured 18.6 s vs 0.17 s for the same explode at
    sf1.0) — this is the shingle-set table a 100 TB pipeline would
    persist as its index anyway (the winnow localCheckpoint
    precedent)."""
    # checkpoint BEFORE the size filter: pushed below the projection
    # (and any _spread exchange) the predicate re-evaluates the whole
    # interpreted shingle expression on the single scan task — measured
    # 16.7 s vs 1.4 s at sf1.0 for the same rows
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            (F.col(block_col) if block_col else F.lit("all")).alias("block"),
            hashed_shingles(F.col(text_col), n).alias("s"),
        )
        .localCheckpoint()
        .filter(F.size("s") > 0)
    )


def _minhash_banded(
    base: DataFrame, num_hashes: int, bands: int, max_bucket: int
) -> DataFrame:
    """(doc_id, block, band, bucket) with the per-bucket cap applied.

    All hash seeds are literals, so two frames banded with the same
    (n, num_hashes, bands) parameters are bucket-compatible."""
    rows_per_band = num_hashes // bands

    # ONE explode + grouped min-aggregates replace num_hashes
    # interpreted array_min(transform(...)) passes over every shingle
    # array (guide §4.1): the xxhash64 columns and the partial map-side
    # mins whole-stage-codegen, and the signature shuffle carries only
    # num_hashes longs per (doc, block).  Values are identical — min
    # over the exploded multiset = array_min over the array, and the
    # per-band bucket hash consumes the same signature slices with the
    # same literal seeds — so indexes stay bucket-compatible.
    ex = base.select("doc_id", "block", F.explode("s").alias("sh"))
    sigs = ex.groupBy("doc_id", "block").agg(
        *[
            F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    banded = sigs.select(
        "doc_id",
        "block",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[F.col(f"h{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)],
                        F.lit(b),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    w = Window.partitionBy("block", "band", "bucket")
    return (
        banded.withColumn("bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 512,
) -> DataFrame:
    """Doc-level MinHash-LSH blocking + exact-Jaccard verify.

    The scale path behind `ngram_jaccard_pairs`: instead of the
    O(block²) all-pairs self-join, candidates come from banded MinHash
    buckets (expected candidate volume ≈ bands × Σ bucket²), then the
    SAME exact Jaccard over the SAME hashed shingle sets decides — so
    precision is exact and the only approximation is LSH recall.  With
    r = num_hashes/bands = 1 rows per band, a true pair at s ≥ 0.7 is
    missed with probability (1-s)^16 ≤ 4e-9 — the recall gate
    (queries.dedup_minhash_lsh_recall) measures this against the exact
    twin rather than trusting the formula.

    `block_col` (e.g. source) joins into the bucket key: cross-block
    pairs are never candidates, mirroring the per-source release-graph
    scope (/root/reference/userCode/assetGroups/release_graph_generator.py:79-83).

    Cost model, honestly: the pruning factor is the band S-curve
    evaluated against the corpus's BACKGROUND similarity.  On corpora
    whose background sits just under the threshold (the synthetic docs:
    background p99 ≈ 0.64 vs threshold 0.7) most pairs collide in some
    band and candidate volume approaches all-pairs — no banding scheme
    can simultaneously hold 0.99 recall at J=0.70 and reject J=0.64.
    What the LSH path still buys at scale, and the all-pairs twin never
    can: (a) `max_bucket` hard-bounds per-bucket work, so a 10^9-doc
    source degrades observably instead of going O(n²); (b) the verify
    cost is per *distinct candidate*, reached via an equi-join that AQE
    can partition and skew-split.
    """
    # IDS-ONLY through the band join: the shingle arrays are ~KBs per
    # row, and the bucket self-join is bands×-redundant before the pair
    # dedup — carrying the arrays through it multiplies the shuffle by
    # ~arraysize×bands (measured 136 s → ~20 s at sf0.1 for this change
    # alone).  Arrays are re-attached per side AFTER dedup, when each
    # surviving pair is verified exactly once.
    base = _minhash_base(df, id_col, text_col, block_col, n)
    banded = _minhash_banded(base, num_hashes, bands, max_bucket)
    a = banded.select("block", "band", "bucket", F.col("doc_id").alias("doc_a"))
    b = banded.select("block", "band", "bucket", F.col("doc_id").alias("doc_b"))
    raw_pairs = (
        a.join(b, ["block", "band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    # r06: on the bitmap path the exact verify is a few bit_counts, so
    # it runs BEFORE the pair dedup — the dedup shuffle then carries
    # only the verified survivors instead of the near-all-pairs
    # candidate stream (the verify predicate is deterministic per pair,
    # so band-duplicate candidates pass or fail identically and the
    # result set is unchanged).  The array fallback keeps dedup first:
    # there the per-pair verify is the expensive side.
    verified = _bitmap_verify(raw_pairs, base, "doc_a", "doc_b", threshold)
    if verified is not None:
        return verified.dropDuplicates(["doc_a", "doc_b"])
    pairs = raw_pairs.dropDuplicates(["doc_a", "doc_b"])
    sets = base.select("doc_id", "s", F.size("s").alias("n"))
    return _verify_exact_jaccard(pairs, sets, sets, "doc_a", "doc_b", threshold)


def _bitmap_verify(
    cand: DataFrame,
    base: DataFrame,
    left_id: str,
    right_id: str,
    threshold: float,
    max_vocab: int = 16384,
) -> DataFrame | None:
    """Exact-Jaccard verify over packed-bitmap shingle sets, or None
    when the distinct-shingle vocabulary exceeds `max_vocab` (caller
    falls back to the array-intersect path).

    When the corpus's global shingle vocabulary V is small, each doc's
    shingle SET is re-encoded as ceil(V/64) BIGINT words; |A∩B| is then
    a handful of whole-stage-codegen'd bit_count(a&b) terms instead of
    a per-pair hash-set build over the arrays, and the per-doc rows
    shrink from ~KB arrays to ~tens of bytes — small enough to
    BROADCAST to both sides of the candidate join, so no shuffle ever
    carries a shingle array (guide §2.3 "shuffle keys and metadata
    instead of payloads", §3.1).  The vocab collect is driver-bounded:
    at most max_vocab + 1 longs, one past the gate to see it fail.
    inter, |A|, |B| are the exact integers of the array path, and the
    threshold algebra + 6-dp jac reuse the identical expressions, so
    the verified pairs are bit-identical."""
    spark = base.sparkSession
    vocab = sorted(
        r["h"]
        for r in base.select(F.explode("s").alias("h")).distinct().limit(max_vocab + 1).collect()
    )
    if not 0 < len(vocab) <= max_vocab:
        return None
    n_words = (len(vocab) + 63) // 64
    vdf = local_frame(spark, [(h, i) for i, h in enumerate(vocab)], SHINGLE_VOCAB)
    ex = base.select("doc_id", F.size("s").alias("n"), F.explode("s").alias("h"))
    bits = ex.join(F.broadcast(vdf), "h").select(
        "doc_id",
        "n",
        (F.col("idx") / 64).cast("int").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(idx, 64) AS INT))").alias("bit"),
    )
    bm = bits.groupBy("doc_id", "n").agg(
        *[
            F.bit_or(
                F.when(F.col("word") == w, F.col("bit")).otherwise(F.lit(0).cast("long"))
            ).alias(f"m{w}")
            for w in range(n_words)
        ]
    )
    left = bm.select(
        F.col("doc_id").alias(left_id), F.col("n").alias("na"),
        *[F.col(f"m{w}").alias(f"am{w}") for w in range(n_words)],
    )
    right = bm.select(
        F.col("doc_id").alias(right_id), F.col("n").alias("nb"),
        *[F.col(f"m{w}").alias(f"bm{w}") for w in range(n_words)],
    )
    inter = F.bit_count(F.col("am0").bitwiseAND(F.col("bm0")))
    for w in range(1, n_words):
        inter = inter + F.bit_count(F.col(f"am{w}").bitwiseAND(F.col(f"bm{w}")))
    return (
        cand.join(F.broadcast(left), left_id)
        .join(F.broadcast(right), right_id)
        .filter(
            (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .filter(inter * F.lit(1.0 + threshold) >= F.lit(threshold) * (F.col("na") + F.col("nb")))
        .select(
            left_id, right_id,
            F.round(inter / (F.col("na") + F.col("nb") - inter), 6).alias("jac"),
        )
    )


def _verify_exact_jaccard(
    cand: DataFrame,
    left_sets: DataFrame,
    right_sets: DataFrame,
    left_id: str,
    right_id: str,
    threshold: float,
) -> DataFrame:
    """cand(left_id, right_id) + (doc_id, s, n) set tables per side →
    verified pairs with exact Jaccard ≥ threshold.

    Size-band prune before the intersect (J ≥ t forces t·|B| ≤ |A|),
    then |A∪B| = |A|+|B|−|A∩B| with single-reference filter algebra as
    in the exact twin (t·(|A|+|B|) ≤ (1+t)·|A∩B| ⇔ J ≥ t).  Shared by
    minhash_lsh_pairs and prefix_jaccard_pairs so the verify semantics
    can never diverge."""
    joined = cand.join(
        left_sets.select(
            F.col("doc_id").alias(left_id), F.col("s").alias("sa"), F.col("n").alias("na")
        ),
        left_id,
    ).join(
        right_sets.select(
            F.col("doc_id").alias(right_id), F.col("s").alias("sb"), F.col("n").alias("nb")
        ),
        right_id,
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        joined.filter(
            (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .filter(inter * F.lit(1.0 + threshold) >= F.lit(threshold) * (F.col("na") + F.col("nb")))
        .select(
            left_id, right_id,
            F.round(inter / (F.col("na") + F.col("nb") - inter), 6).alias("jac"),
        )
    )


# -- winnowing (rolling-hash document fingerprinting) -----------------------

WINNOW_BASE = 31  # Karp-Rabin polynomial base


def _winnow_weights(k: int) -> list[int]:
    return [WINNOW_BASE ** (k - 1 - j) for j in range(k)]


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS algorithm): normalize (lower, strip
    non-alphanumerics) → Karp-Rabin rolling k-gram hashes → minimum
    per window of w consecutive grams → distinct selected hashes.

    Guarantee: two documents sharing any normalized substring of
    length ≥ w + k - 1 share at least one fingerprint; expected
    density is 2/(w+1) of the gram stream.

    The k-gram hash is the Rabin-Karp polynomial Σⱼ code(cⱼ)·B^(k-1-j)
    (B=31, fits a BIGINT for k ≤ 10).  It is written as a vectorized
    column expression (O(n·k), k small) instead of the O(n) rolling
    recurrence: the expression form stays inside whole-stage codegen,
    needs no Python worker, and replays exactly in ANSI SQL for the
    DuckDB oracle — same values, the "rolling" part is only ever a
    constant-factor evaluation trick.

    Scale: narrow map + explode, no shuffle; the downstream inverted
    index (winnow_copy_pairs) is the only exchange.  Docs whose
    normalized text is shorter than k emit no fingerprints; shorter
    than w+k-1 emit the single global minimum (standard winnowing
    boundary rule).
    """
    weights = _winnow_weights(k)
    from functools import reduce as _reduce

    s = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", "")
    base = df.select(F.col(id_col).alias("doc_id"), s.alias("_s")).filter(
        F.length("_s") >= k
    )
    m = F.length("_s") - (k - 1)  # number of k-grams (≥ 1 after the filter)

    # one pass converts the string to a char-code array: element_at on
    # the array is O(1) per gram character, where substr(i) on a
    # var-length string re-scans from the start (O(n) per access,
    # O(n²·k) per doc).  The polynomial itself is unchanged.
    codes = F.transform(F.split(F.col("_s"), ""), lambda c: F.ascii(c).cast("long"))

    def poly(i):
        terms = [
            F.element_at(F.col("_codes"), i + F.lit(j + 1)) * F.lit(weights[j])
            for j in range(k)
        ]
        return _reduce(lambda a, b: a + b, terms)

    g = (
        base.withColumn("_codes", codes)
        .withColumn("_h", F.transform(F.sequence(F.lit(0), m - 1), poly))
        .withColumn("_m", m)
    )
    # r06: per-window minimum as a w-way `least` over element_at — the
    # old array_min(slice(...)) allocated a fresh w-element array per
    # window (~13.5M allocations at sf1.0); same minima, measured
    # 2.97 s → 2.13 s for the fingerprint pass.
    def _win_min(t):
        out = F.element_at(F.col("_h"), t + F.lit(1))
        for j in range(1, w):
            out = F.least(out, F.element_at(F.col("_h"), t + F.lit(j + 1)))
        return out

    sel = F.when(
        F.col("_m") >= w,
        F.array_distinct(
            F.transform(F.sequence(F.lit(0), F.col("_m") - w), _win_min)
        ),
    ).otherwise(F.array(F.array_min(F.col("_h"))))
    return g.select("doc_id", F.explode(sel).alias("fingerprint"))


def winnow_copy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 8,
    min_shared: int = 8,
    max_posting: int = 64,
) -> DataFrame:
    """Copy detection over winnowed fingerprints: doc pairs sharing
    ≥ `min_shared` selected fingerprints, found through an inverted
    index (fingerprint → docs) — an equi-join on the fingerprint, the
    same shape MOSS uses, never an all-pairs comparison.

    `max_posting` drops fingerprints shared by more than that many
    docs before the join (boilerplate grams — license headers, common
    idioms); like every banded-LSH bucket cap in this engine it bounds
    per-key join fan-out to max_posting², keeps the key's skew
    AQE-splittable, and is deterministic, so the DuckDB oracle
    replicates it exactly (a HAVING on the posting list size).

    The capped inverted index is materialized (localCheckpoint) before
    the self-join: without that, Catalyst re-evaluates the whole
    winnow expression once per join side and once per posting branch
    (4×, measured 24 s → 7 s at sf0.1) — at scale this frame is the
    fingerprint index you would persist as a table anyway.
    """
    fps = winnow_fingerprints(df, id_col=id_col, text_col=text_col, k=k, w=w)
    pw = Window.partitionBy("fingerprint")
    kept = (
        fps.withColumn("_n", F.count(F.lit(1)).over(pw))
        .filter(F.col("_n") <= max_posting)
        .drop("_n")
        .localCheckpoint()
    )
    a = kept.select("fingerprint", F.col("doc_id").alias("doc_a"))
    b = kept.select("fingerprint", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram-set Jaccard within blocks (O(block²) — the verify
    step behind LSH blocking; standalone only for bounded blocks)."""
    # 64-bit shingle hashes: integer intersects are ~2x faster than
    # string intersects and preserve set sizes (collision odds ~1e-15)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(text_col) - n, F.lit(0))),
            lambda i: F.xxhash64(F.substr(F.col(text_col), i + 1, F.lit(n))),
        )
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(block_col) if block_col else F.lit("all")).alias("block"),
        sh.alias("s"),
    )
    a = base.select(F.col("doc_id").alias("doc_a"), "block", F.col("s").alias("sa"))
    b = base.select(F.col("doc_id").alias("doc_b"), "block", F.col("s").alias("sb"))
    jac = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
    return (
        a.join(b, "block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", "jac")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT Jaccard-join via prefix filtering (Chaudhuri et al.
    ICDE'06; Bayardo et al. WWW'07; Xiao et al. WWW'08 PPJoin) — the
    scale path that returns the SAME pairs as ngram_jaccard_pairs
    without the O(block²) self-join.

    Prefix-filter lemma: order every doc's shingle set by ascending
    global document frequency (rarest first, token id tie-break); any
    pair with J ≥ t shares at least ⌈t·|A|⌉ shingles, so the two
    prefixes of length |A| − ⌈t·|A|⌉ + 1 must intersect.  Candidates
    therefore come from an equi-join on PREFIX tokens only, and the
    shared _verify_exact_jaccard computes the exact score — complete
    (no recall loss) by construction.

    Scale shape: one token-df aggregation, one df join-back + per-doc
    window to rank, one prefix-token equi-join carrying only
    (id, 8-byte token, position, set size) — never the shingle arrays —
    then PPJoin's length + positional filters cut the candidate set
    BEFORE the array-carrying verify join.  Prefix tokens are the
    RAREST in each doc, so posting lists on the join key are short by
    selection; the all-pairs explosion of the naive path cannot
    reappear unless near-duplicate prefixes genuinely repeat — exactly
    the pairs we must emit.  Everything is an equi-join / window on
    AQE-partitionable keys; no driver state, no cartesian.

    Candidate-stage filters (both sound, both BEFORE any array travels):
    - length filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t — applied on the
      prefix-join rows (each side carries its set size).
    - positional filter (PPJoin lemma 1): prefix positions follow ONE
      global order (ascending df, token tie-break), so the minimal
      shared-PREFIX token of a pair is its minimal shared token
      overall; with that token at positions (i, j),
      |A∩B| ≤ 1 + min(|A|−i, |B|−j), which must reach the pair's
      overlap threshold α = ⌈t·(|A|+|B|)/(1+t)⌉.
    """
    base = (
        _minhash_base(df, id_col, text_col, block_col, n)
        .withColumn("n", F.size("s"))
        .localCheckpoint()
    )
    toks = base.select("doc_id", "block", "n", F.explode("s").alias("tok"))
    dftab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tdf"))
    w = Window.partitionBy("doc_id").orderBy("tdf", "tok")
    # −1e-9 guards the ceil against upward float noise when t·n is
    # integral — defense-in-depth: a longer prefix only adds
    # candidates, and the per-side α=⌈t·n⌉ prefix bound carries slack
    # vs the pair bound ⌈t(na+nb)/(1+t)⌉, so even a one-short prefix
    # stays complete at practical thresholds; the guard removes the
    # dependence on that slack
    plen = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("int")
        + 1
    )
    pref = (
        toks.join(dftab, "tok")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= plen)
        .select("doc_id", "block", "tok", "pos", "n")
    )
    pa = pref.select(
        F.col("doc_id").alias("doc_a"), "block", "tok",
        F.col("pos").alias("ia"), F.col("n").alias("na"),
    )
    pb = pref.select(
        F.col("doc_id").alias("doc_b"), "block", "tok",
        F.col("pos").alias("jb"), F.col("n").alias("nb"),
    )
    # α: minimum |A∩B| for J ≥ t (same −1e-9 integral-ceil guard — a
    # LOWER α only loosens the prune, never drops a true pair)
    alpha = F.ceil(
        F.lit(threshold) / F.lit(1.0 + threshold) * (F.col("na") + F.col("nb"))
        - F.lit(1e-9)
    )
    cand = (
        pa.join(pb, ["block", "tok"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter on the join rows, before the pair rollup
        .filter(
            (F.col("nb") >= F.lit(threshold) * F.col("na"))
            & (F.col("na") >= F.lit(threshold) * F.col("nb"))
        )
        # pair rollup: min positions pick the pair's globally-minimal
        # shared token on BOTH sides (consistent order ⇒ same token)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("ia").alias("ia"), F.min("jb").alias("jb"),
            F.min("na").alias("na"), F.min("nb").alias("nb"),
        )
        # positional filter: best-case remaining overlap must reach α
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
            >= alpha
        )
        .select("doc_a", "doc_b")
    )
    return _verify_exact_jaccard(cand, base, base, "doc_a", "doc_b", threshold)


def prefix_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold_num: int = 9,
    threshold_den: int = 10,
) -> DataFrame:
    """EXACT containment join: pairs with |A∩B| / min(|A|,|B|) ≥ t
    (Broder 1997's containment, vs the resemblance the Jaccard ops
    score) — catches a short doc embedded in a long one, which
    Jaccard structurally misses (J ≤ |A|/|B| however perfect the
    inclusion).  The reference analog is nabu's artifact-granularity
    content-hash dedup (/root/reference/docs/hdt.md:12-16) which only
    sees IDENTICAL payloads; this is the similarity-join rung above it.

    Containment admits NO size-ratio prune (a 10-shingle doc can sit
    inside a 10k-shingle one), so PPJoin's length filter — the
    workhorse of prefix_jaccard_pairs above — is unsound here.  The
    probe/index asymmetry replaces it:

    prefix lemma (asymmetric form of Chaudhuri et al. ICDE'06): order
    every shingle set by ONE global order (ascending df, token
    tie-break).  If c(A,B) ≥ t with |A| ≤ |B|, A shares ≥ ⌈t·|A|⌉
    tokens with B, so among ANY |A| − ⌈t·|A|⌉ + 1 tokens of A at
    least one is in B.  Candidates therefore come from A's probe
    prefix (its ⌊(1−t)·|A|⌋+1 RAREST tokens) equi-joined against the
    FULL posting list of the larger side — probe keys are rare by
    selection, so hub-shingle postings are built but almost never
    probed, and the join stays linear-ish in Σ(probe-token df).

    positional filter (sound with per-side min positions even when
    they come from different shared tokens): shared tokens all sit at
    ordered positions ≥ the minimal observed ones, so
    |A∩B| ≤ 1 + min(|A|−ia, |B|−jb), which must reach ⌈t·|A|⌉.

    The threshold rides as the integer fraction num/den so the
    boundary test (den·inter ≥ num·min) is float-free in BOTH engines
    — 0.9·least(na,nb) in IEEE doubles would flip exact-boundary
    pairs differently per engine.

    Scale shape: one token-df aggregation, one join-back + per-doc
    window to rank, one probe×postings equi-join carrying only
    (id, 8-byte token, position, set size), pair rollup, then the
    array-carrying verify join runs on survivors only.  All equi-joins
    and windows on AQE-partitionable keys; no driver state.
    """
    t_num, t_den = threshold_num, threshold_den
    base = (
        _minhash_base(df, id_col, text_col, block_col, n)
        .withColumn("n", F.size("s"))
        .localCheckpoint()
    )
    toks = base.select("doc_id", "block", "n", F.explode("s").alias("tok"))
    dftab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tdf"))
    w = Window.partitionBy("doc_id").orderBy("tdf", "tok")
    ranked = (
        toks.join(dftab, "tok")
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "block", "tok", "pos", "n")
    )
    # ⌈t·n⌉ as pure BIGINT arithmetic: (num·n + den − 1) div den
    alpha_of = lambda col: F.floor(
        (F.lit(t_num) * col + F.lit(t_den - 1)) / F.lit(t_den)
    )
    probe = ranked.filter(
        F.col("pos") <= F.col("n") - alpha_of(F.col("n")) + 1
    ).select(
        F.col("doc_id").alias("doc_a"), "block", "tok",
        F.col("pos").alias("ia"), F.col("n").alias("na"),
    )
    index = ranked.select(
        F.col("doc_id").alias("doc_b"), "block", "tok",
        F.col("pos").alias("jb"), F.col("n").alias("nb"),
    )
    cand = (
        probe.join(index, ["block", "tok"])
        # the probe is the smaller side; equal sizes probe both ways
        # and collapse in the canonical-order distinct below
        .filter(
            (F.col("na") < F.col("nb"))
            | ((F.col("na") == F.col("nb")) & (F.col("doc_a") != F.col("doc_b")))
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("ia").alias("ia"), F.min("jb").alias("jb"),
            F.min("na").alias("na"), F.min("nb").alias("nb"),
        )
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
            >= alpha_of(F.least("na", "nb"))
        )
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    sets = base.select("doc_id", "s", "n")
    joined = cand.join(
        sets.select(
            F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"), F.col("n").alias("na")
        ),
        "doc_a",
    ).join(
        sets.select(
            F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"), F.col("n").alias("nb")
        ),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    # single-reference filter (the ngram_jaccard CollapseProject
    # discipline); cont/jac recomputed only for the survivors
    return (
        joined.filter(F.lit(t_den) * inter >= F.lit(t_num) * F.least("na", "nb"))
        .select(
            "doc_a", "doc_b",
            F.round(inter / F.least("na", "nb"), 6).alias("cont"),
            F.round(inter / (F.col("na") + F.col("nb") - inter), 6).alias("jac"),
        )
    )


def exact_substr_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", §4.2): excise every
    token span of ≥ min_len tokens that occurs more than once
    corpus-wide, from EVERY occurrence (the released suffix-array
    tool's self-similar mode removes all duplicated byte ranges; this
    is the token-gram formulation of the same contract).  The flagging
    half of this lives in queries.boilerplate_dup_grams; this operator
    emits the cleaned documents.

    ≈ the reference's content-hash canonicalization which dedups at
    whole-artifact granularity (/root/reference/docs/hdt.md:12-16);
    span-level excision is the training-pipeline generalization.

    Distributed shape (suffix arrays don't distribute; gram profiles
    do):
    1. tokenize (lowercase [a-z0-9]+ runs, the corpus-wide convention);
    2. min_len-gram starts, xxhash64-narrowed to 8 bytes BEFORE the
       count shuffle (never the ~50-char strings);
    3. corpus-wide gram counts; a gram with count ≥ 2 is duplicated;
    4. a token at position p is covered iff SOME duplicated gram starts
       in [p−min_len+1, p] — ONE streaming window per doc
       (ROWS min_len−1 PRECEDING, every position materialized, so the
       frame is exact), which merges overlapping spans for free;
    5. rebuild the text from uncovered tokens (order pinned by
       sort_array over (pos, tok) structs).

    Caveats (documented, deterministic): operates on the normalized
    token stream, so punctuation/casing are not reconstructed;
    removing a span can create NEW adjacencies that form fresh grams —
    like the suffix-array original, the pass is single-shot, not
    iterated to fixpoint.  Cost: one explode to corpus-token rows, one
    8-byte-key count shuffle, one join-back, one per-doc window + one
    rollup — linear in corpus tokens, never doc×doc; per-doc state is
    bounded by max document length.
    """
    d = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # r06: tokens materialized in their own projection — the old inline
    # form re-ran the regexp per gram inside the Generate lambda — and
    # the gram rows checkpointed once for their two consumers (count
    # aggregate + join-back)
    # r06: the token-array table is checkpointed — it feeds BOTH the
    # position stream and the gram stream, and leaving it lazy lets the
    # optimizer inline the tokenizer (and the documents scan) into
    # every consuming branch of the big final plan (measured: 6 scans
    # of the corpus in one plan, 4.6-9.8 s vs 1.7 s checkpointed).
    dt = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0).alias("tk"),
    ).localCheckpoint()
    toks = dt.select("doc_id", F.posexplode("tk").alias("pos", "tok")).withColumn(
        "pos", F.col("pos") + 1
    )
    # r06: the gram is one min_len-argument xxhash64 over the token
    # columns (injective exactly like hashing the joined string, minus
    # the per-gram slice+join allocations), and the corpus-wide count
    # attaches via a window over the SAME gram shuffle instead of a
    # count aggregate + join-back — the gram rows are consumed once, so
    # the checkpoint is gone too.
    grams = F.when(
        F.size("tk") >= min_len,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - (min_len - 1)),
            lambda i: F.xxhash64(
                *[F.element_at(F.col("tk"), i + F.lit(j)) for j in range(min_len)]
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    g = dt.select("doc_id", F.posexplode(grams).alias("gpos", "gram")).withColumn(
        "gpos", F.col("gpos") + 1
    )
    dup_starts = (
        g.withColumn("gn", F.count(F.lit(1)).over(Window.partitionBy("gram")))
        .filter(F.col("gn") >= 2)
        .select("doc_id", F.col("gpos").alias("pos"), F.lit(1).alias("dup_start"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(min_len - 1), 0)
    )
    marked = (
        toks.join(dup_starts, ["doc_id", "pos"], "left")
        .withColumn("covered", F.max(F.coalesce("dup_start", F.lit(0))).over(w) == 1)
    )
    kept = (
        marked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                ~F.col("covered"),
                                F.struct(F.col("pos"), F.col("tok")),
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("covered"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
        )
    )
    # zero-token docs never reach the token rows; keep them with empty
    # output so the operator is total over its input
    return (
        d.select("doc_id")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )
