"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (exact; crossJoin + ranking window).
Scale path: random-hyperplane LSH — bucket vectors by the sign pattern
of `n_planes` fixed pseudo-random hyperplanes (derived deterministically
from xxhash64, no RNG state), probe only the query's bucket ± multi-probe
neighbors, rank within the candidate set.

At 10^12 scale the brute force is O(Q·N·d); the LSH variant scans only
N/2^planes per probe bucket and is embarrassingly parallel (bucket join).
Recall is tunable via n_planes/probes; exactness is NOT claimed — the
baseline exists precisely to measure recall against.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType


def cosine(e_a, e_b):
    dot = F.aggregate(F.zip_with(e_a, e_b, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    na = F.sqrt(F.aggregate(F.transform(e_a, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nb = F.sqrt(F.aggregate(F.transform(e_b, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return dot / (na * nb)


# NOTE (measured, do not "optimize"): unrolling the verify dot product
# into a flat 64-term GetArrayItem sum chain is 2× SLOWER than the HOF
# fold here (19-21 s vs 8-12 s at sf0.1) — each GetArrayItem re-checks
# bounds/null per element and the 129-node expression bloats the
# generated method, while the HOF loop iterates the array data once.
# Keep the aggregate/zip_with form for array math.


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (qid, cid, rank, sim)."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("eq")
    )
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("ec")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("sim", cosine(F.col("eq"), F.col("ec")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim"))
    )


def _hyperplane(dim: int, plane: int):
    """Deterministic pseudo-random hyperplane as a LITERAL array.

    The components are fixed gaussian constants (seeded per plane), so
    Catalyst constant-folds the array once instead of evaluating a hash
    expression per component per ROW — with 16 bands × 2 planes × 64
    dims that's 2048 saved hash evaluations per row, the difference
    between an expression-bound scan and a flop-bound one."""
    import numpy as np

    comps = np.random.RandomState(0xC0FFEE + plane).randn(dim)
    return F.lit([float(c) for c in comps])


def _bucket_signature(vec_col, dim: int, n_planes: int):
    """Sign pattern of the vector against n_planes hyperplanes, packed
    into a long — the LSH bucket id."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec_col, _hyperplane(dim, p), lambda x, h: x * h),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            > 0,
            F.shiftleft(F.lit(1).cast("long"), p),
        ).otherwise(F.lit(0).cast("long"))
        for p in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseXOR(b)
    return out


def _hash_ordered_sample(corpus, id_col: str, vec_col: str, n: int):
    """Deterministic, layout-independent training sample: order by a
    hash of the id and take the first `n` (a TakeOrdered — one scan +
    per-partition top-k, no full sort).  A bare `.limit()` would read
    the FIRST partition(s) only: on a clustered/sorted corpus the
    quantizer would train on one file's distribution and cell balance
    collapses (hash order ≈ uniform over the whole corpus instead)."""
    import numpy as np

    return np.array(
        [
            r["v"]
            for r in corpus.select(
                F.col(vec_col).cast("array<float>").alias("v"),
                F.xxhash64(F.col(id_col)).alias("_h"),
            )
            .orderBy("_h")
            .limit(n)
            .collect()
        ],
        dtype=np.float64,
    )


def _lloyd_kmeans(sample, k: int, iters: int, seed: int):
    """Driver-side Lloyd's on a bounded sample — centroids are a tiny
    model, broadcast into the plan as literals."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=min(k, len(sample)), replace=False)]
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(len(cents)):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probes: int = 2,
    train_sample: int = 2048,
    kmeans_iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse k-means quantizer → probe the
    nearest `n_probes` cells per query → exact rank inside candidates.

    The quantizer trains driver-side on a bounded sample (numpy
    Lloyd's — centroids are a tiny model, the classic broadcast
    pattern); assignment/search are pure column expressions.  At
    10^12 scale the sample stays bounded and the per-cell scan is
    N*(n_probes/n_lists) — the standard IVF cost model.
    """
    sample = _hash_ordered_sample(corpus, id_col, vec_col, train_sample)
    cents = _lloyd_kmeans(sample, n_lists, kmeans_iters, seed)

    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("ec")
    ).withColumn("cell", F.element_at(_nearest(F.col("ec"), cents, 1), 1))
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("eq")
    ).withColumn("cell", F.explode(_nearest(F.col("eq"), cents, n_probes)))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (
        q.join(c, "cell")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("sim", cosine(F.col("eq"), F.col("ec")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim"))
    )


def embedding_lsh_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 16,
    planes_per_band: int = 2,
    threshold: float = 0.45,
    max_bucket: int = 1024,
) -> DataFrame:
    """Embedding near-dup pairs via BANDED hyperplane LSH + exact verify.

    The scale path behind the exact crossJoin twin
    (queries.dedup_embedding_cosine): each vector hashes to `bands`
    bucket ids (sign pattern of `planes_per_band` deterministic
    hyperplanes per band); candidates are pairs sharing any band
    bucket — an equi-join, never an all-pairs product — and the exact
    cosine >= threshold predicate decides, so precision is exact and
    only recall is approximate.  For two vectors at angle θ a band
    matches with p = (1-θ/π)^r, and recall = 1-(1-p)^bands: at
    cos ≥ 0.45 (θ ≤ 63.3°, p ≈ 0.42 for r=2) 16 bands give ≥ 0.9998 —
    measured, not trusted, by queries.ann_embedding_lsh_recall.

    A vector whose size is not `dim` (null, empty, short or long) gets
    no band bucket, so it is in no pair; it never raises.
    """
    v = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("e")
    )
    norm = F.sqrt(
        F.aggregate(F.transform(F.col("e"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    # NOT checkpointed (r06, measured): materializing the vector+norm
    # table costs more than the ≤2 re-evaluations — when the bucket
    # caps shed every candidate (high-sf corpora) AQE's empty-relation
    # propagation prunes the attach joins entirely, and when pairs
    # exist the re-scan is dwarfed by the pair join itself.
    v = v.withColumn("nrm", norm)
    # IDS-ONLY through the band join (same reasoning as
    # dedup.minhash_lsh_pairs): the bucket self-join is bands×-redundant
    # pre-dedup, so embedding arrays ride along only AFTER the pair set
    # is distinct — once per verified pair instead of once per band hit.
    # r06 (second pass): the plane dots are computed the simhash_table
    # way — ONE posexplode of the vector + (bands × planes) plain
    # codegen'd `sum(x · element_at(plane, i+1))` aggregates with
    # map-side combine — instead of 32 interpreted aggregate/zip_with
    # folds per row (CodegenFallback, measured 3.35 s for this row at
    # sf1.0; 7.2 s when the fold table isn't even checkpointed and the
    # banding Generate re-evaluates it per element).  A vector's
    # exploded rows never leave their task, so each sum usually
    # accumulates in element order, the same left fold; a map-side
    # aggregate that spills merges partial sums in another order, so a
    # dot within rounding of 0 may take the other bucket bit.  Recall is
    # what the gate measures, not bit-compatibility with the fold
    # form.  Vectors of any other size than `dim` are dropped before
    # the explode: `element_at` past a plane's end raises under ANSI,
    # and a short vector's dots would be partial.  The aggregated
    # signature table — (vid, 16 longs), the banding index a pipeline
    # persists — is CHECKPOINTED so the cap window + both self-join
    # sides read it without re-deriving the aggregation.
    n_planes_total = bands * planes_per_band
    ex = vectors.filter(F.size(vec_col) == dim).select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    )
    dots = ex.groupBy("vid").agg(
        *[
            F.sum(
                F.col("x") * F.element_at(_hyperplane(dim, p), F.col("i") + 1)
            ).alias(f"d{p}")
            for p in range(n_planes_total)
        ]
    )
    def _bucket_of(band: int):
        bits = [
            F.when(
                F.col(f"d{band * planes_per_band + p}") > 0,
                F.shiftleft(F.lit(1).cast("long"), p),
            ).otherwise(F.lit(0).cast("long"))
            for p in range(planes_per_band)
        ]
        out = bits[0]
        for bcol in bits[1:]:
            out = out.bitwiseXOR(bcol)
        return out
    sigs = dots.select(
        "vid", F.array(*[_bucket_of(b) for b in range(bands)]).alias("_bks")
    ).localCheckpoint()
    banded = sigs.select("vid", F.posexplode("_bks").alias("band", "bucket"))
    w = Window.partitionBy("band", "bucket")
    banded = (
        banded.withColumn("bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    )
    a = banded.select("band", "bucket", F.col("vid").alias("vec_a"))
    b = banded.select("band", "bucket", F.col("vid").alias("vec_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cand = pairs.join(
        v.select(F.col("vid").alias("vec_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")),
        "vec_a",
    ).join(
        v.select(F.col("vid").alias("vec_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")),
        "vec_b",
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        cand.filter(dot / (F.col("na") * F.col("nb")) >= threshold)
        .select("vec_a", "vec_b")
    )


class PQModel(NamedTuple):
    """Trained product-quantizer: coarse IVF centroids + per-subspace
    codebooks.  A tiny driver-side model (n_lists×dim + m×n_codes×sub
    doubles ≈ 16 KB at the defaults) — broadcast into plans as literals
    (JVM encode) or captured in the encoder closure (Arrow encode)."""

    coarse: "object"        # ndarray (n_lists, dim)
    books: "list"           # list of ndarray (n_codes, sub)
    dim: int
    sub: int


def train_pq_model(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    m_subspaces: int = 8,
    n_codes: int = 16,
    train_sample: int = 2048,
    kmeans_iters: int = 10,
    seed: int = 42,
) -> PQModel:
    """Train the coarse quantizer + PQ codebooks on a bounded,
    hash-ordered sample (driver-side Lloyd's; see _hash_ordered_sample
    for why not a bare limit).  Vectors are L2-normalized before
    training so squared-L2 ordering coincides with cosine ordering."""
    sample = _hash_ordered_sample(corpus, id_col, vec_col, train_sample)
    norms = ((sample * sample).sum(axis=1)) ** 0.5
    norms[norms == 0.0] = 1.0
    nsample = sample / norms[:, None]
    dim = nsample.shape[1]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    sub = dim // m_subspaces
    coarse = _lloyd_kmeans(nsample, n_lists, kmeans_iters, seed)
    books = [
        _lloyd_kmeans(nsample[:, s * sub:(s + 1) * sub], n_codes, kmeans_iters, seed + 1 + s)
        for s in range(m_subspaces)
    ]
    return PQModel(coarse=coarse, books=books, dim=dim, sub=sub)


def _norm_of(e) -> Column:
    n = F.sqrt(F.aggregate(F.transform(e, lambda y: y * y), F.lit(0.0), lambda a, y: a + y))
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


def _codebook_lit(cents) -> Column:
    """Centroid matrix as one array<array<double>> constant expression.

    Note: classic PySpark expands F.lit(nested_list) to
    array(array(lit...)) pre-analysis (single-node Literal folding is a
    Connect-path behavior), so the literal count is unchanged until
    ConstantFolding collapses it; the measured plan-cost win of this
    module's refactor comes from _dists_to evaluating ALL centroid
    distances with ONE transform lambda instead of one
    zip_with/aggregate expression per centroid."""
    return F.lit([[float(x) for x in c] for c in cents.tolist()])


def _dists_to(vec, cents) -> Column:
    """array of squared-L2 distances from `vec` to every centroid, via a
    SINGLE transform lambda over the codebook array.  One dist2
    expression per call site instead of one per centroid: the analyzer/
    optimizer cost of a plan is driven by its HOF-lambda count (each
    needs lambda-variable resolution on every rule pass over a tree
    this size), and the per-centroid formulation put IVF-PQ's ~300
    lambdas / ~25k nodes at ~20 s of DRIVER time per query, independent
    of data size.  Row-side evaluation is the same interpreted flops."""
    return F.transform(
        _codebook_lit(cents),
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _nearest(vec, cents, n: int):
    """Ids of the n nearest centroids to `vec` (ties → lowest id)."""
    k = len(cents)
    ranked = F.zip_with(
        _dists_to(vec, cents),
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda d, j: F.struct(d.alias("d"), j.alias("j")),
    )
    return F.slice(F.transform(F.array_sort(ranked), lambda s: s["j"]), 1, n)


def pq_encode(
    corpus: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JVM-expression PQ index build: (cid, cell, codes).

    Pure column expressions — runs in any vanilla session (no Python
    workers), which is why the driver-contract query path uses it.  The
    distance lambdas evaluate on Catalyst's interpreted path, so
    per-row encode cost is O(n_lists·dim + m·n_codes·sub) interpreted
    flops (the per-code slice re-evaluation rides inside that bound) —
    fine for query-side encode and small/mid corpora; for bulk index
    builds over large corpora use pq_encode_arrow."""
    sub = model.sub
    m = len(model.books)
    return (
        corpus.select(
            F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("ec")
        )
        .withColumn("nrm", _norm_of(F.col("ec")))
        .withColumn("en", F.transform(F.col("ec"), lambda x: x / F.col("nrm")))
        .select(
            "cid",
            F.element_at(_nearest(F.col("en"), model.coarse, 1), 1).alias("cell"),
            F.array(
                *[
                    F.element_at(
                        _nearest(F.slice("en", s * sub + 1, sub), model.books[s], 1), 1
                    )
                    for s in range(m)
                ]
            ).alias("codes"),
        )
    )


def pq_encode_arrow(
    corpus: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched PQ index build: numpy GEMM argmin over mapInPandas.

    The encode step is the one corpus-proportional stage of IVF-PQ —
    at 10^12 vectors it IS the index build job — and a 16-way argmin
    per row is exactly what per-row expression trees do worst: the HOF
    formulation evaluates interpreted (~ms/row measured at 64-d), and
    expanding centroids to ~10k literal terms blows the generated
    method past codegen's limit, falling back to an even bigger
    interpreted tree.  One numpy matmul per Arrow batch
    (argmin_j |v-c_j|² = argmin_j (|c_j|² - 2 v·c_j) on normalized v)
    does the same math at BLAS speed; the model rides the closure
    (~16 KB).  Output schema matches pq_encode exactly; values agree
    modulo floating-point TIES in the argmin (the two paths sum in
    different orders, so a vector equidistant from two centroids to
    the last ulp may land in either) — tests pin exact equality on
    fixed-seed data where no such tie occurs."""
    import numpy as np

    coarse = np.asarray(model.coarse, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in model.books]
    sub = model.sub
    coarse_sq = (coarse * coarse).sum(axis=1)
    books_sq = [(b * b).sum(axis=1) for b in books]

    id_field = corpus.select(F.col(id_col).alias("cid")).schema[0]
    out_schema = StructType(
        [
            id_field,
            StructField("cell", IntegerType(), False),
            StructField("codes", ArrayType(IntegerType(), False), False),
        ]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            nrm = np.sqrt((V * V).sum(axis=1))
            nrm[nrm == 0.0] = 1.0
            V = V / nrm[:, None]
            cell = (coarse_sq[None, :] - 2.0 * (V @ coarse.T)).argmin(axis=1)
            codes = np.stack(
                [
                    (books_sq[s][None, :] - 2.0 * (V[:, s * sub:(s + 1) * sub] @ books[s].T)).argmin(axis=1)
                    for s in range(len(books))
                ],
                axis=1,
            )
            yield pd.DataFrame(
                {
                    "cid": pdf[id_col].values,
                    "cell": cell.astype("int32"),
                    "codes": list(codes.astype("int32")),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(encode, schema=out_schema)


def ivfpq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probes: int = 2,
    m_subspaces: int = 8,
    n_codes: int = 16,
    shortlist: int = 50,
    train_sample: int = 2048,
    kmeans_iters: int = 10,
    seed: int = 42,
    index: DataFrame | None = None,
    model: PQModel | None = None,
) -> DataFrame:
    """IVF-PQ ANN (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI'11): coarse IVF cells bound the candidate
    set, PRODUCT-QUANTIZED codes rank it, and only the ADC shortlist
    fetches real vectors for an exact cosine re-rank.

    Why this is the 100 TB embedding plan: the candidate join carries
    `m_subspaces` small ints per corpus row (8 codes ≈ 8 B) instead of
    the 64×8 B vector — a 64× shuffle-width reduction on the big side.
    Per query the m×n_codes lookup tables are computed ONCE (pre-join
    column arrays), so ranking a candidate costs m array lookups + a
    sum; real vectors are touched again only for the `shortlist` rows
    per query (a bounded gather join), which restores exact-cosine
    precision — recall is the only approximation, and it is measured
    (queries.ann_ivfpq_recall), not trusted.

    Vectors are L2-normalized before cell assignment and encoding so
    ADC's squared-L2 ordering coincides with cosine ordering; the final
    re-rank uses the ORIGINAL vectors through the same `cosine()`
    expression as brute_force_topk, so reported sims are bit-identical
    to the exact baseline's.

    `index`/`model`: pass a trained PQModel and its materialized
    (cid, cell, codes) index (from train_pq_model + pq_encode_arrow)
    to skip the in-plan corpus encode — the production shape, where
    the index is built once and persisted while queries only pay the
    m×n_codes LUT projection.  Default (both None) trains and encodes
    inline with pure-JVM expressions so the driver-contract query path
    needs no Python workers.
    """
    if (index is None) != (model is None):
        raise ValueError("pass both index and model, or neither")
    if model is None:
        model = train_pq_model(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_lists=n_lists,
            m_subspaces=m_subspaces,
            n_codes=n_codes,
            train_sample=train_sample,
            kmeans_iters=kmeans_iters,
            seed=seed,
        )
    coarse, books, sub = model.coarse, model.books, model.sub
    c = index if index is not None else pq_encode(corpus, model, id_col, vec_col)

    subvec = lambda e, s: F.slice(e, s * sub + 1, sub)  # noqa: E731

    # LUTs are projected BEFORE the probe-cell explode so each is
    # evaluated once per query, not once per (query × probe) row —
    # computing the m×n_codes tables once per query is the whole point
    # of ADC.  The Generate (explode) node keeps the LUT projection a
    # separate operator, so no checkpoint is needed to pin it.
    q = (
        queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("eq")
        )
        .withColumn("nrm", _norm_of(F.col("eq")))
        .withColumn("en", F.transform(F.col("eq"), lambda x: x / F.col("nrm")))
        .select(
            "qid",
            "eq",
            _nearest(F.col("en"), coarse, n_probes).alias("probe_cells"),
            *[
                _dists_to(subvec(F.col("en"), s), books[s]).alias(f"lut{s}")
                for s in range(len(books))
            ],
        )
        .withColumn("cell", F.explode("probe_cells"))
        .drop("probe_cells")
    )
    # loop bound from the MODEL, not the m_subspaces argument: with a
    # caller-supplied model/index the two can differ (the LUT projection
    # above builds exactly len(books) luts).
    adc = F.element_at(F.col("lut0"), F.element_at("codes", 1) + F.lit(1))
    for s in range(1, len(books)):
        adc = adc + F.element_at(F.col(f"lut{s}"), F.element_at("codes", s + 1) + F.lit(1))

    w_short = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("cid"))
    short = (
        q.join(c, "cell")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("adc", adc)
        .withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= shortlist)
        .select("qid", "eq", "cid")
    )
    # bounded gather: real vectors only for the shortlist rows
    fetch = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("ec")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (
        short.join(fetch, "cid")
        .withColumn("sim", cosine(F.col("eq"), F.col("ec")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim"))
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane bucketing.

    Single-probe: only candidates sharing the query's bucket are
    ranked.  With n_planes=4 a uniform corpus splits ~16 ways; recall
    for near neighbors is high because near-parallel vectors agree on
    most hyperplane signs.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("eq")
    ).withColumn("bucket", _bucket_signature(F.col("eq"), dim, n_planes))
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("ec")
    ).withColumn("bucket", _bucket_signature(F.col("ec"), dim, n_planes))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (
        q.join(c, "bucket")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("sim", cosine(F.col("eq"), F.col("ec")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim"))
    )


def knn_graph(
    vectors: DataFrame,
    k: int = 5,
    mutual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probes: int = 2,
    train_sample: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Corpus-wide k-nearest-neighbour graph → (src, dst, rank, sim).

    The self-join shape every embedding-space pipeline stage downstream
    of ANN wants (graph clustering, SemDeDup-style pruning, link
    prediction): each vector's top-k cosine neighbours as a directed
    edge list, optionally restricted to MUTUAL edges (src in dst's
    top-k AND dst in src's top-k — the standard noise filter before
    community detection on a kNN graph).

    Scale shape: this is ivf_ann_topk with the corpus on BOTH sides —
    candidates are pairs sharing a probed IVF cell, so the join is a
    cell equi-join costing N * k_probe_fraction, never the N² cross
    join (dedup_embedding_cosine is the declared quadratic yardstick).
    The mutual filter is one self left-semi equi-join on the reversed
    edge key — edge-shaped, k·N rows a side.  Recall vs exact truth is
    MEASURED by the knn_graph_recall gate, not trusted.
    """
    edges = ivf_ann_topk(
        vectors,
        vectors,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        n_probes=n_probes,
        train_sample=train_sample,
        seed=seed,
    )
    if mutual:
        rev = edges.select(F.col("cid").alias("qid"), F.col("qid").alias("cid"))
        edges = edges.join(rev, ["qid", "cid"], "left_semi")
    return edges.select(
        F.col("qid").alias("src"), F.col("cid").alias("dst"), "rank", "sim"
    )


def semdedup_prune(
    embeddings: DataFrame,
    k: int = 8,
    tau: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space, then drop documents semantically too
    close to their cluster's representative.

    Deterministic variant so the result is oracle-checkable: centroids
    are the k lowest-id vectors (the bounded "training sample"
    discipline of ivf_ann_topk), assignment is argmax of
    dot(e, c)/|c| (equivalent to argmax cosine; the common |e| factor
    cannot change the argmax), and the per-cluster representative is
    the minimum id.  A member is dropped when its cosine to the
    representative is >= tau.

    Scale shape (the reason this beats pairwise semantic dedup at
    100 TB): assignment is a SHUFFLE-FREE map — the k×d centroid
    matrix rides along as one nested-array literal and one zip_with
    lambda (see _codebook_lit; ~3 s/job fixed cost if expanded
    per-centroid).  The only shuffles are a k-group min aggregate
    (map-side combined) and broadcast joins of the k-row keeper table;
    every vector is compared against exactly ONE representative, never
    all-pairs.  The corpus is scanned three times (assign+agg,
    keeper-gather, final compare) — still linear; the quadratic
    yardstick twin is dedup_embedding_cosine.

    Reference analog: the near-dup shed the reference delegates to
    nabu's hash canonicalization (/root/reference/README.md:23-27),
    lifted to embedding space.
    """
    import numpy as np

    v = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    crows = v.orderBy("vec_id").limit(k).collect()  # bounded: k rows
    ids = [int(r["vec_id"]) for r in crows]
    cents = np.array([r["e"] for r in crows], dtype=np.float64)
    cnorms = [float(x) for x in np.sqrt((cents * cents).sum(axis=1))]

    sims = F.zip_with(
        _codebook_lit(cents),
        F.lit(cnorms),
        lambda c, n: F.aggregate(
            F.zip_with(F.col("e"), c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n,
    )
    # first occurrence of the max ⇒ ties break to the lowest centroid
    # id (ids are sorted ascending), matching ORDER BY sim DESC, cid
    idx = F.array_position(sims, F.array_max(sims))
    # r06: checkpoint the assignment — three consumers (keeper agg,
    # keeper gather, final compare) otherwise re-evaluate the k×d
    # interpreted codebook fold per scan (measured 1.3-1.5 s → ~1.0 s;
    # an unrolled flat-column assignment was tried and is ~3× WORSE —
    # the _codebook_lit plan-size note holds).  The frame is one row
    # per vector, the cluster-assignment table a pipeline persists.
    asg = v.select(
        "vec_id", "e", F.element_at(F.lit(ids), idx.cast("int")).alias("cluster_id")
    ).localCheckpoint()
    keep = asg.groupBy("cluster_id").agg(F.min("vec_id").alias("keeper"))
    kemb = (
        asg.join(F.broadcast(keep), "cluster_id")
        .filter(F.col("vec_id") == F.col("keeper"))
        .select("cluster_id", "keeper", F.col("e").alias("ke"))
    )
    cos = cosine(F.col("e"), F.col("ke"))
    return (
        asg.join(F.broadcast(kemb), "cluster_id")
        .select(
            "vec_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            ((F.col("vec_id") == F.col("keeper")) | (cos < F.lit(tau))).alias(
                "is_kept"
            ),
        )
    )
