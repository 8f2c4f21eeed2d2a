"""Dedup + similarity operator correctness against brute-force truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from scheduler_spark.operators.dedup import (
    ngram_jaccard_pairs,
    simhash64,
    simhash_pairs,
)
from scheduler_spark.operators.similarity import brute_force_topk, ivf_ann_topk, lsh_ann_topk


def test_simhash_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot"),
            (2, "alpha bravo charlie delta echo foxtrot"),
            (3, "zq xv wk pj ml nh bg"),
        ],
        "doc_id long, text string",
    )
    rows = df.select("doc_id", simhash64(F.col("text")).alias("s")).collect()
    sims = {r.doc_id: r.s for r in rows}
    assert sims[1] == sims[2]
    assert sims[1] != sims[3]
    pairs = simhash_pairs(df, max_hamming=0).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_simhash_table_equals_expression_path(spark):
    """The shuffle-friendly agg path must produce bit-identical hashes
    to the column-expression fold (including the zero-token doc)."""
    from scheduler_spark.operators.dedup import simhash_table

    rows = [
        (1, "alpha bravo charlie delta"),
        (2, "the quick brown fox 123 jumps"),
        (3, ""),
        (4, "!!! ???"),  # tokens empty after normalization
        (5, "alpha bravo charlie delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {r.doc_id: r.s for r in df.select("doc_id", simhash64(F.col("text")).alias("s")).collect()}
    table = {r.doc_id: r.sim for r in simhash_table(df).collect()}
    assert table == expr
    assert table[3] == 0 and table[4] == 0


def test_ngram_jaccard_pairs_threshold(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "a"),
            (2, "the quick brown fox jumps over the lazy cat", "a"),
            (3, "completely different text with nothing shared", "a"),
            (4, "the quick brown fox jumps over the lazy dog", "b"),  # other block
        ],
        "doc_id long, text string, source string",
    )
    pairs = ngram_jaccard_pairs(df, block_col="source", threshold=0.6).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]


def test_minhash_lsh_doc_pairs_match_exact_twin(spark):
    """LSH-blocked pairs == exact all-pairs jaccard on a corpus where
    recall is guaranteed (near-dups at J≥0.7, 16 single-row bands)."""
    from scheduler_spark.operators.dedup import minhash_lsh_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today", "a"),
        (2, "the quick brown fox jumps over the lazy dog todaz", "a"),  # near-dup of 1
        (3, "completely unrelated text about spark partitions!!", "a"),
        (4, "the quick brown fox jumps over the lazy dog today", "b"),  # other block
        (5, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo nn", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    lsh = {
        (p.doc_a, p.doc_b)
        for p in minhash_lsh_pairs(df, block_col="source", threshold=0.7).collect()
    }
    exact = {
        (p.doc_a, p.doc_b)
        for p in ngram_jaccard_pairs(df, block_col="source", threshold=0.7).collect()
    }
    assert lsh == exact == {(1, 2)}  # cross-block (1,4) is never a candidate


def test_minhash_lsh_past_the_bitmap_vocabulary_uses_the_array_verify(spark, monkeypatch):
    """Over 16,384 distinct shingles the bitmap verify declines after
    collecting one row past its gate, and the array-intersect fallback
    returns exactly the exact twin's pairs (the planted near-dups)."""
    import random

    from scheduler_spark.operators.dedup import _bitmap_verify, _minhash_base, minhash_lsh_pairs

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    texts = ["".join(rng.choice(alphabet) for _ in range(100)) for _ in range(300)]
    for i in range(0, 10, 2):  # doc i+1 is doc i with its last char changed
        texts[i + 1] = texts[i][:-1] + ("x" if texts[i][-1] != "x" else "y")
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    base = _minhash_base(df, "doc_id", "text", None, 3)
    vocab = base.select(F.explode("s")).distinct().count()
    assert vocab > 16384

    collected = []
    original = type(base).collect

    def recording(self):
        rows = original(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(base), "collect", recording)
    cand = spark.createDataFrame([], "doc_a long, doc_b long")
    assert _bitmap_verify(cand, base, "doc_a", "doc_b", 0.7) is None
    assert collected == [16385]
    monkeypatch.undo()

    lsh = {(p.doc_a, p.doc_b) for p in minhash_lsh_pairs(df, threshold=0.7).collect()}
    exact = {(p.doc_a, p.doc_b) for p in ngram_jaccard_pairs(df, threshold=0.7).collect()}
    assert lsh == exact == {(i, i + 1) for i in range(0, 10, 2)}


def test_embedding_lsh_pairs_match_exact_cosine(spark):
    from scheduler_spark.operators.similarity import embedding_lsh_pairs

    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.randn(40, 16).astype("float64")
    base[1] = base[0] + 0.05 * rng.randn(16)  # planted near-dup pair (0,1)
    base[7] = base[6] + 0.05 * rng.randn(16)  # planted near-dup pair (6,7)
    df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(40)], "vec_id long, embedding array<double>"
    )
    Vn = base / np.linalg.norm(base, axis=1, keepdims=True)
    S = Vn @ Vn.T
    exact = {
        (i, j)
        for i in range(40) for j in range(i + 1, 40)
        if S[i, j] >= 0.8
    }
    got = {
        (p.vec_a, p.vec_b)
        for p in embedding_lsh_pairs(df, dim=16, threshold=0.8).collect()
    }
    assert {(0, 1), (6, 7)} <= exact
    assert got == exact


def test_embedding_lsh_pairs_skip_wrong_size_vectors(spark):
    """Null, empty, short and long vectors get no band bucket and never
    raise (a long one used to index past the hyperplane under ANSI);
    the dim-correct near-duplicate pair next to them is still found."""
    from scheduler_spark.operators.similarity import embedding_lsh_pairs

    import numpy as np

    rng = np.random.RandomState(5)
    v0 = rng.randn(16)
    v1 = v0 + 0.05 * rng.randn(16)
    rows = [
        (0, v0.tolist()),
        (1, v1.tolist()),
        (2, None),
        (3, []),
        (4, v0[:15].tolist()),
        (5, v0.tolist() + [0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(p.vec_a, p.vec_b) for p in embedding_lsh_pairs(df, dim=16, threshold=0.8).collect()}
    assert got == {(0, 1)}


def test_lsh_ann_finds_planted_near_duplicates(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(50, 16).astype("float32")
    corpus_rows = [(i, base[i].tolist()) for i in range(50)]
    # queries = tiny perturbations of corpus vectors 0..4: the true
    # nearest neighbor is known (cos ≈ 0.999) — LSH's actual contract
    # is finding near-parallel vectors, not ranking unrelated ones
    query_rows = [
        (100 + i, (base[i] + 0.01 * rng.randn(16).astype("float32")).tolist())
        for i in range(5)
    ]
    df = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(query_rows, "vec_id long, embedding array<float>")
    exact = brute_force_topk(q, df, k=1, vec_col="embedding")
    approx = lsh_ann_topk(q, df, k=1, vec_col="embedding", dim=16, n_planes=2)
    exact_top1 = {r.qid: r.cid for r in exact.collect()}
    approx_top1 = {r.qid: r.cid for r in approx.collect()}
    assert exact_top1 == {100 + i: i for i in range(5)}
    # near-parallel vectors agree on hyperplane signs → same bucket
    for i in range(5):
        assert approx_top1.get(100 + i) == i


def test_brute_force_topk_is_exact(spark):
    # hand-checkable: orthonormal-ish vectors
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = brute_force_topk(df.filter(F.col("vec_id") == 0), df, k=2).collect()
    assert [(r.cid, r.rank) for r in got] == [(1, 1), (2, 2)] or [
        (r.cid, r.rank) for r in got
    ] == [(1, 1), (3, 2)]
    assert got[0].cid == 1


def test_winnow_guarantee_shared_substring(spark):
    """The winnowing guarantee (Schleimer et al. §2): two docs sharing
    a normalized substring of length >= w + k - 1 (= 15 chars here)
    share at least one selected fingerprint; a doc with disjoint
    alphabet shares none."""
    from scheduler_spark.operators.dedup import winnow_copy_pairs, winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, f"prefix one {shared} suffix alpha"),
            (2, f"other beginning {shared} different tail"),
            (3, "zq xv wk pj ml nh bg 0123 456789 zzz qqq vvv"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=8, w=8)
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fingerprint").alias("fps")).collect()
    }
    assert by_doc[1] & by_doc[2], "docs sharing a long substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    pairs = winnow_copy_pairs(df, min_shared=1, max_posting=64).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}


def test_winnow_short_doc_boundary(spark):
    """Docs shorter than k emit nothing; between k and w+k-1 chars the
    single global-minimum gram is selected (standard boundary rule)."""
    from scheduler_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abcdefghij"), (3, "")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, k=8, w=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.fingerprint)
    assert 1 not in by_doc and 3 not in by_doc
    assert len(by_doc[2]) == 1  # 3 grams, m < w -> one global min


def test_winnow_posting_cap_drops_boilerplate(spark):
    """A fingerprint present in more docs than max_posting never joins:
    with the boilerplate line in every doc and cap=2, only the pair
    sharing UNIQUE content survives."""
    from scheduler_spark.operators.dedup import winnow_copy_pairs

    boiler = "copyright acme corp all rights reserved"
    unique = "completely unique payload only in two documents"
    df = spark.createDataFrame(
        [
            (1, f"{boiler} {unique}"),
            (2, f"{boiler} {unique}"),
            (3, f"{boiler} nothing else in common here zq"),
            (4, f"{boiler} and some other filler entirely xv"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_copy_pairs(df, min_shared=1, max_posting=2).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}


def test_ivfpq_finds_planted_neighbors(spark):
    """IVF-PQ with a planted near-duplicate cluster: the shortlist +
    exact re-rank must put the planted neighbors at the top ranks with
    sims identical to the brute-force baseline's (same cosine expr on
    the same original vectors)."""
    import numpy as np

    from scheduler_spark.operators.similarity import ivfpq_ann_topk

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    # vectors 0..2 are jittered copies of one another
    base[1] = base[0] + 0.01 * rng.randn(16)
    base[2] = base[0] + 0.01 * rng.randn(16)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    got = ivfpq_ann_topk(
        q, df, k=3, n_lists=4, n_probes=4, m_subspaces=4, n_codes=8,
        shortlist=10, train_sample=40,
    ).collect()
    assert [r.cid for r in got][:2] == [1, 2] or [r.cid for r in got][:2] == [2, 1]
    exact = {
        (r.qid, r.cid): r.sim for r in brute_force_topk(q, df, k=3).collect()
    }
    for r in got:
        assert exact[(r.qid, r.cid)] == r.sim


def test_ivfpq_rejects_indivisible_subspaces(spark):
    import pytest

    from scheduler_spark.operators.similarity import ivfpq_ann_topk

    df = spark.createDataFrame(
        [(0, [0.1] * 10), (1, [0.2] * 10)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_ann_topk(df, df, m_subspaces=3, train_sample=2).count()


def test_pq_encode_arrow_matches_jvm(spark):
    """The Arrow/numpy index-build encoder must produce the IDENTICAL
    (cell, codes) assignment as the pure-JVM expression encoder — same
    model, same normalization, same argmin tie rule (lowest id)."""
    import numpy as np

    from scheduler_spark.operators.similarity import (
        pq_encode,
        pq_encode_arrow,
        train_pq_model,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(300, 16)
    base[5] = 0.0  # zero vector exercises the nrm==0 guard on both paths
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = train_pq_model(df, n_lists=8, m_subspaces=4, n_codes=8, train_sample=300)
    jvm = {r.cid: (r.cell, tuple(r.codes)) for r in pq_encode(df, model).collect()}
    arrow = {
        r.cid: (r.cell, tuple(r.codes)) for r in pq_encode_arrow(df, model).collect()
    }
    assert jvm == arrow


def test_ivfpq_prebuilt_index_matches_inline(spark):
    """ivfpq_ann_topk over a materialized pq_encode_arrow index returns
    the same ranking as the inline JVM-encode path (same trained model,
    so the cell/code assignments — and therefore shortlists — agree).

    The prebuilt call deliberately does NOT re-pass the quantizer shape
    (m_subspaces etc. stay at their defaults, which DIFFER from the
    model's 4 subspaces): with index/model given, every structural
    parameter must come from the model — this pinned a bug where the
    ADC sum iterated over the m_subspaces argument and referenced
    non-existent lut columns."""
    import numpy as np

    from scheduler_spark.operators.similarity import (
        ivfpq_ann_topk,
        pq_encode_arrow,
        train_pq_model,
    )

    rng = np.random.RandomState(13)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 5)
    kw = dict(n_lists=4, n_probes=2, m_subspaces=4, n_codes=8, train_sample=120)
    model = train_pq_model(df, n_lists=4, m_subspaces=4, n_codes=8, train_sample=120)
    inline = ivfpq_ann_topk(q, df, k=5, **kw).collect()
    prebuilt = ivfpq_ann_topk(
        q, df, k=5, n_probes=2, index=pq_encode_arrow(df, model), model=model
    ).collect()
    key = lambda r: (r.qid, r.rank)  # noqa: E731
    assert {key(r): (r.cid, r.sim) for r in inline} == {
        key(r): (r.cid, r.sim) for r in prebuilt
    }


def test_ivfpq_index_model_must_pair(spark):
    import pytest

    from scheduler_spark.operators.similarity import ivfpq_ann_topk, train_pq_model

    df = spark.createDataFrame(
        [(0, [0.1] * 8), (1, [0.2] * 8)], "vec_id long, embedding array<float>"
    )
    m = train_pq_model(df, n_lists=2, m_subspaces=2, n_codes=2, train_sample=2)
    with pytest.raises(ValueError, match="both index and model"):
        ivfpq_ann_topk(df, df, model=m)


def test_prefix_jaccard_equals_quadratic_on_corpus(spark):
    """Completeness of the prefix filter: the PPJoin-style path must
    return EXACTLY the quadratic yardstick's pairs (same jac values)
    on the real sf0.001 corpus — no recall threshold, set equality."""
    from scheduler_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast = {
        (p.doc_a, p.doc_b, p.jac)
        for p in prefix_jaccard_pairs(df, block_col="source", threshold=0.7).collect()
    }
    slow = {
        (p.doc_a, p.doc_b, round(p.jac, 6))
        for p in ngram_jaccard_pairs(df, block_col="source", threshold=0.7).collect()
    }
    assert fast == slow and len(fast) > 0


def test_prefix_jaccard_integral_prefix_length(spark):
    """n=10 shingles at t=0.7 makes t·n integral — the ceil-noise
    input class the operator's −1e-9 guard covers.  A qualifying pair
    at this size must still be found.  (The guard itself is
    defense-in-depth: per the docstring math, even a one-token-short
    prefix stays complete at these thresholds because the per-side
    α=⌈t·n⌉ bound is looser than the pair bound — so this pins the
    input class, no fixture can make the guard itself load-bearing.)"""
    from scheduler_spark.operators.dedup import prefix_jaccard_pairs

    rows = [
        (1, "abcdefghijkl", "a"),
        (2, "abcdefghijkl", "a"),   # exact duplicate: J = 1.0
        (3, "zzzzyyyyxxxx", "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (p.doc_a, p.doc_b)
        for p in prefix_jaccard_pairs(df, block_col="source", threshold=0.7).collect()
    }
    assert got == {(1, 2)}


def test_prefix_jaccard_plan_is_equi_join(spark):
    """The candidate stage must never degrade to a cartesian/BNL join:
    the block² shape is exactly what this operator exists to avoid."""
    from scheduler_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = prefix_jaccard_pairs(
        df, block_col="source", threshold=0.7
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_finds_embedded_doc_jaccard_misses(spark):
    """A short doc inside a much longer one: containment ≈ 1 while
    J ≈ |A|/|B| is far below any resemblance threshold — the operator's
    reason to exist."""
    from scheduler_spark.operators.dedup import prefix_containment_pairs

    small = "the quick brown fox jumps over the lazy dog"
    big = small + " " + "while seventeen unrelated astronauts measured" \
        " granite boulders beneath the equatorial monsoon" * 3
    rows = [
        (1, small, "a"),
        (2, big, "a"),
        (3, "completely disjoint payload qqq www zzz", "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (p.doc_a, p.doc_b): (p.cont, p.jac)
        for p in prefix_containment_pairs(df, block_col="source").collect()
    }
    assert set(got) == {(1, 2)}
    cont, jac = got[(1, 2)]
    assert cont == 1.0          # every shingle of the small doc is in the big one
    assert jac < 0.5            # and resemblance would never have flagged it


def test_containment_respects_blocks_and_threshold(spark):
    from scheduler_spark.operators.dedup import prefix_containment_pairs

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, base, "a"),
        (2, base + " kilo", "b"),            # contained, but different block
        (3, "alpha bravo zz yy xx ww vv uu tt ss", "a"),  # shares a bit, below t
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert prefix_containment_pairs(df, block_col="source").count() == 0


def test_containment_matches_quadratic_truth(spark):
    """Candidate generation is provably complete — pin it against the
    blocked all-pairs contract on the sf0.001 corpus, boundary pairs
    included (the 10·inter ≥ 9·min integer test, no float ulp play)."""
    from scheduler_spark.operators.dedup import (
        _minhash_base,
        prefix_containment_pairs,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sets = (
        _minhash_base(df, "doc_id", "text", "source", 3)
        .withColumn("n", F.size("s"))
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("block").alias("ba"),
        F.col("s").alias("sa"), F.col("n").alias("na"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("block").alias("bb"),
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    truth = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, (F.col("ba") == F.col("bb")) & (F.col("doc_a") < F.col("doc_b")))
        .filter(F.lit(10) * inter >= F.lit(9) * F.least("na", "nb"))
        .select("doc_a", "doc_b")
        .collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_containment_pairs(df, block_col="source").collect()
    }
    assert got == truth and len(truth) > 0


def test_containment_plan_is_equi_join(spark):
    """Probe×postings must plan as a shuffled equi-join — a cartesian
    here would mean the asymmetric prefix filter silently regressed to
    the quadratic contract."""
    from scheduler_spark.operators.dedup import prefix_containment_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = prefix_containment_pairs(
        df, block_col="source"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_ann_finds_planted_neighbors(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randn(80, 16).astype("float32")
    corpus = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(80)], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [
            (200 + i, (base[i] + 0.01 * rng.randn(16).astype("float32")).tolist())
            for i in range(5)
        ],
        "vec_id long, embedding array<float>",
    )
    exact = {r.qid: r.cid for r in brute_force_topk(queries, corpus, k=1, vec_col="embedding").collect()}
    assert exact == {200 + i: i for i in range(5)}
    approx = {
        r.qid: r.cid
        for r in ivf_ann_topk(
            queries, corpus, k=1, vec_col="embedding", n_lists=4, n_probes=2
        ).collect()
    }
    # a near-identical vector quantizes to the same (or probed) cell
    assert approx == exact


def test_ivf_training_sample_not_first_partition_biased(spark):
    """Clustered corpus sorted so the first partition holds ONE cluster:
    a `.limit()` sample would train the quantizer on that cluster alone
    and the planted neighbors in other clusters would land in one
    mega-cell.  The hash-ordered sample must keep finding them."""
    import numpy as np

    rng = np.random.RandomState(5)
    # 4 well-separated clusters of 25, ids assigned IN cluster order and
    # a single output partition per cluster via repartitionByRange
    centers = np.eye(4, 16, dtype="float64") * 10.0
    rows = []
    for cl in range(4):
        for j in range(25):
            v = centers[cl] + 0.05 * rng.randn(16)
            rows.append((cl * 25 + j, v.astype("float32").tolist()))
    corpus = (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        .repartitionByRange(4, "vec_id")
        .sortWithinPartitions("vec_id")
    )
    queries = spark.createDataFrame(
        [(1000 + cl, (centers[cl] + 0.01 * rng.randn(16)).astype("float32").tolist()) for cl in range(4)],
        "vec_id long, embedding array<float>",
    )
    exact = {r.qid: r.cid for r in brute_force_topk(queries, corpus, k=1, vec_col="embedding").collect()}
    approx = {
        r.qid: r.cid
        for r in ivf_ann_topk(
            queries, corpus, k=1, vec_col="embedding", n_lists=4, n_probes=1,
            train_sample=40,  # < corpus size so sampling strategy matters
        ).collect()
    }
    assert approx == exact
