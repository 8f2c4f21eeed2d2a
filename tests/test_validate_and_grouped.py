"""Batch validation (SHACL-sidecar analog) + IVF ANN."""

from __future__ import annotations

from pyspark.sql import functions as F

from scheduler_spark.operators.similarity import brute_force_topk, ivf_ann_topk
from scheduler_spark.operators.validate import validate_files
from scheduler_spark.synth import synth_files


def test_validate_flags_each_rule(spark):
    rows = [
        ("r", "ok.py", "a" * 40, "python", "import os\n"),
        ("r", "bad_commit.py", "ZZZ", "python", "import os\n"),
        ("r", "empty.py", "b" * 40, "python", ""),
        ("r", "weird.rb", "c" * 40, "ruby", "puts 1\n"),
        ("r", "../escape.py", "d" * 40, "python", "import os\n"),
        ("r", "null_commit.py", None, "python", "import os\n"),
    ]
    files = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    got = {r.path: (r.is_valid, r.reason) for r in validate_files(files).collect()}
    assert got["ok.py"] == (True, None)
    assert got["bad_commit.py"] == (False, "malformed_commit")
    # a NULL commit is malformed, not silently well-formed (na=False)
    assert got["null_commit.py"] == (False, "malformed_commit")
    assert got["empty.py"] == (False, "empty_content")
    assert got["weird.rb"] == (False, "unknown_lang")
    assert got["../escape.py"] == (False, "suspicious_path")


def test_synth_corpus_fully_valid(spark):
    files = synth_files(spark, 200)
    v = validate_files(files)
    assert v.filter(~F.col("is_valid")).count() == 0


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
