"""The spark-submit job surface (python -m scheduler_spark): full run,
idempotent re-run (bytesum-skip analog), and the strict exit-3
contract — driven in-process against the session fixture."""

from __future__ import annotations

import json

from scheduler_spark.__main__ import EXIT_STRICT_QUARANTINE, main
from scheduler_spark.catalog import Catalog


def _run(spark, capsys, args):
    code = main(args, spark=spark)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    return code, out


def test_cli_job_runs_and_resumes(spark, tmp_path, capsys):
    cat = str(tmp_path / "kg")
    code, out = _run(
        spark, capsys, ["--input", "synth:300", "--catalog", cat, "--run-id", "r1"]
    )
    assert code == 0
    assert list(out) == [
        "run_id", "n_partitions_processed", "n_triples", "snapshot_id",
        "skipped", "n_quarantined", "n_pruned_partitions",
    ]
    assert out["n_triples"] > 0 and out["skipped"] is False
    assert Catalog(cat, spark).read("triples").count() == out["n_triples"]

    # identical corpus again — checkpoint anti-join skips every partition
    code2, out2 = _run(
        spark, capsys, ["--input", "synth:300", "--catalog", cat, "--run-id", "r2"]
    )
    assert code2 == 0
    assert out2["skipped"] is True
    assert out2["n_partitions_processed"] == 0


def test_cli_job_strict_exit_code(spark, tmp_path, capsys):
    bad = spark.createDataFrame(
        [("repoA", "a.py", "c1", "python", None)],
        "repo string, path string, commit string, lang string, content string",
    )
    src = str(tmp_path / "bad_corpus.parquet")
    bad.write.parquet(src)
    code, out = _run(
        spark,
        capsys,
        ["--input", src, "--catalog", str(tmp_path / "kg2"),
         "--run-id", "r1", "--strict"],
    )
    assert code == EXIT_STRICT_QUARANTINE
    assert out["strict"] is True


def test_cli_corpus_job(spark, tmp_path, capsys):
    code, out = _run(
        spark,
        capsys,
        ["--job", "corpus", "--input", "/root/testdata/sf0.001/documents.parquet",
         "--catalog", str(tmp_path / "kg3"), "--run-id", "c1"],
    )
    assert code == 0
    assert out["n_train"] > 0
    assert out["n_input"] == (
        out["n_quality_rejected"] + out["n_exact_dups"] + out["n_near_dups"]
        + out["n_train"] + out["n_val"]
    )
