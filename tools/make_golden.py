"""Regenerate the committed KG golden artifact.

`testdata_golden/kg_triples.parquet` pins the exact output of the
deterministic KG pipeline slice that `__spark_entry__.queries()`
exposes as `kg_pipeline_triples` (synth corpus n_files=500, JVM
extraction → `pipeline.release_graph`, run_id="driver"); a full sync of
the same corpus commits the same (subj, pred, obj) set.  The DuckDB oracle for `kg_pipeline_triples` /
`kg_3hop_chain` reads this parquet — the analog of the reference's
golden e2e fixtures (/root/reference/userCode/defs_test.py:75-130:
exact output objects + golden SPARQL pairs pinned in testdata).

The pipeline is partition-order-independent and seeded (synth.py), so
the artifact is reproducible byte-for-value on any layout; the pytest
`test_pipeline_golden.py::test_kg_triples_match_committed_golden`
fails loudly if the pipeline drifts from the committed file.

Usage: python tools/make_golden.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

GOLDEN_DIR = Path(__file__).resolve().parents[1] / "testdata_golden"


def main() -> None:
    from scheduler_spark.queries import kg_pipeline_triples, simhash_golden_docs
    from scheduler_spark.operators.dedup import simhash_table
    from scheduler_spark.session import get_spark

    spark = get_spark(app_name="make_golden", parallelism=8)
    t = kg_pipeline_triples(spark, sf_dir="unused")
    out = str(GOLDEN_DIR / "kg_triples.parquet")
    # one file: the artifact is tiny and committed to git
    t.coalesce(1).write.mode("overwrite").parquet(out)
    n = spark.read.parquet(out).count()
    print(f"wrote {n} triples to {out}")

    # simhash golden: (doc_id, sim) over the deterministic corpus the
    # dedup_simhash_recall gate uses — DuckDB recomputes the exact
    # hamming<=3 truth set from it (xor + bit_count), so any drift in
    # simhash_table's bits fails the gate
    sims = simhash_table(simhash_golden_docs(spark))
    out2 = str(GOLDEN_DIR / "simhash.parquet")
    sims.coalesce(1).write.mode("overwrite").parquet(out2)
    n2 = spark.read.parquet(out2).count()
    print(f"wrote {n2} simhash rows to {out2}")
    spark.stop()


if __name__ == "__main__":
    main()
