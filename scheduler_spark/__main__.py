"""spark-submit entry point: one incremental KG sync as a cluster job.

    spark-submit --py-files scheduler_spark.zip -m ...  # cluster
    python -m scheduler_spark --input synth:2000 \
        --catalog /tmp/kg --run-id r1 --local-cores 8   # local

Mirrors the reference's job surface (`harvest_and_release_as_nq`,
/root/reference/userCode/defs.py:33-68, CLI exit-code contract
lib/utils.py:89-97): reads the `(repo, path, commit, lang, content)`
corpus, runs the full pipeline (validate → salted extraction → link →
canonicalize → triples) into the catalog, prints ONE JSON result line,
and exits 0 on success / 3 when strict mode escalates quarantined rows
(the reference treats nabu exit 3 as the partial-failure code).

On a real cluster spark-submit owns the master/deploy-mode config, so
the job only *builds* a session when none exists; --local-cores forces
a local[N] session for sandbox runs.
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import asdict

from pyspark.sql import SparkSession

from .catalog import Catalog
from .pipeline import RunTimeoutError, StrictModeError, run_pipeline
from .synth import alias_df, synth_files

EXIT_STRICT_QUARANTINE = 3
EXIT_RUN_TIMEOUT = 4


def _build_session(local_cores: int | None) -> SparkSession:
    if local_cores is not None:
        from .session import get_spark

        return get_spark(app_name="kg_pipeline_job", parallelism=local_cores)
    # under spark-submit the active session/config is the cluster's own
    return SparkSession.builder.appName("kg_pipeline_job").getOrCreate()


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m scheduler_spark")
    p.add_argument("--job", choices=["kg", "corpus"], default="kg",
                   help="kg: incremental KG sync; corpus: training-corpus "
                        "prep (quality→dedup→split→pack)")
    p.add_argument("--input", required=True,
                   help="parquet path of the files corpus, or synth:<n_files>; "
                        "for --job corpus: parquet with (doc_id, source, text)")
    p.add_argument("--aliases", default=None,
                   help="parquet path of the (alias, entity_id) dictionary; "
                        "default: the deterministic synthetic dictionary")
    p.add_argument("--catalog", required=True, help="catalog root directory")
    p.add_argument("--run-id", required=True)
    p.add_argument("--salt", type=int, default=8)
    p.add_argument("--strict", action="store_true",
                   help="escalate quarantined rows to a failed run (exit 3)")
    p.add_argument("--max-runtime-seconds", type=float, default=None,
                   help="abort the run cleanly (exit 4) if it exceeds this "
                        "wall-clock budget: data tables stay at their "
                        "previous snapshot (only quarantine diagnostics may "
                        "have been recorded) and the next run resumes from "
                        "the committed checkpoint (the reference's "
                        "run-monitor max_runtime_seconds)")
    p.add_argument("--local-cores", type=int, default=None,
                   help="force a local[N] session (omit under spark-submit)")
    args = p.parse_args(argv)

    own_session = spark is None
    if spark is None:
        spark = _build_session(args.local_cores)

    if args.job == "corpus":
        from .operators.corpus import prepare_training_corpus

        docs = spark.read.parquet(args.input).select("doc_id", "source", "text")
        res = asdict(
            prepare_training_corpus(
                docs, Catalog(args.catalog, spark), run_id=args.run_id
            )
        )
        print(json.dumps(res))
        if own_session and args.local_cores is not None:
            spark.stop()
        return 0

    if args.input.startswith("synth:"):
        files = synth_files(spark, int(args.input.split(":", 1)[1]))
    else:
        files = spark.read.parquet(args.input)
    aliases = (
        spark.read.parquet(args.aliases) if args.aliases else alias_df(spark)
    )

    code = 0
    try:
        out = asdict(
            run_pipeline(
                spark, files, aliases, Catalog(args.catalog, spark),
                run_id=args.run_id, salt=args.salt, strict=args.strict,
                max_runtime_seconds=args.max_runtime_seconds,
            )
        )
    except StrictModeError as e:
        out = {"run_id": args.run_id, "error": str(e), "strict": True}
        code = EXIT_STRICT_QUARANTINE
    except RunTimeoutError as e:
        out = {
            "run_id": args.run_id, "error": str(e),
            "timed_out_stage": e.stage,
        }
        code = EXIT_RUN_TIMEOUT
    print(json.dumps(out))
    if own_session and args.local_cores is not None:
        spark.stop()
    return code


if __name__ == "__main__":
    sys.exit(main())
