"""Benchmark entry point.

    python3 perfbench/run.py --workload {kg_sync,query_bank}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Builds one Spark session on
local[nproc-1], sets up the workload (inputs, catalog priming, warm-up),
then runs one client in a closed loop for ``--seconds`` and prints one
JSON line: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``.  Everything it writes lives under
``.perfbench_work/`` in the repository and is removed at exit.  See
perfbench/README.md for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ["kg_sync", "query_bank"]
DRIVER_MEM = "3g"
# whole ops run before measuring.  kg_sync's set-up already runs a cold
# full sync and a resync (see kgload.KgSync); one more warm-up op would
# cost 17 s of every run, which the benchmark's total time cannot spare
WARM_UP_OPS = {"kg_sync": 0, "query_bank": 1}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> int:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    returns the local[N] thread count."""
    for sub in ("tmp", "local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, str(ROOT))
    return cpus


def build_session(work: Path, cpus: int, trace: bool):
    from scheduler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no /tmp/hsperfdata file: the JVM writes only inside the work dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", parallelism=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- a JVM that will not stop is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str, spark, work: Path, seed: int):
    if name == "query_bank":
        from querybank import QueryBank

        return QueryBank(spark, str(work), str(ROOT))
    from kgload import KgSync

    return KgSync(spark, str(work), seed)


def step_medians(rec, steps: list[str]) -> dict[str, float]:
    """The untraced ops' step medians under the step.* names (0 where
    the workload has no such step)."""
    from harness import geomean

    def med(kind: str) -> float:
        return statistics.median(rec.samples[kind]) if rec.samples.get(kind) else 0.0

    queries = [s for s in steps if s.startswith("q.")]
    return {
        "step.sync_s": med("sync"),
        "step.resync_s": med("resync"),
        "step.noop_sync_s": med("noop"),
        "step.pass_s": med("op") if queries else 0.0,
        "step.query_geomean_s": geomean([med(q) for q in queries]) if queries else 0.0,
    }


def run(args: argparse.Namespace, work: Path, cpus: int) -> dict:
    from harness import Recorder, closed_loop, log, result_line
    from layers import per_layer
    from querybank import MIX
    from spans import Tracer, jvm_gc_seconds, jvm_pid, patched, peak_rss_mb, read_event_log

    t0 = time.perf_counter()
    spark = build_session(work, cpus, bool(args.trace))
    wl = None
    try:
        wl = make_workload(args.workload, spark, work, args.seed)
        rec = Recorder()
        tracer = Tracer(spark) if args.trace else None
        patches = wl.patches(tracer) if tracer else []
        gc_by_op: dict[int, float] = {}
        traced_ops: list[int] = []
        untraced_ops: list[int] = []

        def run_op(i: int, traced: bool, measured: bool) -> float | None:
            tag = "@trace" if traced else ("" if measured else "@warm")
            if tracer is None:
                return wl.op(i, rec, None, tag)
            tracer.begin_op(i)
            gc0 = jvm_gc_seconds(spark)
            try:
                if traced:
                    with patched(patches):
                        return wl.op(i, rec, tracer, tag)
                return wl.op(i, rec, None, tag)
            finally:
                gc_by_op[i] = jvm_gc_seconds(spark) - gc0
                tracer.end_op()
                if measured:
                    (traced_ops if traced else untraced_ops).append(i)

        wl.setup(rec)
        n_warm = WARM_UP_OPS[args.workload]
        for i in range(n_warm):
            run_op(i, False, False)
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s with {n_warm} warm-up ops; measuring {args.seconds:g}s")
        closed_loop(
            args.seconds,
            lambda j: run_op(n_warm + j, bool(args.trace) and j % 2 == 1, True),
            min_ops=2 if args.trace else 1,
        )
        for kind, values in sorted(rec.samples.items()):
            log(f"{kind}: n={len(values)} median={statistics.median(values):.3f}s")
        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_s": (rec.median("op"), "s"),
                "step_geomean_s": (rec.geomean_of_medians(wl.steps), "s"),
            }
            return result_line(rec, metrics)
        run_facts = {
            "mem.peak_rss_mb": peak_rss_mb([os.getpid(), jvm_pid(spark)]),
            "trace.overhead_s": rec.median("op@trace") - rec.median("op"),
            **step_medians(rec, wl.steps),
        }
    finally:
        if hasattr(wl, "close"):
            wl.close()
        stop_session(spark)
    events = read_event_log(str(work / "events"))
    metrics = per_layer(tracer.spans, events, traced_ops, untraced_ops, gc_by_op, run_facts, MIX)
    return result_line(rec, metrics)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        cpus = prepare_env(work)
        result = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's dir is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
