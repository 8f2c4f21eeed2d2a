"""Per-layer metrics from the spans and the event log of a traced run.

Every metric is reported on every workload: a layer a workload does not
reach reads 0.  Layer values are per op (full sync, resync and no-op
resync, or one pass over the query mix), as the median over the traced ops;
``jvm.*`` are per op over the untraced ops of the same run, so the
trace's own jobs are not counted.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import MB, LayerJobs, Span

KG_METRICS = [
    ("checkpoint.s", "s"), ("checkpoint.partitions", "count"),
    ("checkpoint.dirty", "count"), ("checkpoint.dirty_ratio", "ratio"),
    ("extract.s", "s"), ("extract.rows_in", "count"), ("extract.rows_out", "count"),
    ("extract.task_skew", "ratio"),
    ("link.s", "s"), ("link.rows_in", "count"), ("link.rows_out", "count"),
    ("lsh.s", "s"), ("lsh.values_in", "count"), ("lsh.edges_out", "count"), ("lsh.shuffle_mb", "MB"),
    ("cc.s", "s"), ("cc.edges_in", "count"), ("cc.entities_out", "count"), ("cc.jobs", "count"),
    ("triples.s", "s"), ("triples.rows_in", "count"), ("triples.rows_out", "count"),
    ("triples.shuffle_mb", "MB"),
    ("lineage.s", "s"),
    ("catalog.s", "s"), ("catalog.commits", "count"), ("catalog.mb_written", "MB"),
    ("catalog.files_written", "count"),
    ("pipeline.self_s", "s"), ("pipeline.shuffle_mb", "MB"),
    ("trace.self_s", "s"),
]
JVM_METRICS = [
    ("jvm.gc_s", "s"), ("jvm.jobs", "count"), ("jvm.tasks", "count"), ("jvm.spill_mb", "MB"),
]
# measured once per run, not per traced op
RUN_METRICS = [
    ("mem.peak_rss_mb", "MB"), ("trace.overhead_s", "s"),
    ("step.sync_s", "s"), ("step.resync_s", "s"), ("step.noop_sync_s", "s"),
    ("step.pass_s", "s"), ("step.query_geomean_s", "s"),
]
# rows a span reports, by the function it wraps
ROW_METRICS = {
    "fingerprint_partitions": (None, "checkpoint.partitions"),
    "dirty_partitions": (None, "checkpoint.dirty"),
    "extract_mentions": ("extract.rows_in", "extract.rows_out"),
    "link_by_alias": ("link.rows_in", "link.rows_out"),
    "lsh_candidate_pairs": ("lsh.values_in", "lsh.edges_out"),
    "canonicalize_values": ("cc.edges_in", "cc.entities_out"),
    "connected_components": ("cc.edges_in", "cc.entities_out"),
    "build_triples": ("triples.rows_in", "triples.rows_out"),
}
SELF_TIME = {"pipeline": "pipeline.self_s", "trace": "trace.self_s"}
SHUFFLE = {"lsh": "lsh.shuffle_mb", "triples": "triples.shuffle_mb", "pipeline": "pipeline.shuffle_mb"}


def metric_units(queries: list[str]) -> list[tuple[str, str]]:
    qm = [m for q in queries for m in ((f"q.{q}.s", "s"), (f"q.{q}.jobs", "count"))]
    return KG_METRICS + qm + JVM_METRICS + RUN_METRICS


def _op_values(spans: list[Span], events: dict[tuple[int, str], LayerJobs], op: int) -> dict[str, float]:
    acc: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.op != op:
            continue
        acc[SELF_TIME.get(s.layer, f"{s.layer}.s")] += s.self_s
        rows_in, rows_out = ROW_METRICS.get(s.fn, (None, None))
        if rows_in is not None:
            acc[rows_in] += s.rows_in or 0
        if rows_out is not None:
            acc[rows_out] += s.rows_out or 0
        if s.layer == "catalog":
            acc["catalog.commits"] += 1
            acc["catalog.mb_written"] += s.extra.get("bytes", 0) / MB
            acc["catalog.files_written"] += s.extra.get("files", 0)
    if acc["checkpoint.partitions"]:
        acc["checkpoint.dirty_ratio"] = acc["checkpoint.dirty"] / acc["checkpoint.partitions"]
    extract = LayerJobs()
    for (o, path), jobs in events.items():
        if o != op:
            continue
        layer = path.rsplit("/", 1)[-1]
        if layer in SHUFFLE:
            acc[SHUFFLE[layer]] += jobs.shuffle_bytes / MB
        if layer == "cc":
            acc["cc.jobs"] += jobs.jobs
        if layer == "extract":
            for sid, times in jobs.stage_tasks.items():
                extract.stage_tasks[sid].extend(times)
        root = path.split("/", 1)[0]
        if root.startswith("q."):
            acc[f"{root}.jobs"] += jobs.jobs
    acc["extract.task_skew"] = extract.task_skew()
    return acc


def _jvm_values(events: dict[tuple[int, str], LayerJobs], op: int, gc_s: float) -> dict[str, float]:
    acc = {"jvm.gc_s": gc_s, "jvm.jobs": 0.0, "jvm.tasks": 0.0, "jvm.spill_mb": 0.0}
    for (o, _path), jobs in events.items():
        if o == op:
            acc["jvm.jobs"] += jobs.jobs
            acc["jvm.tasks"] += jobs.tasks
            acc["jvm.spill_mb"] += jobs.spill_bytes / MB
    return acc


def _median(per_op: list[dict[str, float]], name: str) -> float:
    return statistics.median(d.get(name, 0.0) for d in per_op) if per_op else 0.0


def per_layer(
    spans: list[Span],
    events: dict[tuple[int, str], LayerJobs],
    traced_ops: list[int],
    untraced_ops: list[int],
    gc_by_op: dict[int, float],
    run_facts: dict[str, float],
    queries: list[str],
) -> dict[str, tuple[float, str]]:
    traced = [_op_values(spans, events, op) for op in traced_ops]
    untraced = [_jvm_values(events, op, gc_by_op.get(op, 0.0)) for op in untraced_ops]
    out: dict[str, tuple[float, str]] = {}
    for name, unit in metric_units(queries):
        if name in run_facts:
            value = run_facts[name]
        elif name.startswith("jvm."):
            value = _median(untraced, name)
        else:
            value = _median(traced, name)
        out[name] = (value, unit)
    return out
