"""Tests of the benchmark's own accounting (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import kgload  # noqa: E402
import layers  # noqa: E402
import querybank  # noqa: E402
import run  # noqa: E402
from scheduler_spark.pipeline import PipelineResult  # noqa: E402


def result(**kw) -> PipelineResult:
    base = dict(run_id="r", n_partitions_processed=kgload.N_SOURCES, n_triples=100, snapshot_id=1)
    base.update(kw)
    return PipelineResult(**base)


DIGESTS = {"a": (90, "1", "2"), "b": (100, "3", "4")}


@pytest.fixture
def kg(monkeypatch) -> kgload.KgSync:
    """A kg_sync workload whose set-up fixed DIGESTS, over a catalog that
    holds ``state["version"]``'s triples."""
    wl = kgload.KgSync(spark=None, work="", seed=0)
    wl.expected = dict(DIGESTS)
    wl.state = {"version": "b"}
    monkeypatch.setattr(kgload, "triples_digest", lambda spark, catalog: DIGESTS[wl.state["version"]])
    return wl


def test_right_output_passes_and_is_timed(kg):
    rec = harness.Recorder()
    rec.step("sync", result, lambda r: kg.check_sync(r, None))
    assert (rec.attempted, rec.failed, len(rec.samples["sync"])) == (1, 0, 1)
    assert harness.result_line(rec, {})["correct"] is True


def test_wrong_expected_triple_count_fails_the_step(kg):
    kg.expected["b"] = (101, "3", "4")
    rec = harness.Recorder()
    rec.step("sync", result, lambda r: kg.check_sync(r, None))
    line = harness.result_line(rec, {})
    assert (line["attempted"], line["failed"], line["correct"]) == (1, 1, False)
    assert len(rec.samples["sync"]) == 1  # the work was done, so it is timed


def test_resync_and_noop_pass_against_the_rebuild_digest(kg):
    kg.state["version"] = "a"
    rec = harness.Recorder()
    rec.step("resync", lambda: result(n_partitions_processed=kgload.N_CHANGED),
             lambda r: kg.check_resync(r, None))
    rec.step("noop", lambda: result(n_partitions_processed=0, skipped=True),
             lambda r: kg.check_noop(r, None))
    assert (rec.attempted, rec.failed) == (2, 0)


def test_wrong_expected_digest_fails_resync_and_noop(kg):
    kg.state["version"] = "a"
    kg.expected["a"] = (90, "1", "999")
    rec = harness.Recorder()
    rec.step("resync", lambda: result(n_partitions_processed=kgload.N_CHANGED),
             lambda r: kg.check_resync(r, None))
    rec.step("noop", lambda: result(n_partitions_processed=0, skipped=True),
             lambda r: kg.check_noop(r, None))
    assert (rec.attempted, rec.failed) == (2, 2)


def test_resync_of_wrong_source_count_fails(kg):
    kg.state["version"] = "a"
    rec = harness.Recorder()
    rec.step("resync", lambda: result(n_partitions_processed=3), lambda r: kg.check_resync(r, None))
    assert rec.failed == 1


def test_noop_that_does_work_fails(kg):
    kg.state["version"] = "a"
    rec = harness.Recorder()
    rec.step("noop", lambda: result(n_partitions_processed=2), lambda r: kg.check_noop(r, None))
    assert rec.failed == 1


def test_raising_step_fails():
    rec = harness.Recorder()

    def boom():
        raise RuntimeError("x")

    assert rec.step("sync", boom) is None
    assert (rec.attempted, rec.failed, rec.last) == (1, 1, None)
    assert "sync" not in rec.samples


def bank(oracle_sql: dict[str, str]) -> querybank.QueryBank:
    qb = querybank.QueryBank(spark=None, work="", root=str(HERE.parent))
    qb.oracle = querybank._load(str(HERE.parent), "tools/oracle_check.py")
    qb.oracle_sql = oracle_sql
    qb.duck = duckdb.connect()
    return qb


def test_query_differing_from_its_oracle_fails():
    qb = bank({"q": "select 1::bigint as a, 'x' as b"})
    rec = harness.Recorder()
    rec.step("q.q", lambda: pd.DataFrame({"a": [2], "b": ["x"]}), lambda pdf: qb.check("q", pdf))
    rec.step("q.q", lambda: pd.DataFrame({"b": ["x"], "a": [1]}), lambda pdf: qb.check("q", pdf))
    assert (rec.attempted, rec.failed) == (2, 1)


def test_later_pass_must_match_first():
    qb = bank({})
    rec = harness.Recorder()
    rec.step("q.r", lambda: pd.DataFrame({"a": [1, 2]}), lambda pdf: qb.check("r", pdf))
    rec.step("q.r", lambda: pd.DataFrame({"a": [2, 1]}), lambda pdf: qb.check("r", pdf))
    rec.step("q.r", lambda: pd.DataFrame({"a": [2, 3]}), lambda pdf: qb.check("r", pdf))
    assert (rec.attempted, rec.failed) == (3, 1)


def test_empty_rows_only_result_fails():
    qb = bank({})
    rec = harness.Recorder()
    rec.step("q.r", lambda: pd.DataFrame({"a": []}), lambda pdf: qb.check("r", pdf))
    assert rec.failed == 1


def test_frame_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1.0, 2.5], "y": ["p", "q"]})
    b = pd.DataFrame({"y": ["q", "p"], "x": [2.5, 1.0]})
    assert querybank.frame_digest(a) == querybank.frame_digest(b)
    assert querybank.frame_digest(a) != querybank.frame_digest(a.assign(x=[1.0, 2.6]))


def test_pick_change_is_seeded_and_avoids_the_mega_repo():
    assert kgload.pick_change(7) == kgload.pick_change(7)
    picks = {tuple(kgload.pick_change(s)[0]) for s in range(200)}
    assert len(picks) > 50
    assert all(len(p) == kgload.N_CHANGED and all(r.startswith("org/repo") for r in p) for p in picks)


def test_closed_loop_runs_until_deadline():
    now = [0.0]

    def op(i):
        now[0] += 3.0

    assert harness.closed_loop(7.0, op, clock=lambda: now[0]) == 3
    now[0] = 0.0
    assert harness.closed_loop(1.0, op, min_ops=2, clock=lambda: now[0]) == 2


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "op_s", "step_geomean_s"}
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.metric_units(querybank.MIX)
