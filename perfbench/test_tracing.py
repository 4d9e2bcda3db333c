"""The span recorder and event-log reader at tiny generated scale.

    python3 -m pytest perfbench/test_tracing.py -q

One Spark session with the event log on runs one traced pass of each
workload in BENCHMARK.json at a few hundred documents. Checks: every named layer
appears in the per-layer metrics, every Spark job lies inside the span
that launched it, and self times plus children add up to the pass
wall within a stated tolerance.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import tracing  # noqa: E402

sys.path.insert(0, str(run.ROOT))

from workloads import IncrementalRefresh, JobSmallDocs  # noqa: E402

# A job's bounds are JVM milliseconds, a span's are Python floats on
# the same wall clock: allow a few ms of rounding between the two.
CLOCK_SLACK_MS = 5.0
# Self times add up to the pass by construction (children clipped to
# their parent, overlaps split); the slack covers rounding only.
RECONCILE_TOLERANCE = 0.01

LAYERS = {
    "job_small_docs": {"datagen", "pipeline", "lineage"},
    "incremental_refresh": {"datagen", "pipeline", "incremental"},
}


class TinyJob(JobSmallDocs):
    n_docs = 240


class TinyRefresh(IncrementalRefresh):
    n_base = 200


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    run.prepare_env(work)
    log_dir = work / "eventlog"
    spark = run.start_session(work, log_dir)
    passes = {}
    try:
        for cls in (TinyJob, TinyRefresh):
            rec = tracing.SpanRecorder()
            wl = cls(spark, rec, work / cls.name, seed=7)
            wl.setup()
            wl.inspect()
            passes[cls.name] = (wl, rec, run.timed_passes(wl, work, 0, None, rec))
    finally:
        spark.stop()
        run.stop_descendants()
    out = {}
    for name, (wl, rec, result) in passes.items():
        metrics, _ = run.layer_metrics(wl, log_dir, rec, result)
        out[name] = (metrics, rec, result)
    out["log"] = tracing.EventLog(log_dir)
    return out


@pytest.mark.parametrize("name", sorted(LAYERS))
def test_outputs_checked_clean(traced, name):
    _, _, result = traced[name]
    assert result["failed"] == 0


@pytest.mark.parametrize("name", sorted(LAYERS))
def test_every_named_layer_reported(traced, name):
    metrics, _, _ = traced[name]
    prefixes = {k.split(".")[0] for k in run.PER_LAYER if "." in k}
    prefixes -= {"session", "trace"}  # reported by run.main, not per pass
    reported = {k.split(".")[0] for k in metrics}
    assert prefixes <= reported, prefixes - reported
    for layer in LAYERS[name]:
        assert metrics[f"{layer}.self_s"] > 0, layer
    assert metrics["pipeline.tasks"] > 0
    assert metrics["ocr.bytes_to_py"] > 0
    assert metrics["ocr.py_run_s"] > 0
    assert metrics["spark.task_failures"] == 0


def test_lineage_phases_attributed(traced):
    metrics, _, _ = traced["job_small_docs"]
    assert metrics["lineage.batches"] == 2
    for phase in ("write_job_s", "readback_s", "ack_s", "driver_self_s"):
        assert metrics[f"lineage.{phase}"] > 0, phase
    assert metrics["datagen.scan_rows_per_doc"] == pytest.approx(2.0)


def test_incremental_counts(traced):
    metrics, _, _ = traced["incremental_refresh"]
    assert metrics["incremental.delta_docs"] == 14  # 5% revised + 2% added of 200
    assert metrics["incremental.carried_docs"] == 200 - 4 - 10


@pytest.mark.parametrize("name", sorted(LAYERS))
def test_jobs_inside_parent_span(traced, name):
    _, rec, result = traced[name]
    log = traced["log"]
    for pass_span in result["spans"]:
        nodes = tracing.pass_tree(log, rec.spans, pass_span)
        jobs = 0
        for parent in nodes:
            for child in parent["children"]:
                assert child["start"] >= parent["start"] - CLOCK_SLACK_MS
                assert child["end"] <= parent["end"] + CLOCK_SLACK_MS, (
                    json.dumps({k: parent[k] for k in ("name", "start", "end")}),
                    child["name"], child["end"])
                jobs += child["kind"] == "job"
        assert jobs > 0


@pytest.mark.parametrize("name", sorted(LAYERS))
def test_self_times_reconcile_with_pass_wall(traced, name):
    _, rec, result = traced[name]
    log = traced["log"]
    for pass_span in result["spans"]:
        nodes = tracing.pass_tree(log, rec.spans, pass_span)
        table = tracing.layer_table(nodes)
        wall = (pass_span["end"] - pass_span["start"]) / 1e3
        assert sum(table.values()) == pytest.approx(wall, rel=RECONCILE_TOLERANCE)
        assert set(table) >= LAYERS[name]


def test_union_and_self_time_arithmetic():
    assert tracing.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    parent = {"id": "p", "start": 0, "end": 100, "children": []}
    kids = [{"id": "a", "start": 10, "end": 40, "children": []},
            {"id": "b", "start": 30, "end": 60, "children": []}]
    parent["children"] = kids
    selfs = tracing.self_times([parent] + kids)
    # a and b overlap for 10 ms: each gets half of it
    assert selfs == {"p": 50, "a": 25, "b": 25}
    assert sum(selfs.values()) == 100


def test_rss_sampler_window():
    rss = run.RssSampler()
    try:
        rss.start()
        time.sleep(0.35)
        peak = rss.stop()
        assert peak > 0
    finally:
        rss.close()
    assert not rss._thread.is_alive()


def test_benchmark_json_matches_reported_metrics():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (k, unit, better) for k, (unit, better) in run.PER_LAYER.items()]
