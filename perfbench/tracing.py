"""Span recorder and Spark event-log reader for the traced run.

The benchmark records its own spans around each public call it makes
(``SpanRecorder``). A traced run also turns on Spark's event log;
``EventLog`` reads its jobs, stages, tasks and SQL operator metrics,
all stamped with the same wall clock (epoch milliseconds) as the
spans. ``per_pass_metrics`` then attributes each pass's jobs and
operator metrics to the package's layers by module, and
``self_times`` gives each span's self time (its duration minus the
part its child spans and jobs cover).

The log must be written uncompressed (``spark.eventLog.compress=false``)
so the standard library can read it.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from statistics import median


def now_ms() -> float:
    return time.time() * 1000.0


class SpanRecorder:
    """Spans around the benchmark's calls into the package: name,
    layer, start, end (epoch ms), parent span id and pass id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "start": now_ms(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_id,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = now_ms()
            self._stack.pop()

    def wrap(self, name: str, layer: str, fn):
        """``fn`` with every call recorded as a span."""
        def call(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return call


# ------------------------------------------------------------ event log


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, directory: Path):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.execs: dict[int, dict] = {}
        self.acc: dict[int, float] = defaultdict(float)
        files = [
            p for p in Path(directory).rglob("*")
            if p.is_file() and not p.name.startswith((".", "appstatus"))
        ]

        def index(p: Path):
            m = re.match(r"events_(\d+)_", p.name)
            return (int(m.group(1)) if m else 0, p.name)

        for path in sorted(files, key=index):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._on(json.loads(line))

    def _exec(self, exec_id: int) -> dict:
        return self.execs.setdefault(exec_id, {
            "id": exec_id, "start": None, "end": None, "description": "",
            "plan": "", "nodes": {}, "jobs": [],
        })

    def _add_plan(self, ex: dict, info: dict, text: str) -> None:
        ex["plan"] += "\n" + (text or "")
        for node in _walk(info):
            for m in node.get("metrics", []):
                ex["nodes"][m["accumulatorId"]] = {
                    "node": node.get("nodeName", "").strip(),
                    "simple": node.get("simpleString", ""),
                    "location": node.get("metadata", {}).get("Location", ""),
                    "metric": m["name"],
                    "type": m["metricType"],
                }

    def _on(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            job = {
                "id": e["Job ID"],
                "start": e["Submission Time"],
                "end": None,
                "exec": int(exec_id) if exec_id is not None else None,
            }
            self.jobs[job["id"]] = job
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = job["id"]
            if job["exec"] is not None:
                self._exec(job["exec"])["jobs"].append(job["id"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            failed = info["Failed"] or info.get("Killed", False)
            self.tasks.append({
                "stage": e["Stage ID"],
                "job": self.stage_job.get(e["Stage ID"]),
                "launch": info["Launch Time"],
                "finish": info["Finish Time"],
                "failed": failed,
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "peak_mem": m.get("Peak Execution Memory", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
            })
            if not failed:
                # operator (SQL) metrics: string-valued task updates
                for a in info.get("Accumulables", []):
                    if a["Name"].startswith("internal.metrics."):
                        continue
                    try:
                        self.acc[a["ID"]] += float(a["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
        elif kind == "SparkListenerSQLExecutionStart":
            ex = self._exec(e["executionId"])
            ex["start"], ex["description"] = e["time"], e.get("description", "")
            self._add_plan(ex, e["sparkPlanInfo"], e.get("physicalPlanDescription"))
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._add_plan(self._exec(e["executionId"]), e["sparkPlanInfo"],
                           e.get("physicalPlanDescription"))
        elif kind == "SparkListenerSQLExecutionEnd":
            self._exec(e["executionId"])["end"] = e["time"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.acc[acc_id] += value

    # ---------------------------------------------------------- queries

    def metric(self, ex: dict, node: str, metric: str, agg=sum) -> float:
        """Aggregate of ``metric`` over the ``node`` operators of ``ex``
        (node matched by prefix: 'WholeStageCodegen' matches every
        codegen stage). Timings come back in seconds, sizes in bytes."""
        vals = []
        for acc_id, meta in ex["nodes"].items():
            if meta["node"].startswith(node) and meta["metric"] == metric:
                v = self.acc.get(acc_id, 0.0)
                if meta["type"] == "timing":
                    v /= 1e3
                elif meta["type"] == "nsTiming":
                    v /= 1e9
                vals.append(v)
        return agg(vals) if vals else 0.0

    def has_node(self, ex: dict, node: str) -> bool:
        return any(m["node"].startswith(node) for m in ex["nodes"].values())

    def exchange_bytes(self, ex: dict, origin: str) -> float:
        """Shuffle bytes written by exchanges of one origin:
        REPARTITION_BY_NUM (a user repartition) or ENSURE_REQUIREMENTS
        (inserted for a join or aggregate)."""
        return sum(
            self.acc.get(acc_id, 0.0)
            for acc_id, m in ex["nodes"].items()
            if m["node"] == "Exchange" and origin in m["simple"]
            and m["metric"] == "shuffle bytes written"
        )

    def scan(self, ex: dict, location: str, metric: str) -> float:
        return sum(
            self.acc.get(acc_id, 0.0)
            for acc_id, m in ex["nodes"].items()
            if m["node"].startswith("Scan") and location in m["location"]
            and m["metric"] == metric
        )


# --------------------------------------------------------- attribution


def union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def pass_tree(log: EventLog, spans: list[dict], pass_span: dict) -> list[dict]:
    """The pass's benchmark spans plus its Spark jobs as nodes, each
    job a child of the innermost span open at its submission."""
    inside = [s for s in spans if s["pass"] == pass_span["pass"]]
    nodes = [dict(s, kind="span", children=[]) for s in inside]
    span_nodes = list(nodes)
    by_id = {n["id"]: n for n in nodes}
    for n in nodes:
        if n["parent"] in by_id:
            by_id[n["parent"]]["children"].append(n)
    for job in log.jobs.values():
        if not pass_span["start"] <= job["start"] <= pass_span["end"]:
            continue
        owner = max(
            (n for n in span_nodes if n["start"] <= job["start"] <= n["end"]),
            key=lambda n: n["start"],
        )
        child = {"id": f"job{job['id']}", "name": f"job {job['id']}",
                 "kind": "job", "layer": job_layer(log, job, owner),
                 "start": job["start"], "end": job["end"], "children": []}
        owner["children"].append(child)
        nodes.append(child)
    return nodes


def job_layer(log: EventLog, job: dict, owner: dict) -> str:
    """Layer a job's work belongs to: the extraction execution (the
    one holding the Arrow OCR stage) is pipeline work wherever it is
    launched; lineage's read-back and ``_lineage`` append are lineage;
    anything else belongs to the span that launched it."""
    ex = log.execs.get(job["exec"]) if job["exec"] is not None else None
    if ex is not None and log.has_node(ex, "ArrowEvalPython"):
        return "pipeline"
    if owner["layer"] == "lineage":
        return "lineage"
    return owner["layer"]


def _shares(intervals: list[tuple[float, float]]) -> list[float]:
    """Each interval's exclusive share of their union: time that k
    intervals cover at once counts 1/k to each."""
    points = sorted({p for iv in intervals for p in iv})
    shares = [0.0] * len(intervals)
    for a, b in zip(points, points[1:]):
        live = [i for i, (s, e) in enumerate(intervals) if s <= a and e >= b]
        for i in live:
            shares[i] += (b - a) / len(live)
    return shares


def self_times(nodes: list[dict]) -> dict:
    """{node id: self ms}: the node's share of its parent's time minus
    the union of its children's intervals clipped to it. Siblings that
    overlap (jobs AQE runs concurrently) split the overlap evenly, so
    the self times of a tree add up to its root's duration."""
    share = {n["id"]: n["end"] - n["start"] for n in nodes}
    covered = {}
    for n in nodes:
        kids = [(max(c["start"], n["start"]), min(c["end"], n["end"]))
                for c in n["children"]]
        kids = [(s, max(s, e)) for s, e in kids]
        for c, sh in zip(n["children"], _shares(kids)):
            share[c["id"]] = sh
        covered[n["id"]] = union_ms(kids)
    return {n["id"]: share[n["id"]] - covered[n["id"]] for n in nodes}


def layer_table(nodes: list[dict]) -> dict:
    """{layer: seconds} of self time, so the layers add up to the pass."""
    table: dict[str, float] = defaultdict(float)
    selfs = self_times(nodes)
    for n in nodes:
        table[n["layer"]] += selfs[n["id"]] / 1e3
    return dict(table)


def per_pass_metrics(log: EventLog, spans: list[dict], pass_span: dict,
                     input_location: str, docs: int) -> dict:
    """Per-layer metrics of one traced pass, from its spans and the
    jobs, tasks and operator metrics submitted inside it. ``docs`` is
    the pass's output row count."""
    p_start, p_end = pass_span["start"], pass_span["end"]
    mine = [s for s in spans if s["pass"] == pass_span["pass"]]
    jobs = [j for j in log.jobs.values() if p_start <= j["start"] <= p_end]
    job_ids = {j["id"] for j in jobs}
    execs = [log.execs[i] for i in sorted({j["exec"] for j in jobs} - {None})]
    tasks = [t for t in log.tasks if t["job"] in job_ids]
    extract_execs = [ex for ex in execs if log.has_node(ex, "ArrowEvalPython")]
    extract_jobs = {j for ex in extract_execs for j in ex["jobs"]}
    extract_tasks = [t for t in tasks if t["job"] in extract_jobs and not t["failed"]]
    m: dict[str, float] = {}

    def s_sum(name):
        return sum(s["end"] - s["start"] for s in mine if s["name"] == name) / 1e3

    def first_job_after(t):
        later = [j["start"] for j in jobs if j["start"] >= t]
        return (min(later) - t) / 1e3 if later else 0.0

    # datagen: the source scan and the repartition that spreads it
    m["datagen.scan_bytes"] = sum(
        log.scan(ex, input_location, "size of files read") for ex in execs)
    m["datagen.exchange_bytes"] = sum(
        log.exchange_bytes(ex, "REPARTITION_BY_NUM") for ex in execs)
    m["datagen.scan_rows_per_doc"] = sum(
        log.scan(ex, input_location, "number of output rows") for ex in execs
    ) / max(docs, 1)

    # pipeline: planning on the driver, then the extraction executions
    m["pipeline.plan_build_s"] = s_sum("extract_documents")
    anchors = [s["start"] for s in mine if s["name"] == "action"] + [
        s["end"] for s in mine if s["name"] == "extract_documents"
        and any(p["id"] == s["parent"] and p["name"] == "run_with_checkpoint"
                for p in mine)
    ]
    m["pipeline.plan_to_first_job_s"] = sum(first_job_after(a) for a in anchors)
    m["pipeline.codegen_s"] = sum(
        log.metric(ex, "WholeStageCodegen", "duration") for ex in extract_execs)
    m["pipeline.exec_run_s"] = sum(t["run_ms"] for t in extract_tasks) / 1e3
    m["pipeline.exec_cpu_s"] = sum(t["cpu_ns"] for t in extract_tasks) / 1e9
    m["pipeline.tasks"] = len(extract_tasks)
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in extract_tasks:
        by_stage[t["stage"]].append(t["finish"] - t["launch"])
    if by_stage:
        main = max(by_stage.values(), key=sum)
        m["pipeline.task_skew"] = max(main) / max(median(main), 1.0)
    else:
        m["pipeline.task_skew"] = 0.0

    # operators.ocr: the Arrow boundary
    for name, metric in (
        ("ocr.bytes_to_py", "data sent to Python workers"),
        ("ocr.bytes_from_py", "data returned from Python workers"),
        ("ocr.py_boot_s", "time to start Python workers"),
        ("ocr.py_init_s", "time to initialize Python workers"),
        ("ocr.py_run_s", "time to run Python workers"),
    ):
        m[name] = sum(log.metric(ex, "ArrowEvalPython", metric)
                      for ex in extract_execs)

    # lineage: data write, commit, read-back, ack, manifest read
    insert = "Execute InsertIntoHadoopFsRelationCommand"
    rwc = [s for s in mine if s["name"] == "run_with_checkpoint"]
    lin = {"write_job_s": 0.0, "commit_s": 0.0, "readback_s": 0.0,
           "ack_s": 0.0, "manifest_read_s": 0.0, "driver_self_s": 0.0}
    files = written = sort_peak = 0.0
    batches = 0
    for r in rwc:
        inner = [ex for ex in execs
                 if ex["start"] is not None and r["start"] <= ex["start"] <= r["end"]]
        writes = [ex for ex in inner if log.has_node(ex, insert)]
        data = [ex for ex in writes if "/_lineage" not in ex["plan"]]
        acks = [ex for ex in writes if "/_lineage" in ex["plan"]]
        reads = [ex for ex in inner if ex["description"].startswith("collect at")
                 and "lineage.py" in ex["description"]]
        batches += len(data)
        for ex in data:
            ivals = [(log.jobs[j]["start"], log.jobs[j]["end"]) for j in ex["jobs"]]
            lin["write_job_s"] += union_ms(ivals) / 1e3
            if ivals:
                lin["commit_s"] += (ex["end"] - max(e for _, e in ivals)) / 1e3
            files += log.metric(ex, insert, "number of written files")
            written += log.metric(ex, insert, "written output")
            sort_peak = max(sort_peak, log.metric(ex, "Sort", "peak memory", max))
            read = min((x for x in reads if x["start"] >= ex["end"]),
                       key=lambda x: x["start"], default=None)
            if read is not None:
                lin["readback_s"] += (read["end"] - ex["end"]) / 1e3
                ack = min((x for x in acks if x["start"] >= read["end"]),
                          key=lambda x: x["start"], default=None)
                if ack is not None:
                    lin["ack_s"] += (ack["end"] - read["end"]) / 1e3
        first = min((s["start"] for s in mine if s["name"] == "extract_documents"
                     and s["parent"] == r["id"]), default=r["end"])
        lin["manifest_read_s"] += (first - r["start"]) / 1e3
        r_jobs = [(j["start"], j["end"]) for j in jobs
                  if r["start"] <= j["start"] <= r["end"]]
        lin["driver_self_s"] += (r["end"] - r["start"] - union_ms(r_jobs)) / 1e3
    m["lineage.batches"] = batches
    for k, v in lin.items():
        m[f"lineage.{k}"] = v
    m["lineage.files_written"] = files
    m["lineage.bytes_written"] = written
    m["lineage.sort_peak_mem_bytes"] = sort_peak

    # incremental: bytes its joins move in the extraction execution —
    # shuffled, or broadcast when AQE finds one side small
    m["incremental.shuffle_bytes"] = sum(
        log.exchange_bytes(ex, "ENSURE_REQUIREMENTS")
        + log.metric(ex, "BroadcastExchange", "data size")
        for ex in extract_execs)

    # spark: engine-wide
    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = len(tasks)
    m["spark.task_failures"] = sum(t["failed"] for t in tasks)
    m["spark.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in tasks)
    m["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    m["spark.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1e3
    m["spark.peak_exec_mem_bytes"] = max((t["peak_mem"] for t in tasks), default=0)
    m["spark.driver_idle_s"] = (
        p_end - p_start - union_ms([(j["start"], j["end"]) for j in jobs])) / 1e3
    return m
