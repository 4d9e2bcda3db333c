"""Extraction benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload job_small_docs --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The process builds one local Spark
session at local[<cores / 2>], generates the workload's inputs from the
seed, warms up, then repeats timed passes while another pass of the
median length fits in ``--seconds`` (at least one), checking every
pass's output (each input doc exactly once; the workload's own
counts) and a seeded sample of 200 documents against
``oracle.expected_result`` field by field.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first does
the same untraced passes, then restarts the session with Spark's event
log on, repeats the passes with spans recorded around each public
call, and prints the per-layer metrics (medians over the traced
passes) with ``trace.overhead_frac``, untraced docs/s over traced
docs/s minus one. The per-layer self-time table goes to stderr.

Everything the run writes lives under ``.perfbench_work/`` in the
current directory, which is removed at the end. The process makes
itself a child subreaper, so the Python workers Spark's daemon forks
into their own process groups stay its descendants; before it exits
it stops the driver JVM and every other process it started and waits
for each to end, on every path out.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import importlib.util
import json
import os
import shutil
import signal
import sys
import threading
import time
from pathlib import Path
from statistics import median

import tracing

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "out_bytes_per_doc": "bytes/doc",
    "peak_rss_mb": "MB",
}

# name: (unit, better). A layer that does nothing on a workload reports 0.
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "datagen.scan_bytes": ("bytes", "lower"),
    "datagen.exchange_bytes": ("bytes", "lower"),
    "datagen.scan_rows_per_doc": ("rows/doc", "lower"),
    "datagen.self_s": ("s", "lower"),
    "pipeline.plan_build_s": ("s", "lower"),
    "pipeline.plan_to_first_job_s": ("s", "lower"),
    "pipeline.codegen_s": ("s", "lower"),
    "pipeline.exec_run_s": ("s", "lower"),
    "pipeline.exec_cpu_s": ("s", "lower"),
    "pipeline.tasks": ("count", "lower"),
    "pipeline.task_skew": ("ratio", "lower"),
    "pipeline.self_s": ("s", "lower"),
    "ocr.media_refs_primary": ("count", "lower"),
    "ocr.media_refs_secondary": ("count", "lower"),
    "ocr.bytes_to_py": ("bytes", "lower"),
    "ocr.bytes_from_py": ("bytes", "lower"),
    "ocr.py_boot_s": ("s", "lower"),
    "ocr.py_init_s": ("s", "lower"),
    "ocr.py_run_s": ("s", "lower"),
    "ocr.secondary_useful_ratio": ("ratio", "higher"),
    "problems.flagged_docs": ("count", "lower"),
    "similarity.scored_docs": ("count", "lower"),
    "lineage.batches": ("count", "lower"),
    "lineage.write_job_s": ("s", "lower"),
    "lineage.commit_s": ("s", "lower"),
    "lineage.readback_s": ("s", "lower"),
    "lineage.ack_s": ("s", "lower"),
    "lineage.manifest_read_s": ("s", "lower"),
    "lineage.driver_self_s": ("s", "lower"),
    "lineage.files_written": ("count", "lower"),
    "lineage.bytes_written": ("bytes", "lower"),
    "lineage.sort_peak_mem_bytes": ("bytes", "lower"),
    "lineage.self_s": ("s", "lower"),
    "incremental.delta_docs": ("count", "lower"),
    "incremental.carried_docs": ("count", "higher"),
    "incremental.delta_frac": ("ratio", "lower"),
    "incremental.shuffle_bytes": ("bytes", "lower"),
    "incremental.self_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_failures": ("count", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.peak_exec_mem_bytes": ("bytes", "lower"),
    "spark.driver_idle_s": ("s", "lower"),
    "spark.persisted_after_pass": ("count", "lower"),
    "bench.self_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "docs_failed_frac": ("ratio", "lower"),
}


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    """Pids of every process below this one, ended but unreaped ones
    too."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [os.getpid()]
    while stack:
        kids = children.get(stack.pop(), [])
        out += kids
        stack += kids
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and its Python workers), sampled every 100 ms
    between ``start`` and ``stop``. Each process counts its
    proportional set size, so pages shared after a fork (Python workers
    forked from the daemon, the JVM's spawn helper) count once."""

    def __init__(self):
        self._peak = 0
        self._active = False
        self._lock = threading.Lock()
        self._closed = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def start(self) -> None:
        with self._lock:
            self._peak, self._active = 0, True

    def stop(self) -> int:
        """End the window; return its peak in bytes."""
        with self._lock:
            self._active = False
            return self._peak

    @staticmethod
    def tree_pss() -> int:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(l.split()[1]) for l in f
                                  if l.startswith("Pss:")) * 1024
            except (OSError, ValueError, IndexError, StopIteration):
                pass
        return total

    def _run(self) -> None:
        while not self._closed.wait(0.1):
            with self._lock:
                if self._active:
                    self._peak = max(self._peak, self.tree_pss())

    def close(self) -> None:
        self._closed.set()
        self._thread.join(timeout=5)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the parent of every descendant whose own parent exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}",
              file=sys.stderr)


def reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """Ask the driver JVM to exit by closing its stdin, then SIGTERM
    and at last SIGKILL whatever is still below this process, each
    after ``grace`` seconds, and wait until nothing is."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception as e:  # the JVM may already be gone
            print(f"gateway shutdown: {e}", file=sys.stderr)
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    t0 = time.monotonic()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in descendants() if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while time.monotonic() < end:
            reap()
            if not descendants():
                print(f"processes stopped in {time.monotonic() - t0:.2f}s",
                      file=sys.stderr)
                return
            time.sleep(0.05)
    print(f"processes {descendants()} survived SIGKILL", file=sys.stderr)


def on_sigterm(signum, frame):
    """Leave through ``main``'s cleanup; a second SIGTERM must not cut
    that cleanup short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def start_session(work: Path, event_log: Path | None = None):
    from blackedge_ocr_spark.session import build_session

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log.as_uri(),
        })
    # A task of the Arrow OCR stage keeps a JVM thread and a Python
    # worker busy at once, so local[nproc] runs twice as many processes
    # as cores; at local[4] on 4 cores passes took 1.7x as long as at
    # local[2] and spread more between runs.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    return build_session(master=f"local[{cores}]", app_name="perfbench",
                         extra_conf=conf)


def note(start: float, msg: str) -> None:
    print(f"[{time.time() - start:7.2f}s] {msg}", file=sys.stderr, flush=True)


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def timed_passes(wl, work: Path, seconds: float, rss: RssSampler | None,
                 rec=None) -> dict:
    """Repeat passes while another pass of the median length still fits
    in ``seconds`` (at least one pass); check each pass's output, and
    the last one's against the oracle. With ``rec`` each pass is a span.

    Returns per-pass walls, facts, failures, persisted-RDD counts and
    pass spans."""
    walls, facts, failed, persisted, spans, peaks = [], [], 0, [], [], []
    spark = wl.spark
    sc = spark.sparkContext
    while not walls or sum(walls) + median(walls) <= seconds:
        out = work / "out" / f"pass{len(walls)}"
        jobs_before = job_ids(sc)
        if rss is not None:
            rss.start()
        if rec is not None:
            rec.pass_id = len(walls)
            with rec.span("pass", "bench") as span:
                wl.run_pass(out)
            rec.pass_id = None
            spans.append(span)
            walls.append((span["end"] - span["start"]) / 1e3)
        else:
            t0 = time.perf_counter()
            wl.run_pass(out)
            walls.append(time.perf_counter() - t0)
        if rss is not None:
            peaks.append(rss.stop())
        failed += task_failures(sc, job_ids(sc) - jobs_before)
        facts.append(wl.facts(out))
        failed += wl.check(facts[-1])
        persisted.append(persisted_rdds(spark))
        spark.catalog.clearCache()
        if sum(walls) + median(walls) > seconds:
            bad = wl.oracle_check(out)
            for line in bad:
                print(f"oracle mismatch {line}", file=sys.stderr)
            failed += len(bad)
        shutil.rmtree(out, ignore_errors=True)
    return {"walls": walls, "facts": facts, "failed": failed,
            "persisted": persisted, "spans": spans, "peaks": peaks}


def job_ids(sc) -> set[int]:
    """Ids of the jobs Spark has run so far (none of them in a group)."""
    return set(sc.statusTracker().getJobIdsForGroup(None))


def task_failures(sc, jobs: set[int]) -> int:
    """Failed task attempts of ``jobs``."""
    tracker = sc.statusTracker()
    total = 0
    for job_id in jobs:
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None and stage.numFailedTasks:
                print(f"{stage.numFailedTasks} failed tasks in stage {stage_id}",
                      file=sys.stderr)
                total += stage.numFailedTasks
    return total


def warm_up(wl, work: Path) -> list[float]:
    walls = []
    for i in range(wl.warmup_passes):
        out = work / "out" / f"warmup{i}"
        t0 = time.perf_counter()
        wl.warm_pass(out)
        walls.append(time.perf_counter() - t0)
        wl.spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
    return walls


def layer_metrics(wl, log_dir: Path, rec, run: dict) -> tuple[dict, list[dict]]:
    """Per-layer metrics of every traced pass (medians over passes),
    and each pass's self-time table by layer."""
    log = tracing.EventLog(log_dir)
    per_pass, tables = [], []
    for span, facts, persisted in zip(run["spans"], run["facts"], run["persisted"]):
        rows = facts["rows"] or 0
        m = tracing.per_pass_metrics(log, rec.spans, span, wl.input_location, rows)
        m["ocr.media_refs_primary"] = facts["media_primary"] or 0
        m["ocr.media_refs_secondary"] = facts["media_secondary"] or 0
        m["ocr.secondary_useful_ratio"] = (
            (facts["secondary_useful"] or 0) / max(facts["secondary_ran"] or 0, 1))
        m["problems.flagged_docs"] = facts["flagged"] or 0
        m["similarity.scored_docs"] = facts["scored"] or 0
        if "refreshed" in facts:
            m["incremental.delta_docs"] = facts["refreshed"] or 0
            m["incremental.carried_docs"] = rows - m["incremental.delta_docs"]
            m["incremental.delta_frac"] = m["incremental.delta_docs"] / max(rows, 1)
        m["spark.persisted_after_pass"] = persisted
        table = tracing.layer_table(tracing.pass_tree(log, rec.spans, span))
        for layer, secs in table.items():
            m[f"{layer}.self_s"] = secs
        per_pass.append(m)
        tables.append(table)
    seen = set().union(*per_pass)
    out = {k: median(m.get(k, 0.0) for m in per_pass) for k in PER_LAYER if k in seen}
    return out, tables


def prepare_env(work: Path) -> None:
    """Python workers import the package from this checkout; temp
    files and Spark scratch stay inside ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    start = process_start()
    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("blackedge_ocr_spark") is None:
        print(f"blackedge_ocr_spark not found under {ROOT}", file=sys.stderr)
        return 2
    # before pyspark is imported, so its temp files land in ``work``
    work = Path.cwd() / ".perfbench_work"
    prepare_env(work)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    spark = None
    with contextlib.ExitStack() as cleanup:
        # these run last to first, each one even if one before it raised
        cleanup.callback(shutil.rmtree, work, ignore_errors=True)
        cleanup.callback(stop_descendants)
        cleanup.callback(lambda: spark is not None and spark.stop())
        rss = RssSampler()
        cleanup.callback(rss.close)
        t0 = time.perf_counter()
        spark = start_session(work)
        build_s = time.perf_counter() - t0
        note(start, f"session built in {build_s:.2f}s")
        wl = WORKLOADS[args.workload](spark, tracing.SpanRecorder(), work, args.seed)
        wl.setup()
        note(start, "inputs ready")
        walls = warm_up(wl, work)
        note(start, "warm-up passes: " + " ".join(f"{w:.2f}s" for w in walls))
        wl.inspect()
        setup_s = time.time() - start
        print("inputs " + json.dumps({args.workload: wl.properties}), flush=True)
        run = timed_passes(wl, work, args.seconds, rss)
        note(start, "timed passes: " + " ".join(f"{w:.2f}s" for w in run["walls"]))
        docs_per_s = median(wl.n_docs / w for w in run["walls"])
        failed, attempted = run["failed"], wl.n_docs * len(run["walls"])

        if args.trace:
            spark.stop()
            log_dir = work / "eventlog"
            spark = start_session(work, log_dir)
            rec = tracing.SpanRecorder()
            wl.rebind(spark, rec)
            warm_up(wl, work)
            traced = timed_passes(wl, work, args.seconds, None, rec)
            failed += traced["failed"]
            attempted += wl.n_docs * len(traced["walls"])
            spark.stop()
            spark = None
            metrics, tables = layer_metrics(wl, log_dir, rec, traced)
            for i, table in enumerate(tables):
                print(f"layer self time, traced pass {i}: " + ", ".join(
                    f"{k} {v:.3f}s" for k, v in sorted(table.items())), file=sys.stderr)
            traced_dps = median(wl.n_docs / w for w in traced["walls"])
            metrics["session.build_s"] = build_s
            metrics["trace.overhead_frac"] = docs_per_s / traced_dps - 1.0
            metrics["docs_failed_frac"] = failed / attempted
            result_metrics = {k: {"value": metrics.get(k, 0.0), "unit": unit}
                              for k, (unit, _) in PER_LAYER.items()}
        else:
            out_bytes = median(f["out_bytes"] for f in run["facts"]) / wl.n_docs
            values = {
                "docs_per_s": docs_per_s,
                "setup_s": setup_s,
                "out_bytes_per_doc": out_bytes,
                "peak_rss_mb": median(run["peaks"]) / 2**20,
            }
            result_metrics = {k: {"value": v, "unit": END_TO_END[k]}
                              for k, v in values.items()}

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
