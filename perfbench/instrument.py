"""Spans, process-tree memory and host-steal readings, and readers of
Spark's own instrumentation: the event log, QueryExecution tracker phases,
CodegenMetrics and RDD storage (pins).

Spans are recorded only around the benchmark's calls into the program's
layers; nothing here reaches inside the program.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

MIB = float(1 << 20)


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and written
    once, at the end of the run. A disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def total(self, prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"].startswith(prefix))

    def write(self, path: str) -> None:
        selfs = self.self_times()
        rows = [dict(s, self=selfs[s["id"]]) for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(rows, fh)


class MemorySampler:
    """One thread that samples the proportional set size (PSS) of this
    process and all of its descendants (the JVM and its Python workers)
    from /proc and keeps the peak. PSS splits each shared page among the
    processes mapping it, so the copy-on-write pages of the forked Python
    workers count once, as they occupy memory once."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in tree_pids():
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as fh:
                        for line in fh:
                            if line.startswith("Pss:"):
                                total += int(line.split()[1]) * 1024
                                break
                except OSError:  # the process ended while being read
                    continue
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                parent_of[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # the process ended between listdir and open
            continue
    me = os.getpid()
    out = []
    for pid in parent_of:
        p = pid
        while p > 1 and p != me:
            p = parent_of.get(p, 0)
        if p == me:
            out.append(pid)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (the steal column of /proc/stat): other tenants' load, which
    slows every wall-clock metric of a run without being the program's."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


# ------------------------------------------------------------ Spark readers

def codegen_totals(spark) -> tuple[int, float]:
    """(classes compiled, seconds compiling) so far in this JVM, from
    CodegenMetrics. The time histogram keeps every sample while fewer than
    its reservoir size (1028) have been recorded; past that, mean x count."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count = int(hist.getCount())
    snap = hist.getSnapshot()
    values = list(snap.getValues())
    total_ms = float(sum(values)) if count <= len(values) else snap.getMean() * count
    return count, total_ms / 1000.0


def plan_phases_s(df) -> float:
    """Catalyst analysis + optimization + planning seconds of the
    DataFrame's QueryExecution (its tracker's phase summaries)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


def pinned_blocks(spark) -> tuple[int, float]:
    """(RDDs held in block storage, MiB they occupy in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    count = len(infos)
    size = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
    return count, size / MIB


PYTHON_METRICS = {
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_received",
    "number of output rows": "python_rows",
}


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if _is_python_node(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            kind = PYTHON_METRICS.get(m.get("name"))
            if kind:
                out[int(m["accumulatorId"])] = kind
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def read_event_log(log_dir: str, counted) -> dict:
    """Sum the task metrics of the jobs whose job group `counted(group)`
    accepts, from an uncompressed, non-rolling event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    job_stages: set[int] = set()
    jobs = 0
    py_acc: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_span: dict[int, float] = {}
    tot = dict.fromkeys(
        ("run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read",
         "fetch_wait_ms", "spill", "scan_bytes", "scan_rows", "write_bytes",
         "python_rows", "python_sent", "python_received"), 0)
    tasks = 0
    with open(paths[0]) as fh:
        events = [json.loads(line) for line in fh]
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if counted(group):
                jobs += 1
                job_stages.update(ev["Stage IDs"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_accumulators(ev["sparkPlanInfo"], py_acc)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in job_stages and "Completion Time" in info:
                stage_span[info["Stage ID"]] = info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in job_stages:
            m = ev.get("Task Metrics") or {}
            tasks += 1
            tot["run_ms"] += m.get("Executor Run Time", 0)
            tot["cpu_ns"] += m.get("Executor CPU Time", 0)
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["spill"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            tot["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            tot["scan_bytes"] += inp.get("Bytes Read", 0)
            tot["scan_rows"] += inp.get("Records Read", 0)
            tot["write_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            stage_tasks.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
            for acc in ev["Task Info"].get("Accumulables", []):
                name = py_acc.get(int(acc["ID"]))
                if name and "Update" in acc:
                    tot[name] += int(acc["Update"])
    skew = 1.0
    if stage_span:
        slowest = max(stage_span, key=stage_span.get)
        times = stage_tasks.get(slowest) or [0]
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
    return {
        "operators.jobs": jobs,
        "operators.stages": len(stage_span),
        "operators.tasks": tasks,
        "operators.executor_run_s": tot["run_ms"] / 1e3,
        "operators.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "operators.gc_s": tot["gc_ms"] / 1e3,
        "operators.shuffle_write_mb": tot["shuffle_write"] / MIB,
        "operators.shuffle_read_mb": tot["shuffle_read"] / MIB,
        "operators.shuffle_fetch_wait_s": tot["fetch_wait_ms"] / 1e3,
        "operators.spill_mb": tot["spill"] / MIB,
        "operators.task_skew": skew,
        "functions.python_rows": tot["python_rows"],
        "functions.python_mb_sent": tot["python_sent"] / MIB,
        "functions.python_mb_received": tot["python_received"] / MIB,
        "sources.scan_mb": tot["scan_bytes"] / MIB,
        "sources.scan_rows": tot["scan_rows"],
        "sources.write_mb": tot["write_bytes"] / MIB,
    }
