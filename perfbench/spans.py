"""Spans, Spark counters and process memory, read from outside the package.

Spans are recorded by the benchmark around its own calls into the
package (name, start, end, parent; one run id per process), kept in
memory and written as JSONL when the run ends. Spark's counters come
from the application status store, which is populated with the UI off:
per job group, the jobs, their stages, and each stage's task metrics
and operation graph.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
import uuid


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` free."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add_jobs(self, counters: dict, parent: dict) -> None:
        """One ``stages:job`` span per Spark job of a job group, timed by
        Spark (epoch ms) and mapped onto this tracer's clock."""
        offset = time.time() - time.perf_counter()
        for a, b in counters["intervals"]:
            self.spans.append({
                "run": self.run_id, "id": len(self.spans), "parent": parent["id"],
                "name": "stages:job", "start": a / 1e3 - offset, "end": b / 1e3 - offset,
            })
        parent["stages"] = counters["stages"]

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the part its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def layer_of(span_name: str) -> str:
    """Span names are ``layer`` or ``layer:detail``."""
    return span_name.split(":", 1)[0]


# ---------------------------------------------------------------------------
# Spark status store

# Operation-graph names of stages that run Python code per row batch.
PYTHON_NODES = {"MapInPandas", "ArrowEvalPython", "BatchEvalPython", "BatchScan avro_ocf"}


def runs_python(stage: dict) -> bool:
    return not PYTHON_NODES.isdisjoint(stage["names"])


def _opt(x):
    return x.get() if x.isDefined() else None


def _ids(seq) -> list[int]:
    return [int(v) for v in re.findall(r"\d+", str(seq))]


def _ms(date_opt):
    d = _opt(date_opt)
    return d.getTime() if d is not None else None


def _cluster_names(cluster) -> list[str]:
    names = [cluster.name()]
    kids = cluster.childClusters()
    for i in range(kids.size()):
        names.extend(_cluster_names(kids.apply(i)))
    nodes = cluster.childNodes()
    for i in range(nodes.size()):
        names.append(nodes.apply(i).name())
    return names


# Counters summed over stages, and all the counters that add up over groups.
STAGE_SUMS = ("run_s", "cpu_s", "gc_s", "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
SUMMED = STAGE_SUMS + ("jobs", "exec_s", "python_run_s", "scan_tasks")


def group_counters(spark, group: str, is_python=runs_python) -> dict:
    """Counters of every job run under job group ``group``.

    Returns the job count, the job intervals (epoch ms) and job-busy
    seconds (their union),
    summed stage metrics (task run/CPU/GC time, shuffle bytes, spill,
    tasks), the task skew (max / median task time) of the stage with the
    most run time, the run time of the stages ``is_python`` selects, the
    tasks of stages that scan files, and one record per completed stage."""
    st = spark.sparkContext._jsc.sc().statusStore()
    jobs = st.jobsList(None)
    intervals, stage_ids = [], set()
    n_jobs = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if _opt(j.jobGroup()) != group:
            continue
        n_jobs += 1
        a, b = _ms(j.submissionTime()), _ms(j.completionTime())
        if a is not None and b is not None:
            intervals.append((a, b))
        stage_ids.update(_ids(j.stageIds()))
    busy_ms, cursor = 0, None
    for a, b in sorted(intervals):
        if cursor is None or a > cursor:
            busy_ms += b - a
            cursor = b
        elif b > cursor:
            busy_ms += b - cursor
            cursor = b
    stages = []
    for sid in sorted(stage_ids):
        try:
            s = st.lastStageAttempt(sid)
        except Exception:  # stage never ran (skipped: shuffle reused)
            continue
        if str(s.status()) != "COMPLETE":
            continue
        names = [n for n in _cluster_names(st.operationGraphForStage(sid).rootCluster())
                 if "\n" not in n]  # drop the multi-line plan descriptions
        stages.append({
            "stage": sid, "attempt": s.attemptId(), "names": names,
            "run_s": s.executorRunTime() / 1e3, "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3, "tasks": s.numTasks(),
            "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
        })
    c = {k: sum(x[k] for x in stages) for k in STAGE_SUMS}
    c.update({
        "jobs": n_jobs, "exec_s": busy_ms / 1e3, "task_skew": 0.0, "stages": stages,
        "intervals": sorted(intervals),
        "python_run_s": sum(x["run_s"] for x in stages if is_python(x)),
        "scan_tasks": sum(x["tasks"] for x in stages if "FileScanRDD" in x["names"]),
    })
    if stages:
        heavy = max(stages, key=lambda x: x["run_s"])
        tasks = st.taskList(heavy["stage"], heavy["attempt"], 100_000)
        durs = [_opt(tasks.apply(i).duration()) or 0 for i in range(tasks.size())]
        med = statistics.median(durs) if durs else 0
        c["task_skew"] = max(durs) / med if med else 0.0
    return c


def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s plan
    (forces planning if it has not happened yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1e3


# ---------------------------------------------------------------------------
# process memory


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from many)."""
    kids = []
    try:
        threads = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in threads:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _is_python_worker(pid: int) -> bool:
    """PySpark workers run as ``python -m pyspark.<module>``; the JVM's own
    command line only mentions ``pyspark-shell``."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"\x00-m\x00pyspark." in f.read()
    except OSError:
        return False


class WorkerMemory:
    """Largest VmHWM seen across the PySpark Python workers this process
    launched (through the JVM). Workers can exit between samples, so call
    ``sample`` after each timed call."""

    def __init__(self):
        self.peak_mb = 0.0

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            if _is_python_worker(pid):
                self.peak_mb = max(self.peak_mb, _hwm_mb(pid))
