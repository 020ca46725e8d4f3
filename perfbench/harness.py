"""Measurement plumbing: spans, Spark event-log rollup, host probe, RSS.

Nothing here knows about a workload. ``Tracer`` times every public call
the workloads make; with tracing on it also tags the call's Spark jobs
with ``setJobGroup`` and keeps one span per call (name, layer, start,
end, parent, run id), written out when the run ends. ``EventLog`` reads
Spark's uncompressed JSON event log after the session stops and sums
task metrics per job group.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, layer: str):
        """Time one call. Yields the span dict; callers may add
        ``groups`` (extra job-group ids, e.g. a streaming query's runId)
        and counters to it."""
        self._n += 1
        span = {
            "id": f"{self.run_id}.{self._n}",
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "groups": [],
        }
        if self.enabled:
            span["groups"].append(span["id"])
            self.sc.setJobGroup(span["id"], name)
        self._stack.append(span)
        span["start"] = time.time()
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self._stack[-1] if self._stack else None
                if parent is not None:
                    self.sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.spans.append(span)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Layer -> summed self time: each span's duration minus the part of
    it its direct children cover."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union([(c["start"], c["end"]) for c in children.get(s["id"], [])])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
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


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


class EventLog:
    """Task metrics, jobs and SQL plans of one application's JSON event log."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}  # job id -> {group, start, end, exec_id, stages}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.stage_accums: dict[int, list[dict]] = {}
        self.plans: dict[int, list[dict]] = {}  # sql execution id -> plan trees
        self.plan_text: dict[int, str] = {}  # sql execution id -> latest physical plan
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "exec_id": int(exec_id) if exec_id is not None else None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            sw = m.get("Shuffle Write Metrics") or {}
            self.stage_tasks.setdefault(ev["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "peak_mem": m.get("Peak Execution Memory", 0),
                "dur_ms": info["Finish Time"] - info["Launch Time"],
            })
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stage_accums[info["Stage ID"]] = info.get("Accumulables", [])
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            eid = ev["executionId"]
            self.plans.setdefault(eid, []).append(ev["sparkPlanInfo"])
            self.plan_text[eid] = ev.get("physicalPlanDescription", "")

    def select_jobs(self, groups: list[str]) -> list[int]:
        gset = set(groups)
        return [jid for jid, j in self.jobs.items() if j["group"] in gset and j["end"] is not None]

    def job_plan(self, jid: int) -> str:
        return self.plan_text.get(self.jobs[jid]["exec_id"], "")

    def _stages(self, jobs: list[int]) -> set[int]:
        # a stage listed by several jobs (skipped re-use) ran once
        return {sid for jid in jobs for sid in self.jobs[jid]["stages"] if sid in self.stage_tasks}

    def stats(self, jobs: list[int]) -> dict:
        """Summed task metrics and Spark busy interval of ``jobs``."""
        stages = self._stages(jobs)
        tasks = [t for sid in stages for t in self.stage_tasks[sid]]
        skews = []
        for sid in stages:
            durs = [t["dur_ms"] for t in self.stage_tasks[sid]]
            if len(durs) >= 2 and statistics.median(durs) > 0:
                skews.append(max(durs) / statistics.median(durs))
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        cpu_s = sum(t["cpu_ns"] for t in tasks) / 1e9
        busy = _union([(self.jobs[j]["start"], self.jobs[j]["end"]) for j in jobs])
        return {
            "task_run_s": run_s,
            "jvm_cpu_s": cpu_s,
            "python_s": max(run_s - cpu_s, 0.0),
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "peak_exec_mem_mb": max((t["peak_mem"] for t in tasks), default=0) / 1e6,
            "skew": max(skews, default=1.0 if stages else 0.0),
            "spark_busy_s": busy,
        }

    def join_output_rows(self, jobs: list[int], key: str) -> int:
        """Rows out of the join nodes whose description names ``key``
        (a filter-refine operator's prefilter join: its candidates)."""
        accum_ids: set[int] = set()

        def walk(node: dict) -> None:
            if node["nodeName"].startswith(_JOIN_NODES) and key in node.get("simpleString", ""):
                accum_ids.update(
                    m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == "number of output rows"
                )
            for c in node.get("children", []):
                walk(c)

        for eid in {self.jobs[j]["exec_id"] for j in jobs} - {None}:
            for plan in self.plans.get(eid, []):
                walk(plan)
        return sum(
            int(a.get("Value", 0))
            for sid in self._stages(jobs)
            for a in self.stage_accums.get(sid, [])
            if a.get("ID") in accum_ids
        )

    def exchange_count(self, jobs: list[int]) -> int:
        """Exchange nodes in the final physical plans of the jobs' SQL
        executions (reused exchanges not counted)."""
        n = 0
        for eid in {self.jobs[j]["exec_id"] for j in jobs} - {None}:
            tree = self.plan_text.get(eid, "").split("\n\n")[0]
            n += len(re.findall(r"(?<!Reused)Exchange\b", tree))
        return n


def find_event_log(log_dir: Path, app_id: str) -> Path | None:
    for p in log_dir.iterdir():
        if p.name.startswith(app_id):
            return p
    return None


# ---------------------------------------------------------------------------
# host probe and process accounting
# ---------------------------------------------------------------------------


def memcpy_gbps(mb: int = 64, reps: int = 5) -> float:
    """Warm-buffer memcpy bandwidth (best of ``reps`` copies), GB/s."""
    import numpy as np

    a = np.ones(mb << 20, np.uint8)
    b = np.empty_like(a)
    np.copyto(b, a)
    best = min(_timed(lambda: np.copyto(b, a)) for _ in range(reps))
    return (mb << 20) / best / 1e9


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine so far, from
    /proc/stat: busy is user + nice + system + irq + softirq + steal,
    stolen is the time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq + steal, steal


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Sum over this process tree (driver, JVM, Python workers) of each
    process's peak RSS (VmHWM), sampled so exited workers still count.
    ``start`` resets every live process's high-water mark to its current
    RSS (``/proc/<pid>/clear_refs``), so only what runs after it counts."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb: dict[int, int] = {}
        self.stopped = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid in [os.getpid()] + descendants(os.getpid()):
            kb = _hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except (FileNotFoundError, ProcessLookupError):
                pass  # exited meanwhile
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        self.stopped = True
        return sum(self.peak_kb.values()) / 1024.0
