"""Span recorder, CPU clock, Spark event-log parser and self time.

Spans are recorded only from the benchmark's own code, around each
call into a layer of ``cuckoofilter_spark``; the library itself carries
no tracing. A disabled ``Tracer`` still times its steps (wall clock and
the run's CPU clock) because the end-to-end metrics need step times,
but it sets no job group, materialises nothing and keeps no span
records.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def rss_mb() -> float:
    """Current resident set of this process, from /proc (Linux)."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and every process below it: the JVM, the Python worker
    daemon and its workers. A live process's reaped children are in its
    cutime/cstime, so each CPU second is counted once."""
    root = root or os.getpid()
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Records ``(name, start, end, parent, run_id)`` spans in memory.

    ``span(layer, step)`` opens a span named after a library layer;
    ``step`` names the workload step, and step wall and CPU seconds are
    summed per pass in ``steps`` and ``steps_cpu`` whether or not
    tracing is on. When tracing is on, every Spark job started inside
    the span carries the span's id as its job group, so the event-log
    parser can attribute engine counters to it."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self.steps: dict[str, float] = {}
        self.steps_cpu: dict[str, float] = {}
        self._stack: list[int] = []

    def new_pass(self) -> None:
        self.steps, self.steps_cpu = {}, {}

    def _set_group(self, sid: str | None, desc: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", sid)
        self.sc.setLocalProperty("spark.job.description", desc)

    @contextmanager
    def span(self, layer: str, step: str | None = None, **attrs):
        rec = None
        if self.enabled:
            rec = {
                "id": f"{self.run_id}-{len(self.spans)}",
                "name": layer, "step": step, "run_id": self.run_id,
                "parent": self.spans[self._stack[-1]]["id"] if self._stack else None,
                "attrs": dict(attrs),
            }
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
            self._set_group(rec["id"], f"{layer}:{step or ''}")
            rec["rss_mb_start"] = rss_mb()
            rec["start"] = time.time()
        c0 = cpu_s() if step is not None else 0.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            dt = time.perf_counter() - t0
            if step is not None:
                self.steps[step] = self.steps.get(step, 0.0) + dt
                self.steps_cpu[step] = self.steps_cpu.get(step, 0.0) + cpu_s() - c0
            if rec is not None:
                rec["end"] = time.time()
                rec["rss_mb_end"] = rss_mb()
                self._stack.pop()
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self._set_group(parent["id"], parent["name"])
                else:
                    self._set_group(None, None)

    def materialize(self, df):
        """Traced runs persist and count lazy results at a layer
        boundary so that the producing layer's jobs run inside its own
        span (e.g. build before merge). Untraced runs stay lazy."""
        if self.enabled:
            df = df.persist()
            df.count()
        return df


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of its interval covered by its
    direct children (children of one span never overlap: the benchmark
    is single-threaded)."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        for c in kids[s["id"]]:
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            covered += max(0.0, hi - lo)
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- Spark event log -----------------------------------------------------

# Python-exec SQL metric names (``PythonSQLMetrics`` in Spark 4.1) as
# they appear in the task-end accumulables of the event log.
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"

COUNTERS = ("exec_cpu_s", "gc_s", "task_wait_s", "task_retries",
            "shuffle_bytes", "spill_bytes", "python_bytes_sent",
            "python_bytes_received", "python_s", "tasks", "max_task_s")


def event_log_lines(event_dir: str, app_id: str):
    """Lines of an application's event log: the rolling layout Spark 4
    writes by default (``eventlog_v2_<app>/events_<n>_<app>``) or a
    single ``<app>`` file."""
    single = os.path.join(event_dir, app_id)
    if os.path.isfile(single):
        paths = [single]
    else:
        d = os.path.join(event_dir, f"eventlog_v2_{app_id}")
        paths = sorted(glob.glob(os.path.join(d, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            yield from f


def parse_event_log(lines) -> dict:
    """Read a JSON-lines Spark event log.

    Returns ``{job_id: {"group", "submit", "end", "counters"}}`` with
    per-job engine counters summed over the tasks of the job's stages.
    Retried or failed task attempts count in ``task_retries``."""
    jobs, stage_job, stage_submit = {}, {}, {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
                "counters": dict.fromkeys(COUNTERS, 0.0),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            c = jobs[jid]["counters"]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            if info.get("Attempt", 0) > 0 or info.get("Failed") or info.get("Killed"):
                c["task_retries"] += 1
            launch, finish = info.get("Launch Time"), info.get("Finish Time")
            if launch and finish:
                c["max_task_s"] = max(c["max_task_s"], (finish - launch) / 1000.0)
            sub = stage_submit.get(ev["Stage ID"])
            if launch and sub:
                c["task_wait_s"] += max(0, launch - sub) / 1000.0
            c["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name") or ""
                try:
                    upd = float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                if name == PY_SENT:
                    c["python_bytes_sent"] += upd
                elif name == PY_RECV:
                    c["python_bytes_received"] += upd
                elif name == PY_RUN_MS:
                    c["python_s"] += upd / 1000.0
    return jobs


def attribute_jobs(jobs: dict, spans: list[dict]) -> dict[str, dict]:
    """Span id -> summed counters of the jobs that ran inside it.

    A job belongs to the span whose id is its job group. Jobs with a
    foreign group (Structured Streaming sets its own, the query run id)
    go to the innermost span open at their submission time."""
    by_id = {s["id"]: s for s in spans}
    out = {s["id"]: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    for job in jobs.values():
        sid = job["group"] if job["group"] in by_id else None
        if sid is None:
            inner = None
            for s in spans:
                if s["start"] <= job["submit"] <= s["end"]:
                    if inner is None or s["start"] >= inner["start"]:
                        inner = s
            sid = inner["id"] if inner else None
        if sid is None:
            continue
        acc = out[sid]
        for k, v in job["counters"].items():
            acc[k] = max(acc[k], v) if k == "max_task_s" else acc[k] + v
    return out
