"""Process-tree probes (RSS, CPU), the span tracer, the phase watcher and
the Spark event-log reader.

Everything here observes the program from outside: ``/proc`` for the
process tree (this Python process, its Spark JVM and the JVM's Python
workers), the engine's existing ``phase_log`` list, and the JSON event log
Spark writes when ``spark.eventLog.enabled`` is set.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")

# physical operators that run Python tasks (Arrow / pandas UDF execution)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "FlatMapCoGroupsInArrow", "AggregateInPandas",
                "WindowInPandas", "PythonRDD")


def process_start_epoch() -> float:
    """Wall-clock time this process started (from ``/proc``)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh
                     if line.startswith("btime"))
    return btime + start_ticks / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes() -> int:
    """Resident memory of the process tree with each shared page counted
    once: the sum of the processes' PSS. Summed RSS would count a page
    shared by several processes (a forked Python worker and its daemon)
    once per process."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(line.split()[1]) for line in fh
                              if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass
    return total


def tree_cpu_seconds() -> float:
    """User+system CPU of the live tree plus its reaped children."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except OSError:
            pass
    return total / _TICK


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class RssSampler:
    """Peak resident memory of the process tree (``tree_rss_bytes``),
    sampled on a daemon thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak / 2**20


class PhaseWatcher:
    """Wall-clock time at which each ``phase_log`` entry of an engine
    appears. The engine appends ``(gen, label, seconds)`` when a phase
    ends; polling the list gives the phase end times without touching the
    engine."""

    def __init__(self, interval: float = 0.005):
        self.interval = interval
        self.marks: list[tuple[int, str, float, float]] = []
        self._log: list | None = None
        self._seen = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def watch(self, phase_log: list) -> None:
        self._poll()
        self._log, self._seen = phase_log, len(phase_log)

    def _poll(self) -> None:
        log = self._log
        if log is None:
            return
        now = time.time()
        while self._seen < len(log):
            gen, label, secs = log[self._seen]
            self.marks.append((gen, label, secs, now))
            self._seen += 1

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()


class Tracer:
    """Spans (name, start, end, parent, run id) held in memory and written
    once at exit. Disabled tracers record nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.start = time.time()
        t = self.tracer
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append({"name": self.name, "start": self.start,
                            "end": None, "run": t.run_id,
                            "parent": (t.spans[t._stack[-1]]["name"]
                                       if t._stack else None)})
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        self.seconds = self.end - self.start
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = self.end
            t._stack.pop()
        return False


# -- Spark event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the event log(s) under ``log_dir``.

    Returns ``{"jobs": [(submit_s, stage_ids)], "stages": {id: {...}}}`` with
    per-stage task durations, shuffle-write bytes, spill bytes and whether
    the stage runs Python tasks."""
    jobs, stages = [], {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if not f.startswith((".", "appstatus")))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append((ev["Submission Time"] / 1000.0,
                                 ev.get("Stage IDs", [])))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = " ".join(r.get("Scope", "") + r.get("Name", "")
                                      for r in info.get("RDD Info", []))
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["python"] = any(p in scopes for p in PYTHON_NODES)
                    st["submit"] = info.get("Submission Time", 0) / 1000.0
                    st["n_tasks"] = info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    ti = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    st["durations"].append(
                        (ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                        / 1000.0)
                    st["shuffle_bytes"] += (tm.get("Shuffle Write Metrics", {})
                                            .get("Shuffle Bytes Written", 0))
                    st["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                          + tm.get("Disk Bytes Spilled", 0))
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"python": False, "submit": 0.0, "n_tasks": 0, "durations": [],
            "shuffle_bytes": 0, "spill_bytes": 0}


def spark_per_op(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Per-operation Spark counts, each operation a wall-clock window: a
    job belongs to the window its submission falls in, a stage to its job."""
    per = []
    for lo, hi in windows:
        ids = [sid for t, sids in log["jobs"] if lo <= t < hi for sid in sids]
        sts = [log["stages"][s] for s in ids
               if s in log["stages"] and log["stages"][s]["durations"]]
        biggest = max(sts, key=lambda s: sum(s["durations"]), default=None)
        skew = 1.0
        if biggest and statistics.median(biggest["durations"]) > 0:
            skew = (max(biggest["durations"])
                    / statistics.median(biggest["durations"]))
        per.append({
            "jobs": sum(1 for t, _ in log["jobs"] if lo <= t < hi),
            "stages": len(sts),
            "tasks": sum(len(s["durations"]) for s in sts),
            "python_tasks": sum(len(s["durations"]) for s in sts
                                if s["python"]),
            "shuffle_mb": sum(s["shuffle_bytes"] for s in sts) / 2**20,
            "spill_mb": sum(s["spill_bytes"] for s in sts) / 2**20,
            "skew": skew,
        })
    med = (lambda k: statistics.median(p[k] for p in per)) if per else \
        (lambda k: 0.0)
    return {
        "spark.jobs_per_op": med("jobs"),
        "spark.stages_per_op": med("stages"),
        "spark.tasks_per_op": med("tasks"),
        "spark.python_tasks_per_op": med("python_tasks"),
        "spark.shuffle_mb_per_op": med("shuffle_mb"),
        "spark.spill_mb": sum(p["spill_mb"] for p in per),
        "spark.task_skew": med("skew"),
    }


def python_tasks_between(log: dict, lo: float, hi: float) -> int:
    """Python tasks of the stages of jobs submitted in [lo, hi)."""
    ids = [sid for t, sids in log["jobs"] if lo <= t < hi for sid in sids]
    return sum(len(log["stages"][s]["durations"]) for s in ids
               if s in log["stages"] and log["stages"][s]["python"])
