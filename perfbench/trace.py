"""Spans, process-tree memory sampling and Spark event-log attribution.

Spans are recorded by the benchmark around its calls into the program
(no instrumentation inside ``crawl4ai_spark``). They are kept in memory
and written out once, when the run ends. In a traced run Spark's event
log supplies the job, stage and task records that are attributed to
layers by job group and by time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; spans of one run share ``run_id``."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # epoch seconds on the monotonic clock: a wall-clock step during
        # a run must not stretch or shrink a span
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": self.now(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self.now()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> None:
        """Record a span measured elsewhere (e.g. a Spark job)."""
        self.spans.append({"id": len(self.spans), "run": self.run_id,
                           "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of its duration not covered by its
        children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), **extra}, f, indent=1)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class MemorySampler:
    """Peak summed proportional set size (PSS) of this process and all
    its descendants: driver JVM, Python driver and Python workers,
    sampled from /proc. PSS splits pages shared between processes, so
    forked workers and a JVM mid-fork are not counted twice."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}  # bytes per command at peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def descendants() -> dict[int, str]:
        """``{pid: command}`` of every descendant of this process."""
        children: dict[int, list[int]] = {}
        names: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
            names[int(d)] = stat[stat.find("(") + 1:stat.rfind(")")]
        out: dict[int, str] = {}
        todo = list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            out[pid] = names[pid]
            todo += children.get(pid, [])
        return out

    @staticmethod
    def pss(pid: int | str) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass  # the process exited between listing and reading
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            parts = {"driver": self.pss("self")}
            for pid, name in self.descendants().items():
                parts[name] = parts.get(name, 0) + self.pss(pid)
            total = sum(parts.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts
            self._stop.wait(self.interval)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_BYTES_IN = "data sent to Python workers"
PY_BYTES_OUT = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the (single) application in ``log_dir``.

    Times are epoch seconds; ``jobs[i]["group"]`` is the job group id
    the program set (``crawl-<tag>-r<r>-<section>`` in crawl rounds).
    """
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "*"))
                   if os.path.isfile(f))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid,
                                 "start": ev["Submission Time"] / 1e3,
                                 "end": None,
                                 "group": props.get("spark.jobGroup.id")}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value")
                           for a in info.get("Accumulables", [])}
                    stages[info["Stage ID"]] = {
                        "id": info["Stage ID"],
                        "job": stage_job.get(info["Stage ID"]),
                        "py_in": _num(acc.get(PY_BYTES_IN)),
                        "py_out": _num(acc.get(PY_BYTES_OUT)),
                    }
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "job": stage_job.get(ev["Stage ID"]),
                        "start": info["Launch Time"] / 1e3,
                        "end": info["Finish Time"] / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "retried": int(info.get("Attempt", 0) > 0
                                       or info.get("Failed", False)),
                    })
    return {"jobs": [j for j in jobs.values() if j["end"] is not None],
            "stages": stages, "tasks": tasks}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def in_window(items: list[dict], lo: float, hi: float) -> list[dict]:
    """Items that started and ended inside ``[lo, hi]``; the JVM stamps
    event times in whole milliseconds, hence the small tolerance."""
    return [x for x in items
            if x["start"] >= lo - 0.01 and x["end"] <= hi + 0.01]


def task_totals(tasks: list[dict]) -> dict[str, float]:
    return {
        "shuffle.bytes_written": float(sum(t["shuffle_write"] for t in tasks)),
        "shuffle.fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
        "tasks.count": float(len(tasks)),
        "tasks.busy_s": sum(t["run_s"] for t in tasks),
        "tasks.retried": float(sum(t["retried"] for t in tasks)),
    }


def skew(tasks: list[dict]) -> float:
    """Slowest task over the median task, by executor run time."""
    runs = [t["run_s"] for t in tasks if t["run_s"] > 0]
    if not runs:
        return 0.0
    return max(runs) / statistics.median(runs)
