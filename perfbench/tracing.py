"""Measurement taken from outside the package: Spark's own progress events
and event log, and the process tree's CPU and memory.

Nothing here reaches into the package; spans are recorded around calls to
its public functions by run.py.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class ProgressRecorder(StreamingQueryListener):
    """Keeps every progress event of every query, as a parsed dict."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def for_run(self, run_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p["runId"] == run_id and p["numInputRows"] > 0]


def batch_phases(progress: list[dict]) -> dict[str, list[float]]:
    """durationMs per phase across batches (triggerExecution included)."""
    out: dict[str, list[float]] = defaultdict(list)
    for p in progress:
        for k, v in p["durationMs"].items():
            out[k].append(float(v))
    return dict(out)


class TreeSampler:
    """Peak resident memory of this process and its descendants (JVM and
    Python workers), sampled every `period` seconds on a daemon thread."""

    def __init__(self, tree_pids, period: float = 0.25):
        self._tree_pids = tree_pids
        self._period = period
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self.peak_bytes = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _rss(self) -> int:
        total = 0
        for pid in self._tree_pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._rss())
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._rss())


# ---------------------------------------------------------------------------
# Event log fold
# ---------------------------------------------------------------------------

_PY_RUN = "time to run Python workers"      # ms
_PY_SENT = "data sent to Python workers"     # bytes


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (uncompressed, rolling) event logs under log_dir."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_jobs(events: list[dict]) -> list[dict]:
    """One record per Spark job: group, submit/end (epoch ms) and the sums of
    its tasks' metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "job": jid,
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit_ms": e["Submission Time"],
                "end_ms": None,
                "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
                "shuffle_write_b": 0.0, "spill_b": 0.0, "output_b": 0.0,
                "py_run_ms": 0.0, "py_sent_b": 0.0,
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            j = jobs[stage_job[e["Stage ID"]]]
            tm = e.get("Task Metrics") or {}
            j["tasks"] += 1
            j["run_ms"] += tm.get("Executor Run Time", 0)
            j["cpu_ns"] += tm.get("Executor CPU Time", 0)
            j["gc_ms"] += tm.get("JVM GC Time", 0)
            j["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            j["spill_b"] += tm.get("Disk Bytes Spilled", 0)
            j["output_b"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PY_RUN:
                    j["py_run_ms"] += float(acc.get("Update", 0))
                elif acc.get("Name") == _PY_SENT:
                    j["py_sent_b"] += float(acc.get("Update", 0))
    return sorted(jobs.values(), key=lambda j: j["job"])


def in_window(jobs: list[dict], start_ms: float, end_ms: float) -> list[dict]:
    return [j for j in jobs if start_ms <= j["submit_ms"] <= end_ms]


def engine_totals(jobs: list[dict]) -> dict[str, float]:
    """Spark-engine metrics summed over a set of jobs."""
    return {
        "jobs": float(len(jobs)),
        "tasks": float(sum(j["tasks"] for j in jobs)),
        "executor_run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / 2**20,
        "spill_mb": sum(j["spill_b"] for j in jobs) / 2**20,
        "python_worker_s": sum(j["py_run_ms"] for j in jobs) / 1e3,
        "bytes_to_python_mb": sum(j["py_sent_b"] for j in jobs) / 2**20,
    }


def covered_ms(jobs: list[dict], start_ms: float, end_ms: float) -> float:
    """Length of the union of the jobs' [submit, end] intervals, clipped to
    [start_ms, end_ms]: the part of a span during which Spark ran a job."""
    spans = sorted(
        (max(j["submit_ms"], start_ms), min(j["end_ms"] or end_ms, end_ms)) for j in jobs
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
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
