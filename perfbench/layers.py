"""Per-layer attribution of a traced run.

Layers are the package's modules: `session`, `plans.lookup` +
`sources.writers` (phase `lookup`), `streaming.scorer` + `operators.merge`
(phase `foreach`), `streaming.stateful` (phase `stateful`), `queries`
(phase `queries`), and the Spark engine under each phase. LAYERS.md says
which end-to-end metric each one should move, and on which workload.
"""

from __future__ import annotations

import statistics
import time
from datetime import datetime

import tracing as tr

# streaming durationMs phases reported per scorer, as medians over batches
_PHASES = {"addBatch": "add_batch_ms", "latestOffset": "latest_offset_ms",
           "getBatch": "get_batch_ms", "queryPlanning": "query_planning_ms",
           "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms"}

def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def batch_windows(progress: list[dict]) -> list[tuple[float, float]]:
    """[trigger start, trigger end] of each batch, epoch ms."""
    out = []
    for p in progress:
        start = _epoch_ms(p["timestamp"])
        out.append((start, start + p["durationMs"]["triggerExecution"]))
    return out


def attribute(bench, detail: dict) -> None:
    """Fold the event log, listener progress and span windows into
    bench.report. Runs after the session has stopped."""
    r = bench.report
    jobs = tr.fold_jobs(tr.read_event_log(bench.event_log_dir))

    for phase, (start, end) in bench.phases.items():
        for k, v in tr.engine_totals(tr.in_window(jobs, start, end)).items():
            r[f"{phase}.spark.{k}"] = v

    op_windows: list[tuple[float, float]] = []
    for name, rep in detail["replays"].items():
        progress = bench.recorder.for_run(rep["run_id"])
        r[f"{name}.batches_seen_by_listener"] = float(len(progress))
        phases = tr.batch_phases(progress)
        for key, label in _PHASES.items():
            if key in phases:
                r[f"{name}.{label}"] = statistics.median(phases[key])
        windows = batch_windows(progress)
        op_windows.extend(windows[1:])  # operations start at the second batch
        per_batch = [tr.in_window(jobs, s, e) for s, e in windows]
        r[f"{name}.jobs_per_batch"] = statistics.median(len(js) for js in per_batch)
        r[f"{name}.driver_ms_per_batch"] = statistics.median(
            p["durationMs"].get("addBatch", 0) - tr.covered_ms(js, s, e)
            for p, js, (s, e) in zip(progress, per_batch, windows))
        if name == "stateful":
            ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
            if ops:
                r["stateful.groups_per_batch"] = statistics.median(o["numRowsUpdated"] for o in ops)
                r["stateful.state_rows"] = float(ops[-1]["numRowsTotal"])
                r["stateful.state_bytes"] = float(ops[-1]["memoryUsedBytes"])
                r["stateful.state_commit_ms"] = statistics.median(o["commitTimeMs"] for o in ops)

    if detail["groups"]:
        r["stateful.fold_us_per_event"] = _fold_us_per_event(detail["groups"], bench)

    if bench.query_windows:
        r["queries.jobs_in_build"] = float(sum(
            1 for j in jobs if (j["group"] or "").startswith("build:")))
        op_windows = [(s, e) for _, s, e in bench.query_windows]

    # an operation: a steady batch of either scorer, or one query
    ops = len(op_windows)
    measured = [j for s, e in op_windows for j in tr.in_window(jobs, s, e)]
    totals = tr.engine_totals(measured)
    r["driver.ms_per_op"] = sum(
        (e - s) - tr.covered_ms(tr.in_window(jobs, s, e), s, e) for s, e in op_windows) / ops
    r["spark.jobs_per_op"] = totals["jobs"] / ops
    r["spark.tasks_per_op"] = totals["tasks"] / ops
    r["spark.executor_run_ms_per_op"] = totals["executor_run_s"] * 1e3 / ops
    r["spark.executor_cpu_ms_per_op"] = totals["executor_cpu_s"] * 1e3 / ops
    r["spark.gc_ms_per_op"] = totals["gc_s"] * 1e3 / ops
    r["spark.shuffle_write_kb_per_op"] = totals["shuffle_write_mb"] * 1024 / ops
    r["python.worker_ms_per_op"] = totals["python_worker_s"] * 1e3 / ops


def _fold_us_per_event(groups: list[list[dict]], bench) -> float:
    """fold_events timed standalone over the per-card event lists the
    replay scored, with the lookup and geo the scorer used."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.stateful import fold_events

    lookup, geo = bench.fold_inputs
    n = sum(len(g) for g in groups)
    t0 = time.perf_counter()
    for events in groups:
        fold_events(events, (None, None), lookup, geo)
    return (time.perf_counter() - t0) * 1e6 / n
