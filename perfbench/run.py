"""End-to-end benchmark of the Lambda pipeline, with per-layer attribution.

    python3 perfbench/run.py --workload lambda_wide --seed 1 --seconds 10 --trace 0

Workloads (inputs come from perfbench/gen.py and the seed):
  lambda_wide   batch-layer lookup build over 50k cards x 20 history rows, then
                --seconds/2 micro-batches of 500 events (one event per card
                per batch) through run_scorer and the first --seconds/4 of
                the same batches through score_stream_stateful.
  query_mix     one pass per 20 s of --seconds over 12 registry queries, each
                built with q.fn() and executed to a noop sink, over generated
                tables in the registry's layout.

The work of a run is fixed by --seconds, so that runs compare like with like.
Replays are closed loops: one file per micro-batch (maxFilesPerTrigger=1),
and a file is staged only while fewer than LEAD staged files are
uncommitted, so the stream never waits for input and never runs ahead.

Every micro-batch and every query is one operation; it fails if it raises or
if its output differs from the reference (checks.py). With --trace 0 the last
line carries the end-to-end metrics; with --trace 1 it carries the per-layer
metrics, taken from a run with Spark's event log, a StreamingQueryListener
and job groups switched on, and a `perfbench-trace` line above it holds the
full per-layer report.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lambda_wide", "query_mix")
CPUS = max(1, min(4, os.cpu_count() or 1))
GEN_REPEATS = 3
LEAD = 2  # payload files staged ahead of the last committed batch
BATCH_TIMEOUT_S = 120

# Fraud core, then construction-bound, execution-bound and Python/Arrow-bound
# queries: driver-side plan construction is measured here and nowhere else.
# Twelve, so that one cold pass (about 20 s on 4 cores) fits the run budget.
QUERY_MIX = [
    "ucl_grouped", "ucl_windowed", "lookup_build", "fraud_score_events",
    "fligner_killeen", "kmeans_1d_lloyd", "minhash_lsh_pairs",
    "knn_shapley_valuation", "decision_stump_split", "quantile_binning",
    "multimodal_png_stats", "ann_ivf_topk",
]
ORACLE_TABLES = ["customer", "orders", "lineitem", "events", "documents", "embeddings"]


def prepare_environment(work: str, event_log_dir: str | None) -> None:
    """Keep every file Spark and its workers write inside `work`, and let
    Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    args = [f'--driver-java-options "-Djava.io.tmpdir={tmp}"']
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{event_log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile
    tempfile.tempdir = tmp


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.event_log_dir = os.path.join(work, "eventlog") if trace else None
        self.phases: dict[str, tuple[float, float]] = {}   # name -> epoch-ms window
        self.report: dict[str, float] = {}                  # every named metric
        self.counts: dict[str, int] = {}                    # sample counts
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.recorder = None  # trace: the StreamingQueryListener
        self.query_windows: list[tuple[str, float, float]] = []  # trace: per-query epoch ms

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Time a phase; when tracing, its jobs also run under job group `name`."""
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.phases[name] = (t0 * 1e3, time.time() * 1e3)
            if self.trace:
                sc.setJobGroup("perfbench", "perfbench")

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from fraud_detection_in_banking_transactions_using_hadoop_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", CPUS)
        self._warm_up()
        self.report["session.start_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import registry
        self.registry = {q.name: q for q in registry()}
        self.report["queries.registry_import_s"] = time.perf_counter() - t0

        import gen
        self.inputs = os.path.join(self.work, "inputs")
        times = []
        for _ in range(GEN_REPEATS):
            shutil.rmtree(self.inputs, ignore_errors=True)
            t0 = time.perf_counter()
            self.batches = gen.generate(self.inputs, self.workload, self.seed)
            times.append(time.perf_counter() - t0)
        self.report["inputs.generate_s"] = statistics.median(times)
        self.report["setup_s"] = (self.report["session.start_s"]
                                  + self.report["queries.registry_import_s"]
                                  + self.report["inputs.generate_s"])
        self.counts["setup_s"] = GEN_REPEATS

        if self.trace:
            import tracing as tr
            self.recorder = tr.ProgressRecorder()
            self.spark.streams.addListener(self.recorder)
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    def _warm_up(self) -> None:
        """JVM, codegen and Python-worker warm-up, on data no workload reads."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def _ident(s: pd.Series) -> pd.Series:
            return s

        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        self.spark.range(4).select(_ident(F.col("id").cast("double"))).collect()

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:  # set-up failed before the session started
            return
        if self.recorder is not None:
            spark.streams.removeListener(self.recorder)
        for q in spark.streams.active:
            q.stop()
        spark.stop()

    # -- pipeline pieces ---------------------------------------------------
    def read(self, name: str, schema):
        return self.spark.read.schema(schema).parquet(os.path.join(self.inputs, f"{name}.parquet"))

    def build_lookup(self, lookup_path: str) -> None:
        from fraud_detection_in_banking_transactions_using_hadoop_spark import schemas
        from fraud_detection_in_banking_transactions_using_hadoop_spark.plans.lookup import build_lookup
        from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.writers import (
            overwrite_keyed_table,
        )

        with self.span("lookup"):
            t0 = time.perf_counter()
            lookup = build_lookup(self.read("history", schemas.CARD_TRANSACTIONS),
                                  self.read("card_member", schemas.CARD_MEMBER),
                                  self.read("member_score", schemas.MEMBER_SCORE))
            t1 = time.perf_counter()
            overwrite_keyed_table(lookup, lookup_path, key="card_id")
            t2 = time.perf_counter()
        self.report["lookup.construct_s"] = t1 - t0
        self.report["lookup.write_s"] = t2 - t1
        self.report["lookup_build_s"] = t2 - t0

    def replay(self, name: str, start_query, files: list[str], ckpt: str, n: int) -> dict:
        """Closed-loop replay of the first n payload files through one
        streaming query: a file is staged while fewer than LEAD staged files
        are uncommitted. Returns each batch's commit time, the batch count
        and the query's progress events."""
        from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.scorer import (
            read_payload_file_stream,
        )

        if not 2 <= n <= len(files):
            raise ValueError(f"{name}: cannot replay {n} of {len(files)} batches")
        in_dir = os.path.join(self.work, f"{name}_in")
        os.makedirs(in_dir)
        commits = os.path.join(ckpt, "commits")
        base = time.time()
        staged = 0

        def stage(i: int) -> None:
            tmp = os.path.join(self.work, f".{name}_{i}.json")
            shutil.copyfile(files[i], tmp)
            os.utime(tmp, (base + i, base + i))  # the file source orders by mtime
            os.rename(tmp, os.path.join(in_dir, os.path.basename(files[i])))

        def committed() -> int:
            try:
                return sum(1 for f in os.listdir(commits) if f.isdigit())
            except FileNotFoundError:
                return 0

        while staged < LEAD:
            stage(staged)
            staged += 1
        with self.span(name):
            t0 = time.perf_counter()
            q = start_query(read_payload_file_stream(self.spark, in_dir))
            commit_t: list[float] = []  # seconds from start to each batch's commit
            last_change, polls = t0, 0
            while len(commit_t) < n:
                now = time.perf_counter()
                done = committed()
                if done != len(commit_t):
                    commit_t += [now - t0] * (done - len(commit_t))
                    last_change = now
                while staged < n and staged - len(commit_t) < LEAD:
                    stage(staged)
                    staged += 1
                polls += 1
                if polls % 100 == 0 and not q.isActive:
                    raise RuntimeError(f"{name} stopped: {q.exception()}")
                if now - last_change > BATCH_TIMEOUT_S:
                    raise RuntimeError(f"{name}: no batch committed in {BATCH_TIMEOUT_S}s")
                time.sleep(0.005)
            now = time.perf_counter()
            # the progress event of the last batch is posted after its commit
            while True:
                progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
                if len(progress) >= len(commit_t) or time.perf_counter() - now > 10:
                    break
                time.sleep(0.01)
            run_id = str(q.runId)
            q.stop()
        return {"commit_t": commit_t, "batches": len(commit_t), "progress": progress,
                "run_id": run_id}

    def run_stateful(self, name: str, lookup_pdf, geo: dict, files, n: int):
        from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.stateful import (
            score_stream_stateful,
        )

        sc = self.spark.sparkContext
        self.fold_inputs = ({int(r.card_id): (r.ucl, r.score) for r in lookup_pdf.itertuples()}, geo)
        lookup_bc = sc.broadcast(self.fold_inputs[0])
        geo_bc = sc.broadcast(geo)
        ckpt = os.path.join(self.work, f"{name}_ckpt")

        def start(stream):
            return (score_stream_stateful(stream, lookup_bc, geo_bc).writeStream
                    .format("memory").queryName(name).outputMode("append")
                    .option("checkpointLocation", ckpt).start())

        return self.replay(name, start, files, ckpt, n)

    # -- workloads ---------------------------------------------------------
    def payload(self) -> tuple[list[str], list]:
        d = os.path.join(self.inputs, "payload")
        return sorted(os.path.join(d, f) for f in os.listdir(d)), self.batches

    def geo_and_lookup(self, lookup_path: str):
        import pyarrow.parquet as pq

        z = pq.read_table(os.path.join(self.inputs, "zip_geo.parquet")).to_pandas()
        geo = {r.zip: (r.lat, r.lon) for r in z.itertuples()}
        built = self.spark.read.parquet(lookup_path).toPandas()
        return geo, built

    def expected_lookup(self):
        import pyarrow.parquet as pq

        import checks

        t = {n: pq.read_table(os.path.join(self.inputs, f"{n}.parquet")).to_pandas()
             for n in ("history", "card_member", "member_score")}
        return checks.expected_lookup(t["history"], t["card_member"], t["member_score"])

    def run_lambda_wide(self) -> dict:
        import checks
        from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.scorer import run_scorer

        lookup_path = os.path.join(self.work, "lookup")
        master_path = os.path.join(self.work, "master")
        files, batches = self.payload()
        self.build_lookup(lookup_path)
        geo, built = self.geo_and_lookup(lookup_path)
        lookup_bytes = _dir_bytes(lookup_path)

        zip_geo = self.spark.read.parquet(os.path.join(self.inputs, "zip_geo.parquet"))
        metrics_out: list = []
        fe_ckpt = os.path.join(self.work, "foreach_ckpt")

        def start(stream):
            return run_scorer(stream, lookup_path, zip_geo, master_path, fe_ckpt,
                              metrics_out=metrics_out)

        # foreachBatch keeps warming up for about ten batches; the stateful
        # scorer is flat from its second, so it replays a prefix of them
        n, m = max(3, self.seconds // 2), max(3, self.seconds // 4)
        cpu = CpuClock()
        fe = self.replay("foreach", start, files, fe_ckpt, n)
        st = self.run_stateful("stateful", built, geo, files, m)
        cpu_s = cpu.stop()

        # checks (outside the timed region)
        st_out = self.spark.table("stateful").select(
            "card_id", "transaction_dt", "pos_id", "status").toPandas()
        self.attempted += 1 + n + m
        lk_built_bad = checks.lookup_mismatches(built, self.expected_lookup())
        self.failed += 1 if lk_built_bad else 0
        self._note_bad("lookup", lk_built_bad, "cards unlike the pandas recomputation")
        spec, batch_of, state, groups = checks.spec_statuses(batches[:n], built, geo)
        master = self.spark.read.parquet(master_path).select(
            "card_id", "transaction_dt", "pos_id", "status").toPandas()
        fe_bad, fe_ev = checks.status_mismatches(master, spec, batch_of)
        prefix = {k: v for k, v in spec.items() if batch_of[k] < m}
        st_bad, st_ev = checks.status_mismatches(st_out, prefix, batch_of)
        lk_after = self.spark.read.parquet(lookup_path).toPandas()
        lk_bad = checks.final_state_mismatches(lk_after, state)
        self.failed += min(n, fe_bad + (1 if lk_bad else 0)) + st_bad
        self._note_bad("foreach", fe_ev, "events scored unlike the spec")
        self._note_bad("foreach", lk_bad, "cards whose final lookup state differs from the spec")
        self._note_bad("stateful", st_ev, "events scored unlike the spec")

        sizes = [len(b) for b in batches[:n]]
        fe_ms = self._replay_metrics("foreach", fe, sizes)
        st_ms = self._replay_metrics("stateful", st, sizes[:m])
        events = sum(sizes)
        master_bytes = _dir_bytes(master_path)
        self.report["write_bytes_per_event"] = (master_bytes + n * lookup_bytes) / events
        self.report["foreach.master_bytes_per_event"] = master_bytes / events
        self.report["foreach.lookup_bytes_per_batch"] = float(lookup_bytes)
        n_rows = sum(rec["n_rows"] for rec in metrics_out)
        self.report["foreach.fraud_share"] = sum(rec["n_fraud"] for rec in metrics_out) / max(1, n_rows)
        # a batch through both scorers: the sum of their median batch latencies;
        # n is the smaller of their steady batch counts
        return self._e2e(statistics.median(fe_ms) + statistics.median(st_ms), min(len(fe_ms), len(st_ms)),
                         sum(sizes[1:]) + sum(sizes[1:m]), _steady_s(fe) + _steady_s(st),
                         cpu_s, events + sum(sizes[:m]), {"foreach": fe, "stateful": st}, groups)

    def run_query_mix(self) -> dict:
        sf_dir = os.path.join(self.inputs, "sf")
        sc = self.spark.sparkContext
        built: dict = {}
        n_run = 0
        per_q: dict[str, list[tuple[float, float]]] = {n: [] for n in QUERY_MIX}
        query_ms: list[float] = []  # build + execution of each query run
        pass_s: list[float] = []
        cpu = CpuClock()
        with self.span("queries"):
            for _ in range(max(1, self.seconds // 20)):  # a cold pass takes about 20 s
                total = 0.0  # seconds
                for name in QUERY_MIX:
                    self.attempted += 1
                    try:
                        if self.trace:
                            sc.setJobGroup(f"build:{name}", name)
                        t0 = time.perf_counter()
                        df = self.registry[name].fn(self.spark, sf_dir)
                        t1 = time.perf_counter()
                        if self.trace:
                            sc.setJobGroup(f"exec:{name}", name)
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                    except Exception as e:  # one failed operation; the mix goes on
                        self.failed += 1
                        self.notes.append(f"{name}: {type(e).__name__}: {e}"[:300])
                        built.pop(name, None)
                        continue
                    built[name] = df
                    if self.trace:
                        end = time.time() * 1e3
                        self.query_windows.append((name, end - (t2 - t0) * 1e3, end))
                    per_q[name].append((t1 - t0, t2 - t1))
                    query_ms.append((t2 - t0) * 1e3)
                    n_run += 1
                    total += t2 - t0
                pass_s.append(total * 1e3)
            if self.trace:
                sc.setJobGroup("perfbench", "perfbench")
        cpu_s = cpu.stop()
        self.failed += self._oracle_check(built, sf_dir)

        self.report["query_mix_s"] = statistics.median(pass_s) / 1e3
        self.counts["query_mix_s"] = len(pass_s)
        for name, samples in per_q.items():
            if samples:
                self.report[f"q.{name}.build_s"] = statistics.median(s[0] for s in samples)
                self.report[f"q.{name}.exec_s"] = statistics.median(s[1] for s in samples)
        self.report["queries.build_s"] = sum(self.report.get(f"q.{n}.build_s", 0) for n in QUERY_MIX)
        self.report["queries.exec_s"] = sum(self.report.get(f"q.{n}.exec_s", 0) for n in QUERY_MIX)
        return self._e2e(statistics.median(query_ms), len(query_ms), n_run, sum(pass_s) / 1e3,
                         cpu_s, n_run, {}, [])

    def _oracle_check(self, built: dict, sf_dir: str) -> int:
        """Once per invocation, outside the timed region: each query's last
        built frame against its DuckDB oracle SQL."""
        import duckdb

        import checks
        from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import resolve_sql
        from tools.oracle_check import canon_rows

        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            bad = 0
            for name, df in built.items():
                sql = resolve_sql(self.registry[name], sf_dir)
                if sql is None:
                    continue
                problem = checks.oracle_mismatch(df.toPandas(), con.execute(sql).df(), canon_rows)
                if problem:
                    bad += 1
                    self.notes.append(f"{name}: oracle mismatch: {problem}")
            return bad
        finally:
            con.close()

    # -- metrics -----------------------------------------------------------
    def _note_bad(self, what: str, n: int, text: str) -> None:
        if n:
            self.notes.append(f"{what}: {n} {text}")

    def _replay_metrics(self, name: str, rep: dict, sizes: list[int]) -> list[float]:
        """Report a replay's figures; returns its steady batch latencies.

        The first batch pays query start-up and cold code paths; it is
        reported on its own, and latency and throughput are taken from the
        second batch on."""
        ms = _trigger_ms(rep["progress"])
        self.report[f"{name}_first_batch_ms"] = ms[0]
        self._latency(f"{name}_batch", ms[1:])
        self.report[f"{name}_events_per_s"] = sum(sizes[1:]) / _steady_s(rep)
        return ms[1:]

    def _latency(self, name: str, ms: list[float]) -> None:
        self.report[f"{name}_p50_ms"] = statistics.median(ms)
        self.counts[f"{name}_p50_ms"] = len(ms)
        # the p90 has ten samples beyond it only from 100 batches on
        if len(ms) >= 100:
            self.report[f"{name}_p90_ms"] = pctl(ms, 0.9)
            self.counts[f"{name}_p90_ms"] = len(ms)

    def _e2e(self, latency_ms: float, latency_n: int, items: int, busy_s: float,
             cpu_s: float, cpu_items: int, replays: dict, groups) -> dict:
        """latency_ms: the median latency of a unit of response -- a steady
        batch through both scorers, or one query built and executed -- from
        latency_n samples. `items` were processed in `busy_s`;
        `cpu_s` was spent on `cpu_items`."""
        self.report["latency_p50_ms"] = latency_ms
        self.counts["latency_p50_ms"] = latency_n
        self.report["items_per_s"] = items / busy_s
        self.counts["items_per_s"] = items
        self.report["cpu_ms_per_item"] = cpu_s * 1e3 / cpu_items
        self.report["cpu_s"] = cpu_s
        return {"replays": replays, "groups": groups}


class CpuClock:
    """Process-tree CPU seconds (driver JVM + Python workers), as bench.py
    reads them."""

    def __init__(self):
        from bench import _tree_cpu_stats
        self._stats = _tree_cpu_stats
        self._c0 = _tree_cpu_stats()

    def stop(self) -> float:
        from bench import _cpu_delta
        return _cpu_delta(self._c0, self._stats())


def _steady_s(rep: dict) -> float:
    """Wall time from the first batch's commit to the last one's."""
    return rep["commit_t"][-1] - rep["commit_t"][0]


def _trigger_ms(progress: list[dict]) -> list[float]:
    return [float(p["durationMs"]["triggerExecution"]) for p in progress]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_")))


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (ppid, state, start time) of every process, from /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(rest[1]), rest[0], rest[19])
    return table


def _descendants(table: dict[int, tuple[int, str, str]]) -> dict[int, str]:
    """This process's live (not zombie) descendants: pid -> start time."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        if table[pid][1] != "Z":
            out[pid] = table[pid][2]
        todo += kids.get(pid, [])
    return out


def become_subreaper() -> None:
    """Have processes orphaned by the JVM's exit (its Python workers)
    re-parented to this process, so that stop_process_tree can reap them."""
    import ctypes

    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def stop_process_tree(timeout_s: float = 30.0) -> None:
    """Stop the Spark JVM and every process under it, and wait until each
    has ended. The JVM exits when its stdin closes; whatever is still alive
    after that is sent SIGTERM, and SIGKILL once `timeout_s` has passed."""
    import subprocess

    from pyspark import SparkContext

    tracked = _descendants(_proc_table())  # before the JVM's children are orphaned
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            with contextlib.suppress(OSError, ValueError):
                proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:  # reap ended children
                pass
        table = _proc_table()
        alive = set(_descendants(table)) | {
            pid for pid, start in tracked.items()
            if pid in table and table[pid][2] == start and table[pid][1] != "Z"}
        if not alive:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in alive:
            with contextlib.suppress(ProcessLookupError, PermissionError):
                os.kill(pid, sig)
        time.sleep(0.1)


def run(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    bench = Bench(workload, seed, seconds, trace, work)
    prepare_environment(work, bench.event_log_dir)
    import tracing as tr
    from bench import _tree_cpu_stats

    try:
        bench.setup()
        with tr.TreeSampler(lambda: list(_tree_cpu_stats())) as rss:
            detail = getattr(bench, f"run_{workload}")()
        bench.report["peak_rss_mb"] = rss.peak_bytes / 2**20
    finally:
        bench.close()
    if trace:  # the event log is complete once the session has stopped
        import layers
        layers.attribute(bench, detail)
    return {"bench": bench, "detail": detail}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Lambda-pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so `finally` runs
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        if "pyspark" in sys.modules:
            stop_process_tree()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    bench = out["bench"]
    _print_report(bench)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        print("perfbench-trace: " + json.dumps(bench.report, sort_keys=True))
    metrics = {m["name"]: {"value": bench.report[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


def _print_report(bench: Bench) -> None:
    for k in sorted(bench.report):
        n = bench.counts.get(k)
        print(f"perfbench {bench.workload} {k} = {bench.report[k]:.6g}"
              + (f" (n={n})" if n else ""))
    for note in bench.notes:
        print(f"perfbench {bench.workload} FAILED {note}")


if __name__ == "__main__":
    sys.exit(main())
