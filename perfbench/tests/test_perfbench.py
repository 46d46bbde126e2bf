"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import tracing as tr  # noqa: E402


def _session(tmp_path, **conf):
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    b = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.warehouse.dir", str(tmp_path / "wh")))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def test_listener_sees_every_batch_and_phases_fit_in_trigger(tmp_path):
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.scorer import (
        read_payload_file_stream,
    )

    spark = _session(tmp_path)
    rec = tr.ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        src = tmp_path / "in"
        src.mkdir()
        for i in range(3):
            f = src / f"b{i}.json"
            f.write_text(f'{{"card_id": {i}, "amount": 1.0, "transaction_dt": "2025-01-01 00:00:0{i}"}}\n')
            os.utime(f, (1_700_000_000 + i,) * 2)
        q = (read_payload_file_stream(spark, str(src)).writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "ckpt")).start())
        q.processAllAvailable()
        run_id = str(q.runId)
        q.stop()
        deadline = time.time() + 10
        while len(rec.for_run(run_id)) < 3 and time.time() < deadline:
            time.sleep(0.05)
        progress = rec.for_run(run_id)
    finally:
        spark.streams.removeListener(rec)
        spark.stop()

    assert [p["batchId"] for p in progress] == [0, 1, 2]
    for p in progress:
        d = p["durationMs"]
        assert sum(v for k, v in d.items() if k != "triggerExecution") <= d["triggerExecution"]


def test_event_log_fold_over_two_job_query(tmp_path):
    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = _session(tmp_path, **{"spark.eventLog.enabled": "true",
                                  "spark.eventLog.compress": "false",
                                  "spark.eventLog.dir": f"file://{log_dir}"})
    try:
        spark.sparkContext.setJobGroup("toy", "toy")
        df = spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count()
        df.collect()                  # job 1 (and its shuffle map stage)
        spark.range(100).collect()    # job 2
    finally:
        spark.stop()
    jobs = [j for j in tr.fold_jobs(tr.read_event_log(str(log_dir))) if j["group"] == "toy"]

    assert len(jobs) >= 2
    assert all(j["end_ms"] >= j["submit_ms"] for j in jobs)
    totals = tr.engine_totals(jobs)
    assert totals["tasks"] > 0 and totals["executor_run_s"] >= 0
    assert totals["shuffle_write_mb"] > 0  # the groupBy shuffles
    assert tr.covered_ms(jobs, jobs[0]["submit_ms"], jobs[-1]["end_ms"]) > 0


def test_covered_ms_merges_overlapping_jobs():
    jobs = [{"submit_ms": 0, "end_ms": 10}, {"submit_ms": 5, "end_ms": 20},
            {"submit_ms": 30, "end_ms": 40}]
    assert tr.covered_ms(jobs, 0, 100) == 30
    assert tr.covered_ms(jobs, 15, 35) == 10


@pytest.mark.parametrize("workload", ["lambda_wide", "query_mix"])
def test_same_seed_writes_byte_identical_files(tmp_path, workload):
    a, b, c = (tmp_path / n for n in "abc")
    gen.generate(str(a), workload, 7)
    gen.generate(str(b), workload, 7)
    gen.generate(str(c), workload, 8)

    def files(d):
        return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)

    assert files(a) == files(b) == files(c)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(a, c, files(a), shallow=False)
    assert mismatch


def _toy_case():
    lookup = pd.DataFrame({"card_id": [1, 2], "ucl": [100.0, 100.0], "postcode": [10000, 10000],
                           "transaction_dt": ["2025-01-01 00:00:00"] * 2, "score": [500, 150]})
    geo = {"10000": (40.0, -74.0), "10001": (34.0, -118.0)}
    batch = pd.DataFrame({
        "card_id": [1, 1, 2], "member_id": [1, 1, 1], "amount": [10.0, 20.0, 10.0],
        "pos_id": [1, 2, 3], "postcode": [10000, 10001, 10000],
        "transaction_dt": ["02-01-2025 00:00:00", "2025-01-02 00:01:00", "2025-01-02 00:00:00"],
    })
    return [batch], lookup, geo


def test_spec_fold_scores_each_rule():
    batches, lookup, geo = _toy_case()
    spec, batch_of, state, _ = checks.spec_statuses(batches, lookup, geo)
    by_card = {(k[0], k[2]): s for k, s in spec.items()}
    assert by_card[(1, 1)] == "GENUINE"   # a day later, same zip
    assert by_card[(1, 2)] == "FRAUD"     # 3,900 km in one minute
    assert by_card[(2, 3)] == "FRAUD"     # score 150 < 200
    assert state[1] == (10000, "02-01-2025 00:00:00")  # FRAUD does not advance state
    assert set(batch_of.values()) == {0}


def test_checker_flags_one_flipped_status():
    batches, lookup, geo = _toy_case()
    spec, batch_of, _, _ = checks.spec_statuses(batches, lookup, geo)
    actual = pd.DataFrame([(c, t, p, s) for (c, t, p), s in spec.items()],
                          columns=["card_id", "transaction_dt", "pos_id", "status"])
    assert checks.status_mismatches(actual, spec, batch_of) == (0, 0)

    # an event written twice, both times with the right status
    twice = pd.concat([actual, actual.iloc[[1]]])
    assert checks.status_mismatches(twice, spec, batch_of) == (1, 1)

    actual.loc[0, "status"] = "FRAUD" if actual.loc[0, "status"] == "GENUINE" else "GENUINE"
    assert checks.status_mismatches(actual, spec, batch_of) == (1, 1)
    assert checks.status_mismatches(actual.iloc[1:], spec, batch_of) == (1, 1)  # a lost event


def test_stop_process_tree_leaves_no_jvm_or_worker(tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    import run

    spark = _session(tmp_path)

    @pandas_udf("double")
    def _ident(s: pd.Series) -> pd.Series:
        return s

    spark.range(4).select(_ident(F.col("id").cast("double"))).collect()  # starts Python workers
    jvm = spark.sparkContext._gateway.proc
    started = run._descendants(run._proc_table())
    assert len(started) >= 2  # the JVM and its Python worker daemon
    spark.stop()
    run.stop_process_tree()

    assert jvm.poll() is not None
    table = run._proc_table()
    assert run._descendants(table) == {}
    assert not [p for p, t in started.items()
                if p in table and table[p][2] == t and table[p][1] != "Z"]
