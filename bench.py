"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
TWO JSON lines: the FULL artifact first ({"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "queries_cpu": ...,
"sf": ...}, also persisted to bench_out.json), then the driver-contract
final line LAST: metric/value/unit/n + the per-query WALL map at the
finest precision that fits the driver's ~2000-char tail window + sf
(r13 verdict item 1; length pinned by tests/test_bench_contract.py).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Headline set: the reference pipeline's core queries + the scale-sensitive
# LLM-pipeline operators. Names must exist in the registry.
HEADLINE = [
    "ucl_grouped",
    "ucl_windowed",
    "lookup_build",
    "fraud_score_events",
    "pricing_summary",
    "revenue_by_nation",
    "topk_per_supplier",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ann_cosine_topk",  # exact brute-force baseline for the tiers below
    "ann_lsh_topk",  # hyperplane-LSH approximate tier (oracled)
    "ann_ivf_topk",  # IVF approximate tier (driver-fit quantizer)
    "dedup_clusters",  # pairs -> connected components (iterative template)
    "simhash_docs",
    "asof_join",
    "sessionize",
    "window_suite",
    "left_join_nulls",
    "pack_sequences",  # training-batch layout (per-source window cumsum)
    "contamination_check",  # train/test shingle-overlap semi-join
    "bm25_hybrid_search",  # BM25 candidates + cosine rerank
    "pii_redaction",  # scan-bound regex scrub (map-side)
    "line_dedup",  # duplicated-line fraction (one line-hash exchange)
    "semantic_dedup_prune",  # SemDeDup: sign-bucketed cosine prune
    "heavy_hitters_cms",  # count-min sketch build + broadcast probe
    "grid_neighbor_pairs",  # fixed-radius spatial grid equi-join
    "interval_overlap_pairs",  # month-bucketed interval-interval join
    "point_in_time_join",  # leakage-free PIT feature lookup (union-window)
    "pattern_match_sequences",  # per-user motif counts (regex over event strings)
    "quantile_binning",  # distributed exact ntile (operators/rank two-level)
    "gini_coefficient",  # distributed global rank + prefix identity
    "substring_dup_spans",  # k-gram substring-dup profile (shingle-key shuffle)
    "nearest_spend_match",  # 1-D matching via rank-operator prefix counts
    "decision_stump_split",  # GBDT split search (round 5: two-level rank plan)
    # round-5 additions
    "wasserstein_price_gap",  # EDF-area distance on the rank-operator spine
    "hilbert_locality",  # Hilbert layout key (linear projection chain)
    "kmeans_1d_lloyd",  # exact integer Lloyd rounds (IVF trainer shape)
    "multimodal_png_stats",  # real zlib PNG decode through mapInPandas
    "jl_projection_distortion",  # 64->16 random-projection audit
    "huber_location_2step",  # robust location (2x spine medians + IRLS)
    "energy_distance",  # pairwise-|diff| sums via spine prefix identities
    "naive_bayes_langid",  # trained classifier: counts model + token join
    "crps_ensemble",  # dow pair-join scoring (calendar-bounded quadratic)
    "auc_delong_ci",  # DeLong placements off the rank-plan spine
    "survival_split_stump",  # 9-cut logrank search on the grouped rank plan
    # round-6 additions
    "multimodal_gif_stats",  # real LZW GIF codec through mapInPandas
    "anderson_darling_2s",  # tail-weighted two-sample test on the rank spine
    "hoeffding_d_daily",  # tie-aware dependence over the daily pair join
    "logistic_newton_1d",  # in-engine GLM: 3 Newton rounds over the spine
    "fligner_killeen",  # two rank-operator passes + Acklam normal scores
    "participation_ratio_embeddings",  # map-side Gram effective rank
    # round-7 additions (the heaviest of the r6 ext158-185 tier, so the
    # next round's regressions are attributable -- VERDICT r6 item 7)
    "matrix_profile_motifs",  # single-pass parallel pair scan (r7 rewrite)
    "cochrane_orcutt",  # AR(1)-corrected regression (2 spine passes)
    "henderson_trend",  # 13-term Henderson filter over the daily spine
    # round-7 flagship operators
    "multimodal_jpeg_stats",  # real baseline-JFIF codec, lossy error oracled
    "bpe_merge_training",  # in-engine tokenizer training (5 merge rounds)
    # round-9 flagship operators
    "lof_grid_knn",  # provably-exact grid-cell kNN (the all-pairs scale fix)
    "semivariogram_grid",  # exact near-field cell join + md5-rank far sample
    "quantile_sketch_deciles",  # KMV bottom-K mergeable quantile sketch
    "incremental_ivf_update",  # frozen-quantizer delta assignment + drift
    # round-10 flagship operators
    "semivariogram_moments",  # density-growth twin: per-cell moments only
    "incremental_lsh_update",  # frozen-plane delta signature + TV drift
    "multimodal_rice_stats",  # Golomb-Rice entropy coder (10th real codec)
    # round-11 flagship operators
    "fuzzy_name_match_djoin",  # delete-1 ER twin (the r10 weak, closed)
    "incremental_cc_update",  # forest+delta connected components
    "pcsa_distinct_sketch",  # OR-monoid FM registers, exact-integer 2^(S/64)
    "mmd_poly_drift",  # kernel two-sample as six moment sums
    "multimodal_base64",  # 13th real codec (JVM vs 6-bit repack oracle)
    "cache_replay_lru_belady",  # LRU vs clairvoyant OPT trace replay
    # round-12 flagship operators
    "knn_shapley_valuation",  # exact K-NN data Shapley (suffix-sum window)
    "decontamination_span_filter",  # span-based train/eval decontamination
    "quality_classifier_calibration",  # trained curation gate + reliability
    "varint_delta_codec",  # 14th real codec (LEB128, byte-exact hash)
    "ssa_trend_cycle",  # data-derived Henderson taps (exact-int SSA)
    # round-13 flagship operators
    "ann_ivfpq_topk",  # IVF-PQ ADC: codes-only candidate ranking
    "multimodal_mdct_stats",  # 15th real codec (fixed-point MDCT)
    "curation_pipeline_e2e",  # fused dedup->quality->decon->pack DAG
]


def _tree_cpu_stats() -> dict[int, float]:
    """Per-pid CPU seconds (user+sys+reaped-children) for this process
    and every live descendant -- the JVM child and its Python workers
    included. Read straight from /proc/<pid>/stat so no reaping is
    needed (os.times()/getrusage only see *terminated* children).

    Purpose (r6 verdict item 1): wall time on a contended host inflates
    while CPU time does not, so `queries_cpu` in the bench JSON makes
    host contention diagnosable from the artifact alone: cpu/wall ≈
    constant across rounds but wall up ~2x => contention, not a plan
    regression.

    Caveat (r7 advice): per-pid utime+stime only counts LIVE
    descendants at sample time -- a Python worker that exits between
    the per-query samples would drop its CPU from the delta. To bound
    that undercount each pid's cutime+cstime (CPU of its already-REAPED
    children, which /proc accumulates into the parent) is folded in
    too: a worker that died mid-query is then still visible through its
    parent's counters once reaped. Double counting is impossible while
    a child is alive (cutime only moves at reap time), and the daemon
    workers Spark actually uses are long-lived, so in practice the two
    terms partition cleanly."""
    import glob

    tick = os.sysconf("SC_CLK_TCK")
    # Build the descendant set of this process from /proc PPIDs.
    me = os.getpid()
    children: dict[int, list[int]] = {}
    stats: dict[int, float] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            raw = open(path).read()
        except OSError:
            continue
        # comm can contain spaces/parens: split after the LAST ')'.
        pid = int(raw.split(" ", 1)[0])
        rest = raw.rsplit(")", 1)[1].split()
        ppid = int(rest[1])
        utime, stime = int(rest[11]), int(rest[12])
        cutime, cstime = int(rest[13]), int(rest[14])
        children.setdefault(ppid, []).append(pid)
        stats[pid] = (utime + stime + cutime + cstime) / tick
    out: dict[int, float] = {}
    stack = [me]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
        stack.extend(children.get(pid, []))
    return out


def _cpu_delta(prev: dict[int, float], live: dict[int, float]) -> float:
    """Sum of per-pid CLAMPED CPU deltas between two _tree_cpu_stats
    samples. A worker that dies and reparents to init between samples
    vanishes from the live set entirely (its CPU was never folded into
    any tracked parent's cutime), so a whole-tree scalar subtraction
    goes NEGATIVE by that worker's lifetime CPU (the r9 artifact bug:
    bpe_merge_training -8.68 CPU-s). Per-pid deltas clamp that loss to
    a bounded undercount of exactly the orphaned worker's share -- each
    term is >= 0, so per-query totals (and cpu_total) can't go negative."""
    return sum(max(0.0, cpu - prev.get(pid, 0.0)) for pid, cpu in live.items())


def _tail_sample(all_names: list[str], k: int = 5) -> list[str]:
    """Rotating sample of non-headline registry queries: day-seeded md5
    order, so every run in a day times the same 5 but the window walks
    the whole 450+ query tail across rounds -- a pathological
    non-headline query can't hide behind the hand-picked headline set.
    Streaming replays are excluded (their wall time is trigger-bound,
    not data-bound, and they're separately gated by pytest + oracle)."""
    import datetime
    import hashlib

    pool = sorted(
        n for n in all_names if n not in HEADLINE and not n.startswith("streaming_")
    )
    seed = datetime.date.today().isoformat()
    return sorted(pool, key=lambda n: hashlib.md5((seed + n).encode()).hexdigest())[:k]


def _bounded_summary(
    total: float, n: int, cpu_total: float, load_start: float, sf_val
) -> dict:
    """Parse-safe fallback payload (r11 verdict item 1). Contains
    scalars only -- never the per-query map -- so its serialized length
    is bounded (~150 chars) regardless of headline-set growth. Used by
    _final_line only when even the coarsest per-query precision ladder
    cannot fit the wall map into the driver's tail window."""
    return {
        "metric": "headline_query_wall_clock",
        "value": total,
        "unit": "sec",
        "n": n,
        "cpu_total": cpu_total,
        "loadavg_start": load_start,
        "sf": sf_val,
    }


# The driver keeps only the TAIL (exactly 2000 chars) of stdout and
# json-parses the LAST line: BENCH_r10.parsed carried the per-query map
# (63 queries, the embedded map still fit), BENCH_r11.parsed was null
# (map overflowed the window), and the r11 "bounded final line" fix made
# the line parse again but WITHOUT the map -- so PERF_r12/r13 per_query
# came back empty and two rounds were judged blind per-query (r13
# verdict item 1). The final line must therefore EMBED the wall map and
# stay under the window. 77 full-precision entries serialize to ~2200
# chars, so the map prints at the FINEST precision ladder that fits a
# 1990-char budget (line + newline <= 1991 <= the 2000-char window, with
# slack). At the ladder that fits today's 77-query set, quantization
# error is at most max(0.05 s, 5%) of any value -- far below the
# driver's regression thresholds -- and the full-precision map still
# prints in the artifact line above and persists in bench_out.json.
_FINAL_LINE_BUDGET = 1990


def _collapse(x):
    """2.0 -> 2: json prints integral floats one to three chars shorter."""
    return int(x) if isinstance(x, float) and x == int(x) else x


_PRECISION_LADDERS = [
    # <=5% (or 0.005 s absolute) error everywhere
    lambda v: _collapse(round(v, 2) if v < 1 else (round(v, 1) if v < 10 else round(v))),
    # <=max(0.05 s, 5%) error
    lambda v: _collapse(round(v, 1) if v < 10 else round(v)),
    # last resort before the scalar fallback: whole seconds above 1 s
    lambda v: _collapse(round(v, 1) if v < 1 else round(v)),
]


def _final_line(
    total: float,
    timings: dict[str, float],
    sf_val,
    cpu_total: float,
    load_start: float,
) -> str:
    """Serialize the driver-contract final line: metric/value/unit/n +
    the per-query wall map + the host-drift scalars cpu_total (whole
    CPU-seconds) and loadavg_start (1 dp) + sf, compact separators, at
    the finest precision that fits _FINAL_LINE_BUDGET. Map precision
    outranks the scalars: each ladder is tried with them, then without
    them, before the next coarser ladder, so the scalars never cost the
    map a precision notch. They cost ~40 chars, which today's 77-query
    map at realistic walls does not leave, so they print only for
    shorter maps. Falls back to the scalar summary (always parses) only
    if even whole-second precision cannot fit -- which would take ~25
    more headline queries than exist."""
    scalars = {"cpu_total": round(cpu_total), "loadavg_start": round(load_start, 1)}
    for ladder in _PRECISION_LADDERS:
        for extra in (scalars, {}):
            line = json.dumps(
                {
                    "metric": "headline_query_wall_clock",
                    "value": round(total, 2),
                    "unit": "sec",
                    "n": len(timings),
                    "queries": {k: ladder(v) for k, v in timings.items()},
                    **extra,
                    "sf": sf_val,
                },
                separators=(",", ":"),
            )
            if len(line) <= _FINAL_LINE_BUDGET:
                return line
    return json.dumps(
        _bounded_summary(
            total, len(timings), scalars["cpu_total"], scalars["loadavg_start"], sf_val
        ),
        separators=(",", ":"),
    )


def main() -> None:
    from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import registry
    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_start = os.getloadavg()[0]
    spark = get_spark("bench")

    # JVM/codegen + datasource warmup so the first query's timing is query
    # cost, not session startup. The 5-row region table initializes the
    # parquet read path; no measured table's data is cached.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

    read_table(spark, sf_dir, "region").count()

    # Python-worker-pool warmup (daemon fork + numpy/pandas import in the
    # workers): the first pandas-UDF query (IVF cell assignment) should
    # measure assignment cost, not one-time interpreter startup. Two
    # synthetic rows, no measured data touched.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("double")
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as _np

        return pd.Series(_np.asarray(s, dtype=_np.float64))

    spark.range(2).select(_warm(F.col("id").cast("double"))).collect()

    # Untimed representative warm-up (r7 verdict item 3): one shuffle +
    # one window over the events fact table, so the FIRST headline query
    # (ucl_grouped, historically 2x its own median in single-run
    # artifacts) measures its plan, not residual session warm-up
    # (fact-parquet footer reads, first exchange, first WindowExec
    # codegen). Aggregate output only -- no measured result is cached.
    read_table(spark, sf_dir, "events").groupBy("user_id").count().selectExpr(
        "user_id", "row_number() OVER (ORDER BY count DESC, user_id) AS rn"
    ).where("rn <= 3").count()

    by_name = {q.name: q for q in registry()}
    timings: dict[str, float] = {}
    cpu_timings: dict[str, float] = {}
    for name in HEADLINE:
        q = by_name[name]
        t0 = time.time()
        c0 = _tree_cpu_stats()
        # Full execution without driver collect: count() forces every
        # operator; results stay distributed.
        q.fn(spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        cpu_timings[name] = round(_cpu_delta(c0, _tree_cpu_stats()), 3)

    total = round(sum(timings.values()), 3)

    # untimed-gate tail sample: timed and reported, but NOT in `value`
    # (the headline metric stays comparable round-over-round)
    tail: dict[str, float] = {}
    for name in _tail_sample(list(by_name)):
        t0 = time.time()
        by_name[name].fn(spark, sf_dir).count()
        tail[name] = round(time.time() - t0, 3)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "headline_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cpu": cpu_timings,
        "cpu_total": round(sum(cpu_timings.values()), 3),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        "tail_sample": tail,
        "sf": sf_val,
    }
    # Truncation-proofing (r8 item 3, ordering r9 item 2, bounded r11
    # item 1, wall map restored r13 item 1): the driver keeps only the
    # TAIL (~2000 chars) of stdout and json-parses the LAST line, so the
    # final line both embeds the per-query WALL map (else PERF per_query
    # is empty and the round is judged blind, as r12/r13 were) and fits
    # the window via the _final_line precision ladder
    # (tests/test_bench_contract.py pins the length against worst-case
    # magnitudes). Full-precision detail stays in the artifact line
    # above and in bench_out.json next to this script.
    with open(Path(__file__).resolve().parent / "bench_out.json", "w") as fh:
        json.dump(full, fh)
        fh.write("\n")
    print(json.dumps(full))
    print(_final_line(total, timings, sf_val, full["cpu_total"], load_start))


if __name__ == "__main__":
    main()
