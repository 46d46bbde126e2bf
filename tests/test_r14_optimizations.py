"""Focused tests for the round-14 operator-internal optimizations:
the size-aware spread fan-out cap, the fused IVF-PQ indexing pass, and
the lof grid dense-tier short-circuit. Each asserts the optimization
preserved exact outputs (or the documented partitioning contract), so
a future edit can't silently regress the invariants the r14 A/Bs
relied on."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.sources import readers
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import (
    read_table,
    spread,
)


def test_spread_caps_fanout_by_input_bytes(spark, sf_dir):
    # documents.parquet at sf0.001 is a few KB: the cap must clamp the
    # fan-out to ceil(bytes / floor) partitions, not defaultParallelism.
    import os
    from urllib.parse import urlparse

    df = read_table(spark, sf_dir, "documents")
    files = df.inputFiles()
    nbytes = sum(os.path.getsize(urlparse(f).path) for f in files)
    expect = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-nbytes // readers._SPREAD_MIN_BYTES_PER_TASK)),
    )
    got = spread(df).rdd.getNumPartitions()
    assert got == expect, (got, expect, nbytes)
    # row content is partition-invariant
    assert spread(df).count() == df.count()


def test_spread_noop_when_scan_already_parallel(spark, sf_dir):
    # a frame whose inputFiles() already meet the target must be
    # returned UNTOUCHED (identity, no exchange).
    df = read_table(spark, sf_dir, "documents")
    out = spread(df)  # 1 tiny file: the byte cap asks for 1 partition
    assert out is df


def test_spread_cap_never_narrows_a_multi_file_scan(spark, tmp_path):
    # Two tiny files under defaultParallelism >= 4: the byte cap asks for
    # one partition, which would coalesce a scan that already has two.
    # The cap must stop at the file count.
    assert spark.sparkContext.defaultParallelism >= 4
    path = str(tmp_path / "two_files")
    spark.range(20).repartition(2).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 2
    assert spread(df).rdd.getNumPartitions() >= 2


def test_fused_ivfpq_index_matches_standalone_operators(spark, sf_dir):
    # the fused struct-returning Arrow pass inside ivfpq_adc_topk must
    # produce the SAME (cell, codes) as ivf_assign_cells + pq_encode --
    # all three now share _assign_np/_encode_np, and this pins that.
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import (
        fit_ivf_quantizer,
        fit_pq_codebooks,
        ivf_assign_cells,
        ivf_train_matrix,
        pq_encode,
    )

    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    X = ivf_train_matrix(base, "vec_id", "v", 4, 64)
    C = fit_ivf_quantizer(X, 4, 42, 5)
    CB = fit_pq_codebooks(X, m=8, ks=8, seed=42, max_iter=5)

    standalone = (
        pq_encode(ivf_assign_cells(base, C.tolist(), "v"), CB, "v")
        .select("vec_id", "_cell", "_codes")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )

    from pyspark.sql.functions import pandas_udf

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import (
        _assign_np,
        _encode_np,
    )

    C_np = np.asarray(C, dtype=np.float64)

    @pandas_udf("_cell int, _codes array<int>")
    def _index(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"_cell": [], "_codes": []})
        Xb = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {"_cell": _assign_np(Xb, C_np), "_codes": _encode_np(Xb, CB).tolist()}
        )

    fused = (
        base.withColumn("_ix", _index.asNondeterministic()(F.col("v")))
        .select("vec_id", F.col("_ix._cell").alias("_cell"), F.col("_ix._codes").alias("_codes"))
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert list(standalone["_cell"]) == list(fused["_cell"])
    assert [list(c) for c in standalone["_codes"]] == [
        list(c) for c in fused["_codes"]
    ]


def test_grid_knn_dense_shortcircuit_matches_guarded_path(spark):
    # both branches of the r14 short-circuit must produce the identical
    # kNN set: run grid_exact_knn on a no-pileup fixture twice, once
    # with the shipped cap (dense set empty -> short-circuit) and once
    # with cap -1 (every cell "dense" -> guarded Arrow path).
    import fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext212 as ext212

    pts = spark.createDataFrame(
        [(i, float(i % 7) * 0.011, float(i % 5) * 0.013) for i in range(60)],
        "vec_id long, px double, py double",
    )
    knn_fast = (
        ext212.grid_exact_knn(pts, 3, 0.05, 50_000_000)
        .orderBy("i", "rn")
        .collect()
    )
    orig = ext212._DENSE_CAP
    try:
        ext212._DENSE_CAP = 0  # force every occupied cell dense
        knn_guarded = (
            ext212.grid_exact_knn(pts, 3, 0.05, 50_000_000)
            .orderBy("i", "rn")
            .collect()
        )
    finally:
        ext212._DENSE_CAP = orig
    assert [tuple(r) for r in knn_fast] == [tuple(r) for r in knn_guarded]


def test_connected_components_empty_and_selfloop_edges(spark):
    # r14 empty-label construction: zero non-self-loop edges must yield
    # self-clusters, not a schema error.
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame([(7, 7), (9, 9)], "doc_a long, doc_b long")
    out = sorted(
        (r["node"], r["cluster"]) for r in connected_components(df).collect()
    )
    assert out == [(7, 7), (9, 9)]
