"""SQL entry point: register the driver testdata tables as temp views so
the whole engine is drivable from plain `spark.sql(...)` -- the surface
a Hive-runbook user (the reference's primary interface, FDProcBatch.txt)
lands on first.

`sql()` is also the implementation of every query registered with
`queries.register_sql`: those queries run their oracle text here,
verbatim, so Spark and the DuckDB oracle execute the same statement.

Views go through `read_table`, so encoding normalization (nanos
timestamps) and schema explicitness hold for SQL users too; Catalyst
sees the same logical plans as the DataFrame API, so pushdown/pruning/
join strategies are identical.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def open_catalog(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> list[str]:
    """Register every testdata table as `<prefix><name>` temp views.
    Returns the view names. Temp views are metadata only -- no data is
    read until a query runs, and every registered view supports full
    pushdown into its parquet scan."""
    names = []
    for t in TABLES:
        name = f"{prefix}{t}"
        read_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot: register the tables `query` names as temp views and run
    it. Only named tables are opened -- each `read_table` costs a parquet
    footer read (~0.1 s), so opening all ten would dominate short
    queries. The match is by whole word, so a column or alias that
    shares a table's name only registers one view too many."""
    for t in TABLES:
        if re.search(rf"\b{t}\b", query, re.IGNORECASE):
            read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(query)
