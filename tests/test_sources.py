"""Source/sink tests (SURVEY.md 2.1): CSV scans with header + malformed
rows, the zip-geo reader, incremental watermark pushdown, and writer
round-trips."""

from __future__ import annotations

from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.schemas import CARD_TRANSACTIONS
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import (
    incremental_filter,
    read_csv_table,
    read_table,
    read_zip_geo,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.writers import (
    append_parquet,
    overwrite_keyed_table,
    overwrite_parquet,
)


def test_csv_scan_with_header(spark, tmp_path):
    p = tmp_path / "txns.csv"
    p.write_text(
        "card_id,member_id,amount,postcode,pos_id,transaction_dt,status\n"
        "1,1,10.5,100,1,2024-01-01 10:00:00,GENUINE\n"
        "2,1,20.0,200,2,2024-01-02 11:00:00,FRAUDULENT\n"
    )
    df = read_csv_table(spark, str(p), CARD_TRANSACTIONS)
    rows = {r.card_id: r for r in df.collect()}
    assert len(rows) == 2
    assert rows[1].amount == 10.5
    assert rows[2].status == "FRAUDULENT"
    assert df.schema["card_id"].dataType.simpleString() == "bigint"


def test_zip_geo_drops_malformed_rows(spark, tmp_path):
    # FraudDistMetric.java:43 silently skips rows with != 6 fields.
    p = tmp_path / "geo.csv"
    p.write_text(
        "100,40.71,-74.00,NYC,NY,111111111111111\n"
        "bad,row\n"
        "200,34.05,-118.24,LA,CA,222222222222222\n"
        "201,34.05\n"
    )
    df = read_zip_geo(spark, str(p))
    got = {r.zip: (r.lat, r.city) for r in df.collect()}
    assert set(got) == {"100", "200"}
    assert got["100"] == (40.71, "NYC")


def test_incremental_filter_pushes_down(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    inc = incremental_filter(ev.select("event_id", "user_id", "value"), "event_id", 500)
    assert inc.count() == ev.filter(F.col("event_id") > 500).count()
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(event_id,500)" in plan  # reached the parquet scan


def test_jdbc_full_and_incremental_import(spark):
    # S1/S2 against embedded Derby (on Spark's classpath for the
    # metastore): full read, partitioned read, and the Sqoop-style
    # incremental predicate pushed into the JDBC query.
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import (
        read_jdbc_incremental,
        read_jdbc_table,
    )

    url = "jdbc:derby:memory:srcdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(100).selectExpr("id AS member_id", "id % 7 AS score")
    src.write.format("jdbc").option("url", url).option("dbtable", "member_score").option(
        "driver", driver
    ).mode("overwrite").save()

    full = read_jdbc_table(spark, url, "member_score", driver=driver)
    assert full.count() == 100

    partitioned = read_jdbc_table(
        spark, url, "member_score",
        partition_column="member_id", lower_bound=0, upper_bound=100,
        num_partitions=4, driver=driver,
    )
    assert partitioned.rdd.getNumPartitions() == 4
    assert partitioned.count() == 100

    inc = read_jdbc_incremental(
        spark, url, "member_score", check_column="member_id", last_value=89, driver=driver
    )
    assert inc.count() == 10
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(MEMBER_ID,89)" in plan.replace(
        "member_id", "MEMBER_ID"
    )


def test_high_watermark_loader_cycles(spark, tmp_path):
    # Sqoop-saved-job equivalent: first run takes everything, commit
    # advances the watermark, next run sees only newer rows.
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import HighWatermarkLoader

    state = str(tmp_path / "wm.json")
    loader = HighWatermarkLoader(state, "joined")
    df1 = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], "id long, joined string")
    inc1 = loader.increment(df1)
    assert inc1.count() == 2
    loader.commit(inc1)
    assert loader.last_value() == "2024-01-02"

    df2 = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-03")], "id long, joined string"
    )
    inc2 = loader.increment(df2)
    assert [r.id for r in inc2.collect()] == [3]
    loader.commit(inc2)
    assert loader.last_value() == "2024-01-03"
    # empty increment leaves the watermark untouched
    loader.commit(loader.increment(df2))
    assert loader.last_value() == "2024-01-03"


def test_overwrite_append_roundtrip(spark, tmp_path):
    out = str(tmp_path / "t")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    overwrite_parquet(df1, out)
    assert spark.read.parquet(out).count() == 5
    overwrite_parquet(df1, out)  # INSERT OVERWRITE: full replace, not append
    assert spark.read.parquet(out).count() == 5
    append_parquet(df1, out)
    assert spark.read.parquet(out).count() == 10


def test_partitioned_write_prunes(spark, tmp_path):
    out = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "k long, dt string"
    )
    overwrite_parquet(df, out, partition_by=["dt"])
    scan = spark.read.parquet(out).filter(F.col("dt") == "2024-01-01")
    assert scan.count() == 1
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # partition filter, not a data filter: dt never reaches the row scan
    assert "PartitionFilters" in plan


def test_keyed_table_overwrite(spark, tmp_path):
    out = str(tmp_path / "keyed")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "card_id long, ucl double")
    overwrite_keyed_table(df, out, key="card_id")
    got = {r.card_id: r.ucl for r in spark.read.parquet(out).collect()}
    assert got == {1: 10.0, 2: 20.0}


def test_sql_catalog_views(spark, sf_dir):
    """open_catalog makes the engine drivable from plain SQL with the
    same normalized encodings as the DataFrame API."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sql import open_catalog, sql

    names = open_catalog(spark, sf_dir)
    assert len(names) == 10
    top = sql(
        spark, sf_dir,
        """
        SELECT n_name, count(*) AS n FROM customer
        JOIN nation ON n_nationkey = c_nationkey
        GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3
        """,
    ).collect()
    assert len(top) == 3 and top[0]["n"] >= top[-1]["n"]
    # nanos-encoded events.ts arrives as a usable timestamp in SQL too
    row = sql(spark, sf_dir, "SELECT min(ts) AS t, max(ts) AS t2 FROM events").first()
    assert row["t"].year >= 2024 and row["t2"] >= row["t"]


def test_sql_registers_only_named_tables(spark, sf_dir):
    """sql() opens only the tables its text names: each read_table costs
    a parquet footer read, so registering all ten would dominate short
    queries."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sql import TABLES, sql

    for t in TABLES:
        spark.catalog.dropTempView(t)
    n = sql(spark, sf_dir, "SELECT count(*) FROM orders").first()[0]
    assert n > 0
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert "orders" in views
    assert "lineitem" not in views


def test_write_jdbc_roundtrip(spark, tmp_path):
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_jdbc_table
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.writers import write_jdbc

    url = "jdbc:derby:memory:expdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    write_jdbc(df, url, "export_tbl", driver=driver, mode="overwrite")
    back = read_jdbc_table(spark, url, "export_tbl", driver=driver)
    assert back.count() == 100
    assert back.agg({"v": "sum"}).first()[0] == sum(2 * i for i in range(100))


def test_compact_table_reduces_files(spark, tmp_path):
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.writers import compact_table

    path = str(tmp_path / "frag")
    # fragment: 40 tiny files
    spark.range(4000).withColumnRenamed("id", "k").repartition(40).write.parquet(path)
    n_before = len([p for p in (tmp_path / "frag").iterdir() if p.name.endswith(".parquet")])
    assert n_before >= 40
    n_files = compact_table(spark, path, target_file_mb=128)
    assert n_files == 1
    n_after = len([p for p in (tmp_path / "frag").iterdir() if p.name.endswith(".parquet")])
    assert n_after == 1
    assert spark.read.parquet(path).count() == 4000


def test_schema_evolution_merge_and_union(spark, tmp_path):
    """Schema evolution the way 100 TB tables actually evolve: newer
    partitions carry added columns. mergeSchema reads old+new together
    (missing column -> NULL), and unionByName(allowMissingColumns)
    aligns frames across versions."""
    old = str(tmp_path / "t" / "v=1")
    new = str(tmp_path / "t" / "v=2")
    spark.range(5).selectExpr("id AS k", "id * 2 AS v").write.parquet(old)
    spark.range(5, 8).selectExpr(
        "id AS k", "id * 2 AS v", "'src' AS origin"
    ).write.parquet(new)

    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    assert set(merged.columns) == {"k", "v", "origin"}
    assert merged.count() == 8
    assert merged.filter("origin IS NULL").count() == 5  # old rows

    a = spark.read.parquet(old)
    b = spark.read.parquet(new)
    u = a.unionByName(b, allowMissingColumns=True)
    assert u.count() == 8 and set(u.columns) == {"k", "v", "origin"}


def test_audited_overwrite_blocks_bad_batches(spark, tmp_path):
    """Write-Audit-Publish: a failing audit must leave the live table
    untouched (and keep staging for inspection); a passing audit swaps."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.writers import audited_overwrite

    path = str(tmp_path / "t")
    spark.range(10).withColumnRenamed("id", "k").write.parquet(path)

    checks = [
        ("nonempty", lambda d: d.count() > 0),
        ("enough_rows", lambda d: d.count() >= 5),
        ("no_null_keys", lambda d: d.filter("k IS NULL").count() == 0),
    ]
    # bad batch: too few rows
    import pytest as _pytest

    with _pytest.raises(ValueError, match="enough_rows"):
        audited_overwrite(spark.range(2).withColumnRenamed("id", "k"), path, checks)
    assert spark.read.parquet(path).count() == 10  # live table intact
    assert (tmp_path / "t__stage_wap").exists()  # staging kept for debugging

    # good batch publishes (and sweeps the failed staging)
    res = audited_overwrite(spark.range(7).withColumnRenamed("id", "k"), path, checks)
    assert res == {"nonempty": True, "enough_rows": True, "no_null_keys": True}
    assert spark.read.parquet(path).count() == 7
    assert not (tmp_path / "t__stage_wap").exists()


def test_cbo_table_statistics(spark, sf_dir, tmp_path):
    """ANALYZE TABLE feeds the cost-based optimizer: after COMPUTE
    STATISTICS the catalog carries rowCount/sizeInBytes, which is what
    lets Catalyst pick broadcast sides and reorder joins from DATA
    facts instead of file-size guesses -- table-stats hygiene is a
    100 TB operational requirement, so it's pinned here."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

    name = "cbo_orders_stats"
    read_table(spark, sf_dir, "orders").limit(500).write.mode("overwrite").saveAsTable(name)
    try:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        stats = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").filter(
            "col_name = 'Statistics'"
        ).collect()
        assert stats, "no Statistics row after ANALYZE"
        text = stats[0]["data_type"]
        assert "500 rows" in text, text
        # the optimizer actually sees the stats (not just the catalog):
        # rowCount propagates into plan stats only under CBO
        spark.conf.set("spark.sql.cbo.enabled", "true")
        rel_stats = (
            spark.table(name)._jdf.queryExecution().optimizedPlan().stats()
        )
        assert rel_stats.rowCount().isDefined(), "CBO sees no rowCount"
        assert rel_stats.rowCount().get() == 500
    finally:
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
