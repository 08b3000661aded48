"""Streaming sources + run helpers.

Reference parity:
- FLIP-27 file source (`flink-connectors/flink-connector-files/.../table/
  FileSystemTableSource.java`) → ``spark.readStream.schema(...).parquet``.
- datagen source (`flink-table/flink-table-api-java-bridge/.../connector/
  datagen/table/DataGenTableSource.java`) → ``format("rate")``.
- WATERMARK FOR ts AS ts - INTERVAL 'd' (`flink-table/flink-sql-parser/
  .../ddl/SqlWatermark.java`) → ``withWatermark(ts, d)``. Expression
  watermarks beyond bounded-out-of-orderness must be materialized as a
  column first (SURVEY.md §2.9).

Scale: the file source lists + splits files exactly like batch parquet
scans — partition pruning and maxFilesPerTrigger bound per-batch work,
so a 100 TB backlog is consumed in bounded micro-batches instead of one
giant batch.
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# -- scale-adaptive stream shuffle sizing (optimization guide §2.2) ---------
# Stateful streaming stages CANNOT be AQE-coalesced (AQE is disabled for
# stateful streaming queries), so the state-store partition count is pinned
# at whatever spark.sql.shuffle.partitions says when the query starts — and
# every partition pays a fixed per-batch cost (task schedule, state store
# open/commit, for Python-stateful ops a worker round-trip) regardless of
# how little data it holds. Measured at sf0.1 (the tumble drain, warm
# session, local[32] on 4 vCPUs, checkpoints committed through the
# FileSystem manager that session.get_spark sets): 32 partitions → 4 =
# 2.5 s → 1.1 s wall, stateStoreSave commitTimeMs sum 1.2 s → 0.1 s across
# partitions. Commit is no longer what the rule saves (it was 27 s summed
# at 32 partitions under the FileContext manager, whose renames spawn
# readlink); the other per-partition costs still make 32 partitions 2.2×
# slower than 4.
# The fix is the guide's partition-sizing rule: derive the stream's
# shuffle partition count from the SOURCE bytes (target bytes/partition,
# SPARK_GRAFT_STREAM_PARTITION_BYTES, default 32 MB), never RAISING above
# the session's configured value — at 100 TB ceil(bytes/32MB) dwarfs any
# configured count, so the cap keeps the production setting and this
# derivation only ever trims provably-small streams.
_pending_source_bytes: list[int] = []

_STREAM_PARTITION_BYTES = int(
    os.environ.get("SPARK_GRAFT_STREAM_PARTITION_BYTES", str(32 * 1024 * 1024))
)


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path, followlinks=True):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def note_source_bytes(path: str) -> None:
    """Record a streaming source's on-disk size for the next drain's
    partition derivation (stream_table / TableEnvironment.stream call
    this; the accumulator drains at the next run_to_memory/start)."""
    _pending_source_bytes.append(_path_bytes(path))


def derived_stream_partitions(
    spark: SparkSession, sdf: DataFrame | None = None
) -> int | None:
    """Consume the accumulated source bytes and size the stream's
    shuffle/state partitions: ceil(bytes / target) clamped to
    [min(4, configured), configured]. None (leave the session conf
    untouched) when no source size is known — or when the plan holds a
    PYTHON-stateful operator (applyInPandasWithState /
    transformWithStateInPandas): their cost is per-GROUP Python work,
    which wants core-level parallelism however small the input bytes
    are (measured at sf0.1: the window-topn drain 5.7 s at 32
    partitions → 16.9 s at 4 — the inverse of the state-store-commit
    economics the byte rule targets)."""
    if not _pending_source_bytes:
        return None
    total = sum(_pending_source_bytes)
    _pending_source_bytes.clear()
    if sdf is not None:
        try:
            plan = sdf._jdf.queryExecution().analyzed().toString()
        except Exception:  # noqa: BLE001 — plan introspection is best-effort
            plan = ""
        if (
            "FlatMapGroupsInPandasWithState" in plan
            or "TransformWithStateInPandas" in plan
        ):
            return None
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(4, math.ceil(total / max(1, _STREAM_PARTITION_BYTES)))
    return min(cur, n)


class _scoped_shuffle_partitions:
    """Temporarily pin spark.sql.shuffle.partitions for a streaming
    query's lifetime (the value is captured into the query's state
    metadata at start; restore after the drain so batch queries keep
    the session setting)."""

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        if self.n is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    watermark: tuple[str, str] | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open a fixture table as a file-stream source (schema taken from a
    batch read of the same path — file streams require explicit schema)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # the file-stream source monitors a DIRECTORY; expose the
        # single-file fixture through a symlink dir (no data copy)
        link_dir = os.path.join(
            tempfile.gettempdir(), "spark_graft_streams", f"{abs(hash(sf_dir))}_{name}"
        )
        os.makedirs(link_dir, exist_ok=True)
        link = os.path.join(link_dir, f"{name}.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = link_dir
    note_source_bytes(path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if name == "events":
        dtype = dict(df.dtypes).get("ts")
        if dtype == "bigint":
            # TIMESTAMP(NANOS) fixture read as long (nanosAsLong) — integer-div to µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            # newer Spark reads parquet NANOS as NTZ — withWatermark needs TIMESTAMP
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if watermark:
        df = df.withWatermark(*watermark)
    return df


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """datagen-source parity: monotonically increasing (timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain the stream with an availableNow trigger into a memory sink
    and return the materialized result as a batch DataFrame. This is the
    operator-harness analog of the reference's
    OneInputStreamOperatorTestHarness (SURVEY.md §5.1) — process all
    currently-available input, then inspect emitted rows."""
    spark = sdf.sparkSession
    with _scoped_shuffle_partitions(spark, derived_stream_partitions(spark, sdf)):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def write_stream(
    sdf: DataFrame, sink: str, path: str | None = None, output_mode: str = "append", **options
):
    """Sink parity: print → console, blackhole → noop, filesystem → file
    formats (`StreamExecSink.java`; print/blackhole sinks under
    flink-table-api-java-bridge)."""
    fmt = {"print": "console", "blackhole": "noop", "filesystem": "parquet"}.get(sink, sink)
    writer = sdf.writeStream.format(fmt).outputMode(output_mode).options(**options)
    if path:
        writer = writer.option("path", path)
    return writer


def with_proctime(df: DataFrame, col: str = "proctime") -> DataFrame:
    """PROCTIME() attribute (flink-table-api ProcTimedAttribute /
    SqlProcTimeFunction): a processing-time column stamped at
    evaluation. Inherently non-deterministic — results depending on it
    are wall-clock-dependent in BOTH engines, so it carries no oracle;
    use event time for reproducible pipelines (the same guidance the
    reference docs give)."""
    return df.withColumn(col, F.current_timestamp())
