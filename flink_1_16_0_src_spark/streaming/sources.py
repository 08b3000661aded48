"""Streaming fixture sources, stream partition sizing and the drain helper.

Reference parity:
- FLIP-27 file source (`flink-connectors/flink-connector-files/.../table/
  FileSystemTableSource.java`) → ``sources.read_table(..., streaming=True)``,
  the batch reader opened with ``spark.readStream``: the same schema and
  format options, so a table gives the same rows in both modes.
  ``stream_table`` opens a fixture table through it.
- WATERMARK FOR ts AS ts - INTERVAL 'd' (`flink-table/flink-sql-parser/
  .../ddl/SqlWatermark.java`) → ``withWatermark(ts, d)``. Expression
  watermarks beyond bounded-out-of-orderness must be materialized as a
  column first (SURVEY.md §2.9).

Opening a stream has no side effects. Partition sizing happens when a
query starts: ``sized_partitions`` reads the file paths of the plan being
started and pins ``spark.sql.shuffle.partitions`` for that start only.

Scale: the file source lists + splits files exactly like batch parquet
scans — partition pruning and maxFilesPerTrigger bound per-batch work,
so a 100 TB backlog is consumed in bounded micro-batches instead of one
giant batch.
"""

from __future__ import annotations

import contextlib
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# -- stream shuffle sizing (optimization guide §2.2) -------------------------
# Stateful streaming stages CANNOT be AQE-coalesced (AQE is disabled for
# stateful streaming queries), so the state-store partition count is pinned
# at whatever spark.sql.shuffle.partitions says when the query starts — and
# every partition pays a fixed per-batch cost (task schedule, state store
# open/commit) regardless of how little data it holds. Measured at sf0.1
# (the tumble drain, warm session, local[32] on 4 vCPUs, checkpoints
# committed through the FileSystem manager that session.get_spark sets):
# 32 partitions → 4 = 2.5 s → 1.1 s wall.
# So a stream gets ceil(source bytes / 32 MB) partitions, never fewer than
# min(4, configured) and never more than the configured count: at 100 TB
# ceil(bytes/32MB) dwarfs any configured count, so the cap keeps the
# production setting and the rule only ever trims provably-small streams.
# Python-state operators pay that cost too: at sf0.1 (same setup,
# median of 10 alternating pairs) the window Top-N drain took
# 12.5 s at 32 partitions and 10.6 s at 4, and a SESSION statement set
# 3.3 s and 1.9 s.
_STREAM_PARTITION_BYTES = 32 * 1024 * 1024


def _path_bytes(path: str) -> int:
    path = path.removeprefix("file:")
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


@contextlib.contextmanager
def sized_partitions(sdf: DataFrame):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query over
    ``sdf`` starts: ceil(bytes / 32 MB) of the distinct file paths its
    plan reads, within [min(4, configured), configured]. The query keeps
    the count it started with in its checkpoint; batch queries keep the
    session's count once the block exits. The conf is left alone when
    the plan reads no file path."""
    paths: set[str] = set()
    todo = [sdf._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "StreamingRelation":
            path = node.dataSource().options().get("path")
            if path.isDefined():
                paths.add(path.get())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    if not paths:
        yield
        return
    conf = sdf.sparkSession.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    total = sum(_path_bytes(p) for p in paths)
    n = min(int(prev), max(4, math.ceil(total / _STREAM_PARTITION_BYTES)))
    conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    watermark: tuple[str, str] | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open fixture table ``<sf_dir>/<name>.parquet`` as a file stream."""
    from flink_1_16_0_src_spark.sources import read_table

    df = read_table(
        spark, os.path.join(sf_dir, f"{name}.parquet"), "parquet",
        streaming=True,
        reader_options=(
            {"maxFilesPerTrigger": max_files_per_trigger}
            if max_files_per_trigger else None
        ),
    )
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


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain the stream with an availableNow trigger into a memory sink
    and return the materialized result as a batch DataFrame. This is the
    operator-harness analog of the reference's
    OneInputStreamOperatorTestHarness (SURVEY.md §5.1) — process all
    currently-available input, then inspect emitted rows."""
    with sized_partitions(sdf):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


def with_proctime(df: DataFrame, col: str = "proctime") -> DataFrame:
    """PROCTIME() attribute (flink-table-api ProcTimedAttribute /
    SqlProcTimeFunction): a processing-time column stamped at
    evaluation. Inherently non-deterministic — results depending on it
    are wall-clock-dependent in BOTH engines, so it carries no oracle;
    use event time for reproducible pipelines (the same guidance the
    reference docs give)."""
    return df.withColumn(col, F.current_timestamp())
