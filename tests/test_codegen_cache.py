"""Spark's generated-code cache must hold the working set.

``get_spark`` sizes the cache (``spark.sql.codegen.cache.maxEntries``)
to 1000 classes. At Spark's default of 100, a workload that cycles
through more than 100 distinct classes evicts each one before it comes
round again, and Janino recompiles every class on every pass. The
test runs 60 distinct tiny queries (about two classes each, so more
than 100 classes) twice and counts compiles in ``CodegenMetrics``:
the second pass must compile nothing.

The same holds for a streaming drain through the Python-state
operators: their state encoder is Spark's, and a warm drain must find
every class it needs in the cache.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from flink_1_16_0_src_spark.streaming import sources, stateful, windows

N_QUERIES = 60
FILES, ROWS_PER_FILE = 3, 40


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark) -> None:
    for i in range(N_QUERIES):
        spark.range(8).selectExpr(f"id * {i + 2} AS v").where(f"v > {i}").collect()


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_second_pass_compiles_nothing(spark):
    before = _compiles(spark)
    _run_pass(spark)
    first = _compiles(spark) - before
    # the pass must outgrow Spark's default cache, or the test proves nothing
    assert first > 100, first
    _run_pass(spark)
    assert _compiles(spark) - before - first == 0


def _write_events(root) -> str:
    """``events.parquet/`` with FILES files over increasing one-hour
    spans, one micro-batch each at ``maxFilesPerTrigger=1``."""
    d = root / "events.parquet"
    d.mkdir(parents=True)
    rng = np.random.default_rng(3)
    t0_us, span_us = 1_700_000_000_000_000, 3_600_000_000
    for i in range(FILES):
        path = d / f"part-{i:05d}.parquet"
        pq.write_table(pa.table({
            "event_id": np.arange(i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE, dtype="int64"),
            "ts": pa.array(t0_us + i * span_us + np.sort(rng.choice(span_us, ROWS_PER_FILE)),
                           type=pa.timestamp("us")),
            "user_id": rng.integers(1, 8 * (i + 1), ROWS_PER_FILE).astype("int64"),
            "event_type": np.array(["click", "view", "buy"])[rng.integers(0, 3, ROWS_PER_FILE)],
            "value": rng.random(ROWS_PER_FILE),
        }), str(path))
        # the file source orders files by modification time
        os.utime(path, (1_700_000_000 + i,) * 2)
    return str(root)


def _drain(spark, events_dir, checkpoint_root) -> None:
    """One availableNow drain of the three files through each
    Python-state graph of the stream benchmark, each with its own new
    checkpoint."""
    for name in ("topn", "keep_first"):
        sdf = sources.stream_table(
            spark, events_dir, "events", watermark=("ts", "5 minutes"), max_files_per_trigger=1
        )
        if name == "topn":
            out, mode = windows.window_topn(
                sdf.select("ts", "event_type", "event_id", "value"),
                "ts", "10 minutes", ["event_type"], "value", 2, ["event_id"],
            ), "append"
        else:
            out, mode = stateful.keep_first_dedup(
                sdf.select("user_id", "event_type", "ts", "value"), ["user_id"], order_col="ts"
            ), "update"
        q = (
            out.writeStream.format("noop").outputMode(mode)
            .option("checkpointLocation", os.path.join(checkpoint_root, name))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()


def test_warm_python_state_drain_compiles_nothing(spark, tmp_path):
    """A state schema of typed arrays made Spark build its state encoder
    with ``MapObjects``, whose lambda variables get fresh ids in every
    micro-batch, so the encoder compiled anew in each one. With the
    state stored as one binary field, the second drain compiles 0."""
    events_dir = _write_events(tmp_path / "src")
    _drain(spark, events_dir, str(tmp_path / "warm"))
    before = _compiles(spark)
    _drain(spark, events_dir, str(tmp_path / "again"))
    assert _compiles(spark) - before == 0
