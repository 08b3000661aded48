"""Crash-and-resume tests for the three state families of the
``stream_backlog`` benchmark: JVM window aggregation
(``windows.tumble_agg``), ``RowState`` Top-N (``windows.window_topn``)
and keep-first dedup (``stateful.keep_first_dedup``).

Each drain reads three event-time-ordered parquet files at
``maxFilesPerTrigger=1`` with a fixed checkpoint, into a ``foreachBatch``
sink that overwrites one directory per ``batch_id``. The first run fails
in the sink right after writing batch 1, which is after the sink write
and before the commit log. The second run restarts from the same
checkpoint, so batch 1 replays: its state ``.delta`` files and its sink
directory are both rewritten in place. The union of the batch outputs
must equal the DuckDB oracle with no row emitted twice (Flink's
exactly-once through consistent snapshots plus replay).

A checkpoint whose Python-operator state has another layout than the
operator's (the typed-array layout of earlier releases) must stop the
restart with Spark's state-schema error instead of being misread.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from flink_1_16_0_src_spark.oracle import compare_frames
from flink_1_16_0_src_spark.streaming import sources, stateful, windows

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
FILES, ROWS_PER_FILE = 3, 80
SPAN_US = 3_600_000_000  # one hour of event time per file
T0_US = 1_700_000_000_000_000
WINDOW, DELAY, TOPN_K = "10 minutes", "5 minutes", 2
CRASH_BATCH = 1


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """``events.parquet/`` with FILES files over disjoint, increasing
    one-hour spans (rows shuffled inside a file), so no row is late and
    the oracle needs no watermark bookkeeping beyond window closing."""
    root = tmp_path_factory.mktemp("resume_src")
    d = root / "events.parquet"
    d.mkdir()
    rng = np.random.default_rng(7)
    n = FILES * ROWS_PER_FILE
    # unique values: Top-N ranks have no ties
    values = rng.permutation(n).astype("float64") / 4
    for i in range(FILES):
        ids = np.arange(i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE, dtype="int64")
        ts = T0_US + i * SPAN_US + np.sort(rng.choice(SPAN_US, ROWS_PER_FILE, replace=False))
        order = rng.permutation(ROWS_PER_FILE)
        path = d / f"part-{i:05d}.parquet"
        pq.write_table(pa.table({
            "event_id": ids[order],
            "ts": pa.array(ts[order], type=pa.timestamp("us")),
            # each file brings new users, so keep-first emits in every batch
            "user_id": rng.integers(1, 8 * (i + 1), ROWS_PER_FILE).astype("int64"),
            "event_type": np.array(["click", "view", "buy"])[rng.integers(0, 3, ROWS_PER_FILE)],
            "value": values[ids],
        }), str(path))
        # the file source orders files by modification time
        os.utime(path, (1_700_000_000 + i,) * 2)
    return str(root)


def _graph(family, sdf):
    if family == "tumble":
        return windows.tumble_agg(
            sdf, "ts", WINDOW, ["event_type"],
            F.count("*").alias("n"), F.sum("value").alias("sum_value"),
        ), "append"
    if family == "topn":
        return windows.window_topn(
            sdf.select("ts", "event_type", "event_id", "value"),
            "ts", WINDOW, ["event_type"], "value", TOPN_K, ["event_id"],
        ), "append"
    return stateful.keep_first_dedup(
        sdf.select("user_id", "event_type", "ts", "value"), ["user_id"], order_col="ts"
    ), "update"


def _oracle(family, events_dir):
    src = f"read_parquet('{events_dir}/events.parquet/*.parquet')"
    w = f"INTERVAL '{WINDOW}'"
    ev = f"""WITH ev AS (SELECT *, time_bucket({w}, ts) AS window_start,
                      time_bucket({w}, ts) + {w} AS window_end FROM {src}),
    wm AS (SELECT max(ts) - INTERVAL '{DELAY}' AS w FROM {src})"""
    closed = "window_end <= (SELECT w FROM wm)"
    sql = {
        "tumble": f"""{ev} SELECT event_type, n, sum_value, window_start, window_end FROM (
            SELECT window_start, window_end, event_type, count(*) AS n,
                   sum(value) AS sum_value
            FROM ev GROUP BY ALL) t WHERE {closed}""",
        "topn": f"""{ev} SELECT window_start, window_end, event_type, rank_num, value, event_id
            FROM (SELECT *, row_number() OVER (PARTITION BY window_start, event_type
                                              ORDER BY value DESC) AS rank_num FROM ev) t
            WHERE rank_num <= {TOPN_K} AND {closed}""",
        "keep_first": f"""SELECT user_id, event_type, ts, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rk
            FROM {src}) t WHERE rk = 1""",
    }[family]
    return duckdb.connect().execute(sql).fetchdf()


def _drain(spark, events_dir, family, checkpoint, out_dir, crash_at=None):
    """One availableNow drain into per-batch directories; returns the
    batch ids the sink saw. ``crash_at`` fails the sink after it has
    written that batch."""
    seen = []

    def sink(df, batch_id):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
        seen.append(batch_id)
        if batch_id == crash_at:
            raise RuntimeError(f"crash after writing batch {batch_id}")

    sdf = sources.stream_table(
        spark, events_dir, "events", watermark=("ts", DELAY), max_files_per_trigger=1
    )
    out, mode = _graph(family, sdf)
    # size partitions as run_to_memory does
    with sources.sized_partitions(out):
        q = (
            out.writeStream.foreachBatch(sink).outputMode(mode)
            .option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
        )
    q.awaitTermination()
    return seen


def _files(root):
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


def test_get_spark_commits_checkpoints_through_filesystem_manager(spark, tmp_path):
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == FS_MANAGER
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == FS_MANAGER


@pytest.mark.parametrize("family", ["tumble", "topn", "keep_first"])
def test_crash_after_sink_write_resumes_exactly_once(spark, events_dir, tmp_path, family):
    checkpoint, out_dir = str(tmp_path / "checkpoint"), str(tmp_path / "out")

    with pytest.raises(StreamingQueryException, match="crash after writing batch"):
        _drain(spark, events_dir, family, checkpoint, out_dir, crash_at=CRASH_BATCH)
    commits = os.listdir(os.path.join(checkpoint, "commits"))
    assert [f for f in commits if not f.startswith(".")] == ["0"]

    seen = _drain(spark, events_dir, family, checkpoint, out_dir)
    # the restart replays the uncommitted batch, then drains the rest
    # (the windowed graphs add a no-data batch that closes windows)
    assert seen[:FILES - CRASH_BATCH] == list(range(CRASH_BATCH, FILES))

    want = _oracle(family, events_dir)
    got = spark.read.parquet(out_dir).toPandas()[list(want.columns)]
    rows = list(got.itertuples(index=False, name=None))
    assert len(rows) == len(set(rows)), "a row was emitted twice"
    assert compare_frames(got, want) == []
    assert len(want) > 0

    # checksums were kept: the local file system still writes .crc files
    # for the offset/commit logs and for every state delta
    assert any(f.endswith(".crc") for f in _files(os.path.join(checkpoint, "offsets")))
    deltas = [f for f in _files(os.path.join(checkpoint, "state")) if f.endswith(".delta")]
    assert deltas
    for f in deltas:
        d, name = os.path.split(f)
        assert os.path.exists(os.path.join(d, f".{name}.crc")), f


def test_typed_array_state_checkpoint_fails_loudly(spark, events_dir, tmp_path):
    """Python-state checkpoints written before the state became one
    binary field need a fresh directory: restarting keep-first dedup on
    one raises an error that names both state schemas."""
    checkpoint = str(tmp_path / "checkpoint")
    cols = ["user_id", "event_type", "ts", "value"]

    def stream():
        return sources.stream_table(
            spark, events_dir, "events", watermark=("ts", DELAY), max_files_per_trigger=1
        ).select(*cols)

    sdf = stream()
    _, vals = stateful._split(sdf, ["user_id"])
    typed = stateful.RowState(vals, ttl=True).layout  # one array per column, then __updated

    def keep_first_typed(key, pdfs, state):
        for pdf in pdfs:
            first = pdf.sort_values("ts").head(1)
            state.update(tuple(first[f.name].tolist() for f in vals) + (0.0,))
            yield first

    def crash(df, batch_id):
        raise RuntimeError(f"crash in batch {batch_id}")

    old = sdf.groupBy("user_id").applyInPandasWithState(
        keep_first_typed, sdf.schema, typed, "update", GroupStateTimeout.NoTimeout
    )
    with pytest.raises(StreamingQueryException, match="crash in batch 0"):
        old.writeStream.foreachBatch(crash).outputMode("update") \
            .option("checkpointLocation", checkpoint).trigger(availableNow=True) \
            .start().awaitTermination()

    seen = []
    q = (
        stateful.keep_first_dedup(stream(), ["user_id"], order_col="ts")
        .writeStream.foreachBatch(lambda df, batch_id: seen.append(batch_id))
        .outputMode("update").option("checkpointLocation", checkpoint)
        .trigger(availableNow=True).start()
    )
    with pytest.raises(StreamingQueryException) as err:
        q.awaitTermination()
    msg = str(err.value)
    assert "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in msg
    assert "ArrayType(TimestampType" in msg and "__state,BinaryType" in msg
    assert seen == []
