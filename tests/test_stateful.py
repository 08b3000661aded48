"""Stateful custom operator tests (SURVEY.md §2.4/§2.6 custom rows).

Single-batch drains assert end-state parity with the batch equivalent;
the scripted multi-batch source (maxFilesPerTrigger=1 over N files)
asserts cross-batch state carry — the analog of pushing records through
Flink's operator test harness in separate process() calls.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_1_16_0_src_spark import tables
from flink_1_16_0_src_spark.streaming import sources, stateful

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_batch(spark):
    return tables.load(spark, SF_DIR, "events")


def scripted_stream(spark, batches, tmpdir):
    """Write each batch DataFrame as one parquet file; stream the dir
    with maxFilesPerTrigger=1 so each file becomes one micro-batch."""
    d = os.path.join(str(tmpdir), "scripted")
    os.makedirs(d, exist_ok=True)
    schema = batches[0].schema
    for i, b in enumerate(batches):
        staging = os.path.join(str(tmpdir), f"stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        os.rename(os.path.join(staging, part), os.path.join(d, f"{i:04d}.parquet"))
        time.sleep(0.05)  # distinct mod-times → deterministic file order
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)


def test_streaming_topn_matches_batch(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events").select("user_id", "event_type", "value")
    out = stateful.streaming_topn(sdf, ["user_id"], "value", 3)
    got = sources.run_to_memory(out, "s_topn", "update")

    w = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    exp = (
        events_batch.select("user_id", "event_type", "value")
        .withColumn("rank_num", F.row_number().over(w))
        .where(F.col("rank_num") <= 3)
    )
    cols = ["user_id", "rank_num", "value"]
    assert [tuple(r) for r in got.select(*cols).orderBy(*cols).collect()] == [
        tuple(r) for r in exp.select(*cols).orderBy(*cols).collect()
    ]


def test_streaming_topn_across_batches(spark, events_batch, tmp_path):
    base = events_batch.select("user_id", "event_type", "value").where(F.col("user_id") < 5)
    b1 = base.where(F.col("value") < 50)
    b2 = base.where(F.col("value") >= 50)
    sdf = scripted_stream(spark, [b1, b2], tmp_path)
    out = stateful.streaming_topn(sdf, ["user_id"], "value", 2)
    got = sources.run_to_memory(out, "s_topn_mb", "update")
    # memory sink in update mode appends each batch's emission; the
    # final state per key is the last emission — take rows from max batch
    # via dedup on (user_id, rank_num) keeping the last occurrence
    final = (
        got.withColumn("__id", F.monotonically_increasing_id())
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id", "rank_num").orderBy(F.col("__id").desc())
            ),
        )
        .where(F.col("__rn") == 1)
    )
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    exp = (
        base.withColumn("rank_num", F.row_number().over(w)).where(F.col("rank_num") <= 2)
    )
    cols = ["user_id", "rank_num", "value"]
    assert [tuple(r) for r in final.select(*cols).orderBy(*cols).collect()] == [
        tuple(r) for r in exp.select(*cols).orderBy(*cols).collect()
    ]


def test_keep_last_dedup_matches_batch(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    out = stateful.keep_last_dedup(sdf, ["user_id", "event_type"], order_col="ts")
    got = sources.run_to_memory(out, "s_keeplast", "update")

    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("ts").desc())
    exp = (
        events_batch.select("user_id", "event_type", "ts", "value")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    cols = ["user_id", "event_type", "ts", "value"]
    assert [tuple(r) for r in got.select(*cols).orderBy(*cols).collect()] == [
        tuple(r) for r in exp.select(*cols).orderBy(*cols).collect()
    ]


def test_streaming_over_unbounded_matches_batch(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events").select("user_id", "ts", "value")
    out = stateful.streaming_over_unbounded(sdf, ["user_id"], "ts", "value")
    got = sources.run_to_memory(out, "s_over", "append")

    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    exp = (
        events_batch.select("user_id", "ts", "value")
        .withColumn("running_cnt", F.count("value").over(w))
        .withColumn("running_sum", F.round(F.sum("value").over(w), 6))
        .withColumn("running_min", F.min("value").over(w))
        .withColumn("running_max", F.max("value").over(w))
    )
    cols = ["user_id", "ts", "running_cnt", "running_min", "running_max"]
    assert [tuple(r) for r in got.select(*cols).orderBy("user_id", "ts").collect()] == [
        tuple(r) for r in exp.select(*cols).orderBy("user_id", "ts").collect()
    ]
    # sums need rounding (float accumulation order)
    gs = [round(r.running_sum, 4) for r in got.select("user_id", "ts", "running_sum").orderBy("user_id", "ts").collect()]
    es = [round(r.running_sum, 4) for r in exp.select("user_id", "ts", "running_sum").orderBy("user_id", "ts").collect()]
    assert gs == es


def test_changelog_normalize(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 2, 2, 1],
            "seq": [1, 2, 3, 1, 2, 4],
            "v": [10.0, 10.0, 20.0, 5.0, 6.0, 20.0],
            "deleted": [False, False, False, False, False, True],
        }
    )
    b = spark.createDataFrame(pdf)
    sdf = scripted_stream(spark, [b], tmp_path)
    out = stateful.changelog_normalize(sdf, ["k"], order_col="seq", delete_col="deleted")
    got = sources.run_to_memory(out, "s_changelog", "append")
    rows = [
        (r["k"], r["seq"], r["v"], r["__rowkind"])
        for r in got.orderBy("k", "seq", "__rowkind").collect()
    ]
    # k=1: +I(10) at seq1; seq2 same value → no emission; seq3 → -U/+U; seq4 delete → -D
    # k=2: +I(5); 6.0 → -U/+U
    kinds = [(k, kind) for (k, _, _, kind) in rows]
    assert kinds.count((1, "+I")) == 1 and kinds.count((1, "-U")) == 1
    assert kinds.count((1, "+U")) == 1 and kinds.count((1, "-D")) == 1
    assert kinds.count((2, "+I")) == 1 and kinds.count((2, "-U")) == 1 and kinds.count((2, "+U")) == 1
    assert len(rows) == 7


def test_changelog_normalize_reinsert_after_delete(spark, tmp_path):
    """A ``-D`` clears the key's state (ChangelogNormalize clears it on
    DELETE), so a re-insert in a later micro-batch is ``+I``, not a
    ``-U``/``+U`` update of the deleted row."""
    import pandas as pd

    def batch(seq, v, deleted):
        return spark.createDataFrame(pd.DataFrame({"k": [1] * len(seq), "seq": seq, "v": v, "deleted": deleted}))

    # insert, delete and re-insert arrive in three micro-batches
    sdf = scripted_stream(
        spark,
        [batch([1], [10.0], [False]), batch([2], [10.0], [True]), batch([3], [30.0], [False])],
        tmp_path,
    )
    out = stateful.changelog_normalize(sdf, ["k"], order_col="seq", delete_col="deleted")
    got = sources.run_to_memory(out, "s_changelog_reinsert", "append")
    rows = [(r["seq"], r["v"], r["__rowkind"]) for r in got.orderBy("seq", "__rowkind").collect()]
    assert rows == [(1, 10.0, "+I"), (1, 10.0, "-D"), (3, 30.0, "+I")]


def test_streaming_asof_join(spark, tmp_path):
    import pandas as pd

    rates = spark.createDataFrame(
        pd.DataFrame(
            {
                "cur": ["E", "E", "E"],
                "rts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 06:00", "2024-01-01 12:00"]),
                "rate": [1.0, 1.1, 1.2],
            }
        )
    )
    orders = spark.createDataFrame(
        pd.DataFrame(
            {
                "cur": ["E", "E", "E", "E"],
                "ots": pd.to_datetime(
                    ["2023-12-31 23:00", "2024-01-01 03:00", "2024-01-01 06:00", "2024-01-01 23:00"]
                ),
                "amount": [100.0, 100.0, 100.0, 100.0],
            }
        )
    )
    l = scripted_stream(spark, [orders], tmp_path / "l")
    r = scripted_stream(spark, [rates], tmp_path / "r")
    out = stateful.streaming_asof_join(l, r, "cur", "ots", "rts", ["rate"])
    got = sources.run_to_memory(out, "s_asof", "append")
    rows = {r.ots.isoformat(): r.rate for r in got.collect()}
    assert rows["2023-12-31T23:00:00"] is None
    assert rows["2024-01-01T03:00:00"] == 1.0
    assert rows["2024-01-01T06:00:00"] == 1.1
    assert rows["2024-01-01T23:00:00"] == 1.2


def test_foreach_batch_upsert(spark, events_batch, tmp_path):
    target = str(tmp_path / "upsert_target")
    sdf = sources.stream_table(spark, SF_DIR, "events").select("user_id", "event_type", "ts", "value")
    q = (
        sdf.writeStream.foreachBatch(
            stateful.foreach_batch_upsert(target, ["user_id", "event_type"], "ts")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(target)
    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("ts").desc())
    exp = (
        events_batch.select("user_id", "event_type", "ts", "value")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    cols = ["user_id", "event_type", "ts", "value"]
    assert [tuple(r) for r in got.select(*cols).orderBy(*cols).collect()] == [
        tuple(r) for r in exp.select(*cols).orderBy(*cols).collect()
    ]


def test_streaming_topn_with_ttl(spark, events_batch):
    # TTL path: state machinery accepts the timeout config and still
    # produces the right single-batch answer (eviction itself needs
    # wall-clock idle time, not assertable in a drain test).
    # NB: availableNow + ProcessingTimeTimeout never terminates (the
    # trigger waits for pending timeouts) — drain with
    # processAllAvailable() + stop() instead.
    sdf = sources.stream_table(spark, SF_DIR, "events").select("user_id", "event_type", "value")
    out = stateful.streaming_topn(sdf, ["user_id"], "value", 3, ttl_ms=60_000)
    q = (
        out.writeStream.format("memory")
        .queryName("s_topn_ttl")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM s_topn_ttl")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    exp = (
        events_batch.select("user_id", "event_type", "value")
        .withColumn("rank_num", F.row_number().over(w))
        .where(F.col("rank_num") <= 3)
    )
    cols = ["user_id", "rank_num", "value"]
    assert [tuple(r) for r in got.select(*cols).orderBy(*cols).collect()] == [
        tuple(r) for r in exp.select(*cols).orderBy(*cols).collect()
    ]


def test_streaming_over_bounded_rows_matches_batch(spark):
    """RowTimeRowsBoundedPrecedingFunction parity: streaming ROWS
    3-PRECEDING frame == batch window over the drained stream."""
    from pyspark.sql import Window as W

    from flink_1_16_0_src_spark import tables
    from flink_1_16_0_src_spark.streaming import sources
    from flink_1_16_0_src_spark.streaming.stateful import streaming_over_bounded

    sdf = sources.stream_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    got = sources.run_to_memory(
        streaming_over_bounded(sdf, ["user_id"], "ts", "value", rows=4),
        "t_over_bounded",
        "append",
    )
    ev = tables.load(spark, SF_DIR, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    exp = ev.select(
        "user_id",
        "event_id",
        F.count("value").over(w).alias("bounded_cnt"),
        F.round(F.sum("value").over(w), 4).alias("bounded_sum"),
    )
    g = {
        (r.user_id, r.event_id): (r.bounded_cnt, round(r.bounded_sum, 4))
        for r in got.collect()
    }
    mismatch = 0
    for r in exp.collect():
        if g.get((r.user_id, r.event_id)) != (r.bounded_cnt, r.bounded_sum):
            mismatch += 1
    # ties on ts may order differently between the stream drain and the
    # batch window; the overwhelming majority must agree exactly
    assert mismatch <= len(g) * 0.02, f"{mismatch}/{len(g)} frames differ"
    assert len(g) == ev.count()


def test_keyed_inactivity_timer_fires_on_watermark(spark, tmp_path):
    import pandas as pd

    # batch 1: keys A and B active around t0. batch 2/3: only B keeps
    # sending, pushing the watermark past A's timer -> A's alert fires;
    # B stays live (its re-armed timer is beyond the final watermark).
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    b1 = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["A", "A", "B"],
                "ts": [t0, t0 + pd.Timedelta(seconds=10), t0 + pd.Timedelta(seconds=10)],
                "v": [1.0, 2.0, 3.0],
            }
        )
    )
    b2 = spark.createDataFrame(
        pd.DataFrame({"k": ["B"], "ts": [t0 + pd.Timedelta(minutes=2)], "v": [4.0]})
    )
    b3 = spark.createDataFrame(
        pd.DataFrame({"k": ["B"], "ts": [t0 + pd.Timedelta(minutes=4)], "v": [5.0]})
    )
    sdf = scripted_stream(spark, [b1, b2, b3], tmp_path).withWatermark("ts", "5 seconds")
    out = stateful.keyed_inactivity_timer(sdf, ["k"], "ts", "30 seconds")
    got = sources.run_to_memory(out, "s_timer", "append")
    rows = [(r.k, r.last_seen.isoformat(), r.n_events) for r in got.collect()]
    assert rows == [("A", "2024-01-01T00:00:10", 2)]


def _drain_once(out_sdf, ckpt: str, qname: str) -> list:
    """availableNow drain through a checkpoint-recoverable foreachBatch
    sink (memory sink refuses checkpoint recovery); returns this drain's
    emitted rows."""
    rows: list = []

    def sink(batch_df, batch_id):
        rows.extend(batch_df.collect())

    q = (
        out_sdf.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rows


def test_streaming_topn_ttl_expiry(spark, tmp_path):
    """StateTtlConfig parity (flink-core/.../state/StateTtlConfig.java,
    OnReadAndWrite visibility): a key idle past ttl_ms DROPS its state on
    next access — batch 2 after the idle gap sees an empty top-k, so a
    small value ranks 1 instead of being shadowed by batch 1's rows."""
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    ckpt = os.path.join(str(tmp_path), "ckpt")
    schema = "user_id bigint, value double"
    b1 = spark.createDataFrame([(1, 30.0), (1, 20.0), (1, 10.0)], schema)
    b1.coalesce(1).write.mode("append").parquet(d)

    def topn():
        sdf = spark.readStream.schema(b1.schema).parquet(d)
        return stateful.streaming_topn(sdf, ["user_id"], "value", 2, ttl_ms=500)

    got1 = {(r.rank_num, r.value) for r in _drain_once(topn(), ckpt, "ttl_b1")}
    assert got1 == {(1, 30.0), (2, 20.0)}

    time.sleep(1.3)  # idle past ttl_ms
    spark.createDataFrame([(1, 5.0)], schema).coalesce(1).write.mode("append").parquet(d)
    # same checkpoint → only the new file
    got2 = {(r.rank_num, r.value) for r in _drain_once(topn(), ckpt, "ttl_b2")}
    # expired: 5.0 is rank 1; without expiry it would not crack {30, 20}
    assert got2 == {(1, 5.0)}


def test_streaming_topn_no_ttl_keeps_state(spark, tmp_path):
    """Control for the expiry test: same two-batch drive WITHOUT ttl —
    batch 1's rows must still shadow the small batch-2 value."""
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    ckpt = os.path.join(str(tmp_path), "ckpt")
    schema = "user_id bigint, value double"
    b1 = spark.createDataFrame([(1, 30.0), (1, 20.0)], schema)
    b1.coalesce(1).write.mode("append").parquet(d)

    def topn():
        sdf = spark.readStream.schema(b1.schema).parquet(d)
        return stateful.streaming_topn(sdf, ["user_id"], "value", 2)

    _drain_once(topn(), ckpt, "nottl_b1")
    time.sleep(1.3)
    spark.createDataFrame([(1, 5.0)], schema).coalesce(1).write.mode("append").parquet(d)
    got2 = {(r.rank_num, r.value) for r in _drain_once(topn(), ckpt, "nottl_b2")}
    assert got2 == {(1, 30.0), (2, 20.0)}


def test_keep_last_dedup_ttl_expiry(spark, tmp_path):
    """keep_last_dedup with ttl_ms: after the idle gap an OLDER-rowtime
    row is accepted as fresh state (the expired last-row no longer
    rejects it); without ttl it would be dropped as out of order."""
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    ckpt = os.path.join(str(tmp_path), "ckpt")
    schema = "user_id bigint, seq bigint, value double"
    b1 = spark.createDataFrame([(1, 100, 1.0)], schema)
    b1.coalesce(1).write.mode("append").parquet(d)

    def dedup(ttl):
        sdf = spark.readStream.schema(b1.schema).parquet(d)
        return stateful.keep_last_dedup(sdf, ["user_id"], order_col="seq", ttl_ms=ttl)

    _drain_once(dedup(500), ckpt, "klttl_b1")
    time.sleep(1.3)
    spark.createDataFrame([(1, 50, 2.0)], schema).coalesce(1).write.mode("append").parquet(d)
    got = {(r.seq, r.value) for r in _drain_once(dedup(500), ckpt, "klttl_b2")}
    assert got == {(50, 2.0)}  # expired: the older-seq row re-seeds the key


def test_changelog_group_aggregate_retracts_across_batches(spark, tmp_path):
    """Retract-mode agg (AggregateFunction.retract parity): an entity
    inserted in batch 1 and updated in batch 2 contributes exactly its
    latest value — the -U retraction cancels across the batch
    boundary."""
    d = os.path.join(str(tmp_path), "log")
    os.makedirs(d)
    schema = "k bigint, cents bigint, __rowkind string"
    b1 = [(1, 100, "+I"), (1, 50, "+I")]           # two entities for key 1
    b2 = [(1, 100, "-U"), (1, 70, "+U"),            # first entity 100 -> 70
          (1, 50, "-D")]                            # second entity deleted
    for i, b in enumerate((b1, b2)):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(
            os.path.join(d, f"{i}")
        )
        # separate subdirs won't stream; write as files in one dir
    import shutil

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    n = 0
    for i in (0, 1):
        for f in sorted(os.listdir(os.path.join(d, str(i)))):
            if f.endswith(".parquet"):
                dst = os.path.join(src, f"{n:04d}.parquet")
                shutil.copy(os.path.join(d, str(i), f), dst)
                os.utime(dst, (1_000_000 + n * 1000,) * 2)
                n += 1
    sdf = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = stateful.changelog_group_aggregate(sdf, ["k"], "cents")
    got = sources.run_to_memory(out, "retract_mb", "update")
    rows = [(r.alive_cnt, r.sum_cents) for r in got.collect()]
    # batch1 emission: 2 entities, 150 cents; batch2: 1 entity, 70 cents
    assert rows == [(2, 150), (1, 70)]


def test_changelog_group_aggregate_null_measure(spark, tmp_path):
    """NULL measures count as alive rows but contribute 0 to the sum
    (SQL aggregate null semantics), symmetrically on retraction."""
    d = os.path.join(str(tmp_path), "src")
    os.makedirs(d)
    schema = "k bigint, cents bigint, __rowkind string"
    rows = [(1, 100, "+I"), (1, None, "+I"), (1, None, "-D"), (1, None, "+I")]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)
    sdf = spark.readStream.schema(schema).parquet(d)
    out = stateful.changelog_group_aggregate(sdf, ["k"], "cents")
    got = [(r.alive_cnt, r.sum_cents) for r in sources.run_to_memory(out, "retract_null", "update").collect()]
    assert got == [(2, 100)]


def test_keep_first_dedup_cross_batch(spark, tmp_path):
    """keep_first_dedup (DeduplicateKeepFirstRowFunction parity):
    batch 1 seeds the key and emits; a LARGER-order row in batch 2
    emits nothing (first row already won); a SMALLER-order row in a
    later batch supersedes and re-emits (rowtime update semantics)."""
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    ckpt = os.path.join(str(tmp_path), "ckpt")
    schema = "k bigint, seq bigint, value double"
    b1 = spark.createDataFrame([(1, 100, 1.0), (2, 5, 9.0)], schema)
    b1.coalesce(1).write.mode("append").parquet(d)

    def dedup():
        sdf = spark.readStream.schema(b1.schema).parquet(d)
        return stateful.keep_first_dedup(sdf, ["k"], order_col="seq")

    got1 = {(r.k, r.seq, r.value) for r in _drain_once(dedup(), ckpt, "kf_b1")}
    assert got1 == {(1, 100, 1.0), (2, 5, 9.0)}

    # larger seq for k=1: ignored; smaller seq for k=2: supersedes
    spark.createDataFrame([(1, 200, 3.0), (2, 2, 7.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    got2 = {(r.k, r.seq, r.value) for r in _drain_once(dedup(), ckpt, "kf_b2")}
    assert got2 == {(2, 2, 7.0)}


def test_keep_first_dedup_proctime_no_reemit(spark, tmp_path):
    """order_col=None (proctime): once a key holds state, every later
    arrival is silently dropped regardless of its payload."""
    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    ckpt = os.path.join(str(tmp_path), "ckpt")
    schema = "k bigint, seq bigint, value double"
    b1 = spark.createDataFrame([(1, 100, 1.0)], schema)
    b1.coalesce(1).write.mode("append").parquet(d)

    def dedup():
        sdf = spark.readStream.schema(b1.schema).parquet(d)
        return stateful.keep_first_dedup(sdf, ["k"])

    got1 = {(r.k, r.seq) for r in _drain_once(dedup(), ckpt, "kfp_b1")}
    assert got1 == {(1, 100)}
    spark.createDataFrame([(1, 1, 5.0)], schema).coalesce(1).write.mode("append").parquet(d)
    got2 = {(r.k, r.seq) for r in _drain_once(dedup(), ckpt, "kfp_b2")}
    assert got2 == set()


def test_streaming_over_multi_cross_batch_tail(spark, tmp_path):
    """streaming_over_multi: the bounded frame spans MICRO-BATCH
    boundaries via the JSON tail state (RowTimeRowsBoundedPreceding
    Function's retract-list analog), and unbounded accumulators carry
    per column. Two scripted batches; the first frame of batch 2 must
    include batch-1 rows."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    b1 = spark.createDataFrame(
        [("a", t0, 1.0, 10), ("a", dt.datetime(2024, 1, 1, 10, 1), 2.0, 20)],
        "k string, ts timestamp, v double, w long",
    )
    b2 = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 2), 4.0, 5)],
        "k string, ts timestamp, v double, w long",
    )
    sdf = scripted_stream(spark, [b1, b2], tmp_path)
    out = stateful.streaming_over_multi(
        sdf, ["k"], "ts",
        [("SUM", "v", "s"), ("MAX", "w", "mw"), ("COUNT", None, "n")],
        rows=2,
    )
    got = sorted(
        (r.k, str(r.ts), r.s, r.mw, r.n)
        for r in sources.run_to_memory(out, "t_over_multi", "append").collect()
    )
    # frame = [prev row, current row]; batch-2's row must see batch-1's
    # last row through the tail state
    assert got == [
        ("a", "2024-01-01 10:00:00", 1.0, 10.0, 1),
        ("a", "2024-01-01 10:01:00", 3.0, 20.0, 2),
        ("a", "2024-01-01 10:02:00", 6.0, 20.0, 2),
    ]
    sdf2 = scripted_stream(spark, [b1, b2], tmp_path / "u")
    out2 = stateful.streaming_over_multi(
        sdf2, ["k"], "ts",
        [("SUM", "v", "s"), ("MIN", "w", "mn"), ("COUNT", None, "n")],
    )
    got2 = sorted(
        (r.k, str(r.ts), r.s, r.mn, r.n)
        for r in sources.run_to_memory(out2, "t_over_multi_u", "append").collect()
    )
    assert got2 == [
        ("a", "2024-01-01 10:00:00", 1.0, 10.0, 1),
        ("a", "2024-01-01 10:01:00", 3.0, 10.0, 2),
        ("a", "2024-01-01 10:02:00", 7.0, 5.0, 3),
    ]


def test_streaming_over_multi_offset_value_aggs(spark, tmp_path):
    """LAG / LEAD(…,0) / FIRST_VALUE / LAST_VALUE in the unbounded OVER
    pass (LeadLagAggFunction / FirstValueAggFunction parity): the LAG
    tail and first/last accumulators carry across micro-batches; NULLs
    are skipped by FIRST/LAST and passed through by LAG (SQL default);
    positive LEAD offsets and bounded-frame usage are rejected."""
    import datetime as dt

    import pytest

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    b1 = spark.createDataFrame(
        [("a", t(0), 1.0), ("a", t(1), None), ("a", t(2), 3.0)],
        "k string, ts timestamp, v double",
    )
    b2 = spark.createDataFrame(
        [("a", t(3), 4.0), ("b", t(3), 7.0)],
        "k string, ts timestamp, v double",
    )
    sdf = scripted_stream(spark, [b1, b2], tmp_path)
    out = stateful.streaming_over_multi(
        sdf, ["k"], "ts",
        [("LAG", "v", "prev", 1), ("LAG", "v", "prev2", 2),
         ("LEAD", "v", "cur", 0), ("FIRST_VALUE", "v", "fv"),
         ("LAST_VALUE", "v", "lv"), ("SUM", "v", "s")],
    )
    got = sorted(
        (r.k, str(r.ts), r.prev, r.prev2, r.cur, r.fv, r.lv, r.s)
        for r in sources.run_to_memory(out, "t_over_llfl", "append").collect()
    )
    assert got == [
        ("a", "2024-01-01 10:00:00", None, None, 1.0, 1.0, 1.0, 1.0),
        ("a", "2024-01-01 10:01:00", 1.0, None, None, 1.0, 1.0, 1.0),
        ("a", "2024-01-01 10:02:00", None, 1.0, 3.0, 1.0, 3.0, 4.0),
        # batch 2: lag tail carries batch-1 values across the boundary
        ("a", "2024-01-01 10:03:00", 3.0, None, 4.0, 1.0, 4.0, 8.0),
        ("b", "2024-01-01 10:03:00", None, None, 7.0, 7.0, 7.0, 7.0),
    ]
    with pytest.raises(ValueError, match="future rows"):
        stateful.streaming_over_multi(
            sdf, ["k"], "ts", [("LEAD", "v", "nxt", 1)]
        )
    # a MISSING offset means LEAD(v, 1) (SQL default), never LEAD(v, 0)
    # — bare LEAD must hit the same future-rows rejection
    with pytest.raises(ValueError, match="future rows"):
        stateful.streaming_over_multi(
            sdf, ["k"], "ts", [("LEAD", "v", "nxt")]
        )
    with pytest.raises(ValueError, match="UNBOUNDED frame only"):
        stateful.streaming_over_multi(
            sdf, ["k"], "ts", [("LAG", "v", "prev", 1)], rows=3
        )
