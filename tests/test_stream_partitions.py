"""Stream partition sizing reads the plan being started.

``streaming.sources.sized_partitions`` sizes a streaming query's shuffle
partitions from the file paths in its own plan, when it starts. Opening
a stream has no side effects, so a stream that was opened and never
drained changes nothing. Each test sets ``spark.sql.shuffle.partitions``
to 32 (at 4 or fewer the rule changes nothing) and reads the count the
query kept from its checkpoint's ``offsets/0``.
"""

from __future__ import annotations

import datetime as dt
import fcntl
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def ck_root(spark, tmp_path):
    """32 shuffle partitions and a checkpoint root for named queries."""
    confs = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.streaming.checkpointLocation": str(tmp_path / "ck"),
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield str(tmp_path / "ck")
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture
def events(spark, tmp_path):
    """A directory holding one fixture table, ``events.parquet``, as a
    single file."""
    d = tmp_path / "fixtures"
    d.mkdir()
    tmp = str(tmp_path / "events_tmp")
    spark.createDataFrame(
        [(i, ["view", "cart", "buy"][i % 3], dt.datetime(2024, 1, 1, i % 24, i % 60),
          float(i)) for i in range(200)],
        "event_id bigint, event_type string, ts timestamp, value double",
    ).coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    shutil.move(os.path.join(tmp, part), d / "events.parquet")
    return str(d)


def _kept(checkpoint: str) -> int:
    """The shuffle partition count a query recorded in its first offset."""
    with open(os.path.join(checkpoint, "offsets", "0")) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def _tumble(sdf):
    from pyspark.sql import functions as F

    from flink_1_16_0_src_spark.streaming import windows

    return windows.tumble_agg(
        sdf.withWatermark("ts", "1 minute"), "ts", "1 hour", ["event_type"],
        F.count("*").alias("n"),
    )


def test_tumble_drain_is_sized(spark, events, ck_root):
    from flink_1_16_0_src_spark.streaming import sources as ssrc

    sdf = ssrc.stream_table(spark, events, "events")
    assert ssrc.run_to_memory(_tumble(sdf), "sz_tumble").count() > 0
    assert _kept(f"{ck_root}/sz_tumble") == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_window_topn_drain_is_sized(spark, events, ck_root):
    """A Python-state operator is sized like a JVM one."""
    from flink_1_16_0_src_spark.streaming import sources as ssrc
    from flink_1_16_0_src_spark.streaming import windows

    sdf = ssrc.stream_table(spark, events, "events", watermark=("ts", "1 minute"))
    out = windows.window_topn(
        sdf.select("ts", "event_type", "event_id", "value"),
        "ts", "1 hour", ["event_type"], "value", 2, ["event_id"],
    )
    assert ssrc.run_to_memory(out, "sz_topn").count() > 0
    assert _kept(f"{ck_root}/sz_topn") == 4


_SET_INSERTS = {
    "sz_sess": "INSERT INTO sz_sess SELECT k, window_start, window_end, "
    "COUNT(*) AS n FROM TABLE(SESSION(TABLE sz_ev PARTITION BY k, "
    "DESCRIPTOR(ts), INTERVAL '30' MINUTE)) GROUP BY k, window_start, window_end",
    "sz_tum": "INSERT INTO sz_tum SELECT k, window_start, window_end, "
    "COUNT(*) AS n FROM TABLE(TUMBLE(TABLE sz_ev, DESCRIPTOR(ts), "
    "INTERVAL '1' HOUR)) GROUP BY k, window_start, window_end",
}


@pytest.mark.parametrize(
    "sinks", [("sz_sess",), ("sz_sess", "sz_tum")], ids=["session", "session+tumble"]
)
def test_statement_set_is_sized(spark, tmp_path, ck_root, sinks):
    """A SESSION branch's Python operator, alone or beside a state-store
    branch."""
    from flink_1_16_0_src_spark.session import TableEnvironment

    tenv = TableEnvironment(spark)
    src = str(tmp_path / "sz_ev")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 0), 1.0),
         ("a", dt.datetime(2024, 1, 1, 12, 0), 2.0),
         ("b", dt.datetime(2024, 1, 1, 14, 0), 4.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(src)
    tenv.execute_sql(
        "CREATE TABLE sz_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        " WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sset = tenv.create_stream_statement_set()
    for sink in sinks:
        tenv.execute_sql(
            f"CREATE TABLE {sink} WITH ('connector'='filesystem',"
            f"'path'='{tmp_path / sink}','format'='parquet')"
        )
        sset.add_insert_sql(_SET_INSERTS[sink])
    ck = str(tmp_path / "sset_ck")
    sset.execute(checkpoint=ck)
    assert _kept(ck) == 4
    assert spark.read.parquet(str(tmp_path / "sz_sess")).count() == 2


def test_undrained_stream_does_not_size_the_next_drain(
    spark, events, tmp_path, ck_root, monkeypatch
):
    """A stream opened and never started changes no later drain."""
    from flink_1_16_0_src_spark.streaming import sources as ssrc

    size = os.path.getsize(os.path.join(events, "events.parquet"))
    # the drained table alone is one target's worth: 4 partitions
    monkeypatch.setattr(ssrc, "_STREAM_PARTITION_BYTES", size)
    big = tmp_path / "big" / "events.parquet"
    big.mkdir(parents=True)
    for i in range(10):
        shutil.copy(os.path.join(events, "events.parquet"), big / f"p{i}.parquet")
    ssrc.stream_table(spark, str(big.parent), "events")
    sdf = ssrc.stream_table(spark, events, "events")
    ssrc.run_to_memory(_tumble(sdf), "sz_after_undrained")
    assert _kept(f"{ck_root}/sz_after_undrained") == 4


def test_plain_read_stream_is_sized_like_stream_table(
    spark, events, ck_root, monkeypatch
):
    from flink_1_16_0_src_spark.streaming import sources as ssrc

    size = os.path.getsize(os.path.join(events, "events.parquet"))
    target = size // 6
    monkeypatch.setattr(ssrc, "_STREAM_PARTITION_BYTES", target)
    want = min(32, max(4, math.ceil(size / target)))
    assert 4 < want < 32
    ssrc.run_to_memory(
        _tumble(ssrc.stream_table(spark, events, "events")), "sz_fixture"
    )
    schema = spark.read.parquet(events).schema
    plain = spark.readStream.schema(schema).parquet(events)
    ssrc.run_to_memory(_tumble(plain), "sz_plain")
    assert _kept(f"{ck_root}/sz_fixture") == _kept(f"{ck_root}/sz_plain") == want


def test_link_directory_is_stable_across_processes(tmp_path):
    """A single file is watched through one directory per absolute path,
    whatever the process's hash seed."""
    f = tmp_path / "one.parquet"
    f.write_bytes(b"x")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import sys; from flink_1_16_0_src_spark.sources import stream_dir; "
        "print(stream_dir(sys.argv[1]))"
    )
    dirs = {
        subprocess.run(
            [sys.executable, "-c", code, str(f)], cwd=REPO, check=True,
            capture_output=True, text=True,
            env={**os.environ, "PYTHONHASHSEED": seed, "TMPDIR": str(tmp)},
        ).stdout.strip()
        for seed in ("1", "2")
    }
    assert len(dirs) == 1
    (d,) = dirs
    assert d.startswith(str(tmp))
    assert os.listdir(d) == ["one.parquet"]
    assert os.path.realpath(os.path.join(d, "one.parquet")) == os.path.realpath(f)


def test_new_link_directory_removes_dangling_ones(tmp_path, monkeypatch):
    """Creating a link directory removes each one whose file is gone and
    keeps the ones whose file is still there."""
    from flink_1_16_0_src_spark.sources import stream_dir

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    files = {}
    for name in ("a", "b", "kept"):
        files[name] = tmp_path / f"{name}.parquet"
        files[name].write_bytes(b"x")
    a_dir = stream_dir(str(files["a"]))
    kept_dir = stream_dir(str(files["kept"]))
    files["a"].unlink()
    assert stream_dir(str(files["kept"])) == kept_dir  # not new: removes nothing
    assert os.path.isdir(a_dir)
    b_dir = stream_dir(str(files["b"]))
    assert not os.path.exists(a_dir)
    assert os.listdir(kept_dir) == ["kept.parquet"]
    assert os.listdir(b_dir) == ["b.parquet"]


def test_link_directory_removal_waits_for_the_lock(tmp_path):
    """Removing dangling link directories waits for the lock that
    creating one holds, so it runs wholly before or after another
    process's ``stream_dir``; a file written again by then keeps its
    directory."""
    tmp = tmp_path / "tmp"
    root = tmp / "spark_graft_streams"
    root.mkdir(parents=True)
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    a.write_bytes(b"x")
    b.write_bytes(b"x")
    code = (
        "import sys; from flink_1_16_0_src_spark.sources import stream_dir; "
        "print(stream_dir(sys.argv[1]))"
    )
    env = {**os.environ, "TMPDIR": str(tmp)}

    def stream_dir_in_subprocess(f):
        return subprocess.Popen(
            [sys.executable, "-c", code, str(f)], cwd=REPO, env=env,
            stdout=subprocess.PIPE, text=True,
        )

    a_dir = stream_dir_in_subprocess(a).communicate(timeout=120)[0].strip()
    a.unlink()
    with open(root / ".lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        sweeper = stream_dir_in_subprocess(b)  # b's directory is new: it sweeps
        time.sleep(3)
        assert sweeper.poll() is None  # waits for the lock
        a.write_bytes(b"y")  # written again while a's link dangled
    sweeper.communicate(timeout=120)
    assert os.listdir(a_dir) == ["a.parquet"]
    assert open(os.path.join(a_dir, "a.parquet"), "rb").read() == b"y"
