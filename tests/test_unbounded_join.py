"""Unbounded stream-stream join harness tests (SURVEY.md §2.4,
StreamingJoinOperator.java:36 parity).

Inner: the +I changelog over a full drain must equal the batch inner
join. Left outer: with scripted file arrival (maxFilesPerTrigger=1 on
the probe side) the null-padded row must appear in the early batch and
be retracted with -D when its first match arrives — the
OuterJoinRecordStateView numMatches 0→1 transition.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_1_16_0_src_spark import tables
from flink_1_16_0_src_spark.streaming import sources
from flink_1_16_0_src_spark.streaming.joins import unbounded_join

SF_DIR = "/root/testdata/sf0.001"


def test_unbounded_inner_matches_batch(spark):
    o = sources.stream_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    l = sources.stream_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    out = unbounded_join(o, l, ("o_orderkey", "l_orderkey"), how="inner")
    got = sources.run_to_memory(out, "t_unb_inner", "append")
    assert got.where("__rowkind <> '+I'").count() == 0
    ob = tables.load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    lb = tables.load(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    exp = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
    cols = ["o_orderkey", "l_linenumber"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, exp.select(*cols).collect())
    )


def test_unbounded_left_outer_retracts_null_padding(spark, tmp_path):
    # build side: 3 users; probe side: two files arriving in order —
    # file A matches u1 only, file B brings u2's first match
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir), os.makedirs(rdir)
    pd.DataFrame({"uid": [1, 2, 3], "uname": ["a", "b", "c"]}).to_parquet(
        os.path.join(ldir, "left.parquet")
    )
    pd.DataFrame({"ruid": [1], "rval": [10.0]}).to_parquet(os.path.join(rdir, "a.parquet"))
    time.sleep(1.1)  # file-source orders by mtime: B strictly after A
    pd.DataFrame({"ruid": [2], "rval": [20.0]}).to_parquet(os.path.join(rdir, "b.parquet"))

    lschema = spark.read.parquet(ldir).schema
    rschema = spark.read.parquet(rdir).schema
    lsdf = spark.readStream.schema(lschema).parquet(ldir)
    rsdf = (
        spark.readStream.schema(rschema).option("maxFilesPerTrigger", 1).parquet(rdir)
    )
    out = unbounded_join(lsdf, rsdf, ("uid", "ruid"), how="left_outer")
    got = sources.run_to_memory(out, "t_unb_louter", "append")
    rows = [
        (r["uid"], r["ruid"], r["rval"], r["__rowkind"])
        for r in got.orderBy("uid", "__rowkind").collect()
    ]
    # u1's pair is emitted (null padding may appear and be retracted
    # within batch 1 — arrival order inside a batch is real arrival
    # order, exactly as in the reference operator)
    assert (1, 1, 10.0, "+I") in rows
    # u2: null-padded first (cross-batch), then retracted and re-joined
    assert (2, None, None, "+I") in rows
    assert (2, None, None, "-D") in rows
    assert (2, 2, 20.0, "+I") in rows
    # u3: never matched → null padding stands, never retracted
    assert (3, None, None, "+I") in rows
    assert (3, None, None, "-D") not in rows
    # net effect equals the batch left join (apply +I/-D as multiset)
    from collections import Counter

    net = Counter()
    for uid, ruid, rval, kind in rows:
        net[(uid, ruid, rval)] += 1 if kind == "+I" else -1
    exp = Counter({(1, 1, 10.0): 1, (2, 2, 20.0): 1, (3, None, None): 1})
    assert +net == exp


def test_unbounded_join_ttl_bounds_state(spark, tmp_path):
    # two probe files 2h apart; ttl 1h — the stale build row must be
    # evicted before the second file's rows probe it
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir), os.makedirs(rdir)
    pd.DataFrame(
        {"uid": [1], "lts": pd.to_datetime(["2024-01-01 10:00"]), "uname": ["a"]}
    ).to_parquet(os.path.join(ldir, "left.parquet"))
    pd.DataFrame(
        {"ruid": [1], "rts": pd.to_datetime(["2024-01-01 10:30"]), "rval": [1.0]}
    ).to_parquet(os.path.join(rdir, "a.parquet"))
    time.sleep(1.1)
    pd.DataFrame(
        {"ruid": [1], "rts": pd.to_datetime(["2024-01-01 12:30"]), "rval": [2.0]}
    ).to_parquet(os.path.join(rdir, "b.parquet"))

    lsdf = spark.readStream.schema(spark.read.parquet(ldir).schema).parquet(ldir)
    rsdf = (
        spark.readStream.schema(spark.read.parquet(rdir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rdir)
    )
    out = unbounded_join(
        lsdf, rsdf, ("uid", "ruid"), how="inner", ttl=("lts", "rts", "1 hour")
    )
    got = sources.run_to_memory(out, "t_unb_ttl", "append")
    vals = sorted(r.rval for r in got.collect())
    # 10:30 probe joins (left row fresh); 12:30 probe finds the left row
    # evicted (10:00 < 12:30 - 1h) → no second pair
    assert vals == [1.0]


def test_unbounded_join_ttl_null_time_does_not_evict(spark, tmp_path):
    # a probe row with a NULL event time must not move the ttl clock: the
    # 10:00 build row stays fresh for the 10:40 probe of the same batch
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir), os.makedirs(rdir)
    pd.DataFrame(
        {"uid": [1], "lts": pd.to_datetime(["2024-01-01 10:00"]), "uname": ["a"]}
    ).to_parquet(os.path.join(ldir, "left.parquet"))
    pd.DataFrame(
        {"ruid": [1], "rts": pd.to_datetime(["2024-01-01 10:30"]), "rval": [1.0]}
    ).to_parquet(os.path.join(rdir, "a.parquet"))
    time.sleep(1.1)
    pd.DataFrame(
        {"ruid": [1, 1], "rts": pd.to_datetime([None, "2024-01-01 10:40"]), "rval": [2.0, 3.0]}
    ).to_parquet(os.path.join(rdir, "b.parquet"))

    lsdf = spark.readStream.schema(spark.read.parquet(ldir).schema).parquet(ldir)
    rsdf = (
        spark.readStream.schema(spark.read.parquet(rdir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rdir)
    )
    out = unbounded_join(
        lsdf, rsdf, ("uid", "ruid"), how="inner", ttl=("lts", "rts", "1 hour")
    )
    got = sources.run_to_memory(out, "t_unb_ttl_null", "append")
    assert sorted(r.rval for r in got.collect()) == [1.0, 2.0, 3.0]


def test_unbounded_semi_anti(spark, tmp_path):
    import os

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir), os.makedirs(rdir)
    pd.DataFrame({"uid": [1, 2, 3], "uname": ["a", "b", "c"]}).to_parquet(
        os.path.join(ldir, "left.parquet")
    )
    pd.DataFrame({"ruid": [1], "rval": [10.0]}).to_parquet(os.path.join(rdir, "a.parquet"))
    time.sleep(1.1)
    pd.DataFrame({"ruid": [2], "rval": [20.0]}).to_parquet(os.path.join(rdir, "b.parquet"))

    def run(how, name):
        lsdf = spark.readStream.schema(spark.read.parquet(ldir).schema).parquet(ldir)
        rsdf = (
            spark.readStream.schema(spark.read.parquet(rdir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(rdir)
        )
        out = unbounded_join(lsdf, rsdf, ("uid", "ruid"), how=how)
        got = sources.run_to_memory(out, name, "append")
        assert "rval" not in got.columns  # left rows only
        return [(r["uid"], r["__rowkind"]) for r in got.collect()]

    semi = run("left_semi", "t_unb_semi")
    # u1 matches (order within batch1 irrelevant: exactly one +I), u2
    # matches in batch2, u3 never — net semi = {1, 2}
    from collections import Counter

    assert +Counter({u: 1 for u, k in semi if k == "+I"}) == Counter({1: 1, 2: 1})
    assert all(k == "+I" for _, k in semi)

    anti = run("left_anti", "t_unb_anti")
    net = Counter()
    for u, k in anti:
        net[u] += 1 if k == "+I" else -1
    assert +net == Counter({3: 1})  # only u3 still satisfies NOT EXISTS
    assert (2, "-D") in anti  # u2's anti row was retracted cross-batch


def test_unbounded_full_outer(spark, tmp_path):
    """Full outer: both sides padded when unmatched, both retracted on
    their numMatches 0→1 flip; net effect == batch full outer join."""
    import os

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir), os.makedirs(rdir)
    pd.DataFrame({"uid": [1, 3], "uname": ["a", "c"]}).to_parquet(
        os.path.join(ldir, "left.parquet")
    )
    pd.DataFrame({"ruid": [1], "rval": [10.0]}).to_parquet(os.path.join(rdir, "a.parquet"))
    time.sleep(1.1)
    pd.DataFrame({"ruid": [2], "rval": [20.0]}).to_parquet(os.path.join(rdir, "b.parquet"))

    lsdf = spark.readStream.schema(spark.read.parquet(ldir).schema).parquet(ldir)
    rsdf = (
        spark.readStream.schema(spark.read.parquet(rdir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rdir)
    )
    out = unbounded_join(lsdf, rsdf, ("uid", "ruid"), how="full_outer")
    got = sources.run_to_memory(out, "t_unb_full", "append")
    from collections import Counter

    net = Counter()
    for r in got.collect():
        net[(r["uid"], r["ruid"], r["rval"])] += 1 if r["__rowkind"] == "+I" else -1
    # u1 paired; u3 left-padded; right row ruid=2 right-padded
    assert +net == Counter(
        {(1, 1, 10.0): 1, (3, None, None): 1, (None, 2, 20.0): 1}
    )
