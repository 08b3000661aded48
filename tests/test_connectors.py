"""Connector / format / DDL tests (SURVEY.md §2.1)."""

from __future__ import annotations

import os

import pytest

from flink_1_16_0_src_spark import sources as srcs
from flink_1_16_0_src_spark import tables
from flink_1_16_0_src_spark.session import TableEnvironment

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tenv(spark):
    return TableEnvironment(spark)


@pytest.fixture(scope="module")
def csv_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fmt") / "nation_csv")
    tables.load(spark, SF_DIR, "nation").write.option("header", True).csv(d)
    return d


def test_ddl_filesystem_parquet(tenv):
    df = tenv.execute_sql(
        f"CREATE TABLE t_region WITH ('connector'='filesystem',"
        f"'path'='{SF_DIR}/region.parquet','format'='parquet')"
    )
    assert df.count() == 5
    assert tenv.sql_query("SELECT count(*) c FROM t_region").collect()[0].c == 5


def test_ddl_filesystem_csv_roundtrip(tenv, spark, csv_dir):
    df = tenv.execute_sql(
        f"CREATE TABLE t_nation_csv (n_nationkey BIGINT, n_name STRING, "
        f"n_regionkey BIGINT, n_comment STRING) WITH ("
        f"'connector'='filesystem','path'='{csv_dir}','format'='csv',"
        f"'csv.include-header'='true')"
    )
    exp = tables.load(spark, SF_DIR, "nation")
    assert df.count() == exp.count()
    assert {r.n_name for r in df.collect()} == {r.n_name for r in exp.collect()}


def test_ddl_filesystem_json_roundtrip(tenv, spark, tmp_path):
    d = str(tmp_path / "region_json")
    tables.load(spark, SF_DIR, "region").write.json(d)
    df = tenv.execute_sql(
        f"CREATE TABLE t_region_json WITH ('connector'='filesystem',"
        f"'path'='{d}','format'='json')"
    )
    assert df.count() == 5


def test_ddl_sink_print_blackhole(tenv):
    tenv.execute_sql("CREATE TABLE snk_print WITH ('connector'='print')")
    tenv.execute_sql("CREATE TABLE snk_hole WITH ('connector'='blackhole')")
    # routing INSERT INTO through both sinks must not raise
    tenv.execute_sql("INSERT INTO snk_print SELECT * FROM t_region LIMIT 2")
    tenv.execute_sql("INSERT INTO snk_hole SELECT * FROM t_region")


def test_ddl_filesystem_sink_insert(tenv, spark, tmp_path):
    out = str(tmp_path / "sink_out")
    tenv.execute_sql(
        f"CREATE TABLE snk_fs WITH ('connector'='filesystem','path'='{out}','format'='parquet')"
    )
    tenv.execute_sql("INSERT INTO snk_fs SELECT * FROM t_region WHERE r_regionkey < 3")
    assert spark.read.parquet(out).count() == 3


def test_ddl_datagen(tenv):
    df = tenv.execute_sql(
        "CREATE TABLE gen (ts TIMESTAMP, val BIGINT) WITH "
        "('connector'='datagen','rows-per-second'='5')"
    )
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_read_table_option_translation(spark, csv_dir):
    df = srcs.read_table(
        spark,
        csv_dir,
        "csv",
        schema="n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, n_comment STRING",
        options={"csv.include-header": "true", "csv.field-delimiter": ","},
    )
    assert df.count() == 25


def test_unsupported_format_raises(spark):
    with pytest.raises(ValueError):
        srcs.read_table(spark, "/tmp/x", "sequencefile")


def test_constraint_enforcer(spark):
    """ConstraintEnforcer.java parity: NOT NULL ERROR/DROP, CHAR(n)
    TRIM_PAD on the sink path."""
    import pytest as _pytest

    from flink_1_16_0_src_spark.sources import enforce_constraints

    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "toolongvalue")], "id int, name string"
    )
    # DROP: null row filtered
    dropped = enforce_constraints(df, not_null=["name"], not_null_enforcer="DROP")
    assert sorted(r.id for r in dropped.collect()) == [1, 3]
    # TRIM_PAD: truncated to length
    trimmed = enforce_constraints(
        df.where("name IS NOT NULL"), char_length={"name": 5}
    )
    assert {r.name for r in trimmed.collect()} == {"alpha", "toolo"}
    # ERROR: distributed raise on null
    with _pytest.raises(Exception, match="NOT NULL"):
        enforce_constraints(df, not_null=["name"]).collect()


def test_metadata_columns(spark):
    from flink_1_16_0_src_spark.sources import with_metadata_columns

    df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    out = with_metadata_columns(df)
    row = out.select("meta_file_name", "meta_file_size").first()
    assert row.meta_file_name == "nation.parquet" and row.meta_file_size > 0


def test_statement_set_shares_common_subplan(spark, tmp_path):
    """StatementSet parity (StreamCommonSubGraphBasedOptimizer): two
    INSERTs over the same aggregate compute the shared sub-plan once
    (persisted + CacheManager substitution), both sinks get correct
    rows, and the shared scan-only prefix is NOT cached."""
    from pyspark.sql import functions as F

    tenv = TableEnvironment(spark)
    s1, s2 = str(tmp_path / "hi"), str(tmp_path / "lo")
    tenv.execute_sql(
        f"CREATE TABLE sink_hi WITH ('connector'='filesystem','path'='{s1}','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE sink_lo WITH ('connector'='filesystem','path'='{s2}','format'='parquet')"
    )
    agg = (
        tables.load(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("total"))
    )
    ss = tenv.create_statement_set()
    ss.add_insert("sink_hi", agg.where(F.col("total") > 100000))
    ss.add_insert("sink_lo", agg.where(F.col("total") <= 100000))
    report = ss.execute()
    assert report == {"statements": 2, "shared_subplans": 1}
    hi = spark.read.parquet(s1)
    lo = spark.read.parquet(s2)
    assert hi.count() + lo.count() == agg.count()
    assert hi.where(F.col("total") <= 100000).count() == 0
    # a second set whose statements share only the bare scan caches nothing
    o = tables.load(spark, SF_DIR, "orders")
    ss2 = tenv.create_statement_set()
    tenv.execute_sql(
        f"CREATE TABLE sink_a WITH ('connector'='filesystem','path'='{tmp_path/'a'}','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE sink_b WITH ('connector'='filesystem','path'='{tmp_path/'b'}','format'='parquet')"
    )
    ss2.add_insert("sink_a", o.where(F.col("o_orderkey") % 2 == 0))
    ss2.add_insert("sink_b", o.where(F.col("o_orderkey") % 2 == 1))
    assert ss2.execute()["shared_subplans"] == 0


def test_partitioned_sink_and_pruned_read(tenv, spark, tmp_path):
    """PARTITIONED BY DDL (FileSystemTableSink.java:115 partitionKeys)
    → hive-layout directories; a filter on the partition key must be
    pruned at listing time (PartitionFilters), not scanned."""
    d = str(tmp_path / "orders_part")
    tenv.execute_sql(
        f"CREATE TABLE orders_part PARTITIONED BY (o_orderpriority) WITH ("
        f"'connector'='filesystem','path'='{d}','format'='parquet')"
    )
    tables.load(spark, SF_DIR, "orders").createOrReplaceTempView("orders_src")
    tenv.execute_sql(
        "INSERT INTO orders_part SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders_src"
    )
    # hive-style partition dirs exist
    assert any(p.startswith("o_orderpriority=") for p in os.listdir(d))

    back = spark.read.parquet(d)
    pri = back.select("o_orderpriority").distinct().count()
    assert pri == tables.load(spark, SF_DIR, "orders").select("o_orderpriority").distinct().count()

    filtered = back.where(back.o_orderpriority == "1-URGENT")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderpriority" in plan.split("PartitionFilters")[1][:200]
    exp = (
        tables.load(spark, SF_DIR, "orders")
        .where("o_orderpriority = '1-URGENT'")
        .count()
    )
    assert filtered.count() == exp


def test_compact_partitions_reduces_files(spark, tmp_path):
    """auto-compaction parity (FileSystemConnectorOptions.java:232):
    many small files → few near-target files, same rows."""
    d = str(tmp_path / "li_small")
    li = tables.load(spark, SF_DIR, "lineitem")
    li.repartition(24).write.parquet(d)
    before = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    assert before >= 24
    n_rows = li.count()
    after = srcs.compact_partitions(spark, d, target_file_size_bytes=64 * 1024 * 1024)
    assert after < before
    assert spark.read.parquet(d).count() == n_rows


def test_compact_partitions_partitioned(spark, tmp_path):
    d = str(tmp_path / "li_part_small")
    li = tables.load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
    li.repartition(16).write.partitionBy("l_returnflag").parquet(d)
    n_rows = li.count()
    srcs.compact_partitions(
        spark, d, partitioned_by=["l_returnflag"], target_file_size_bytes=64 * 1024 * 1024
    )
    back = spark.read.parquet(d)
    assert back.count() == n_rows
    assert {r.l_returnflag for r in back.select("l_returnflag").distinct().collect()} == {"A", "N", "R"}


def test_flink_join_hints_translate_to_spark_strategies(tenv, spark):
    """JoinStrategy.java:29-47 hint parity: Flink hint names steer
    Spark's physical join selection after translation."""
    from flink_1_16_0_src_spark.session import translate_hints

    tables.load(spark, SF_DIR, "nation").createOrReplaceTempView("h_nation")
    tables.load(spark, SF_DIR, "customer").createOrReplaceTempView("h_customer")

    def phys(sql):
        return tenv.sql_query(sql)._jdf.queryExecution().executedPlan().toString()

    broadcast = phys(
        "SELECT /*+ BROADCAST(h_nation) */ c_custkey, n_name "
        "FROM h_customer JOIN h_nation ON c_nationkey = n_nationkey"
    )
    assert "BroadcastHashJoin" in broadcast

    merge = phys(
        "SELECT /*+ SHUFFLE_MERGE(h_nation) */ c_custkey, n_name "
        "FROM h_customer JOIN h_nation ON c_nationkey = n_nationkey"
    )
    assert "SortMergeJoin" in merge

    hashj = phys(
        "SELECT /*+ SHUFFLE_HASH(h_nation) */ c_custkey, n_name "
        "FROM h_customer JOIN h_nation ON c_nationkey = n_nationkey"
    )
    assert "ShuffledHashJoin" in hashj

    # OPTIONS table hint is stripped, remaining hints survive
    assert translate_hints(
        "SELECT /*+ OPTIONS('scan.mode'='latest'), BROADCAST(t) */ * FROM t"
    ) == "SELECT /*+ BROADCAST(t) */ * FROM t"
    assert translate_hints("SELECT /*+ OPTIONS('a'='b') */ * FROM t") == "SELECT  * FROM t"
    assert translate_hints(
        "SELECT /*+ NEST_LOOP(t) */ * FROM t JOIN u ON t.a < u.b"
    ) == "SELECT /*+ SHUFFLE_REPLICATE_NL(t) */ * FROM t JOIN u ON t.a < u.b"


def test_list_partitions(spark, tmp_path):
    d = str(tmp_path / "part_listing")
    li = tables.load(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    li.write.partitionBy("l_returnflag", "l_linestatus").parquet(d)
    parts = srcs.list_partitions(d)
    flags = {(p["l_returnflag"], p["l_linestatus"]) for p in parts}
    exp = {
        (r.l_returnflag, r.l_linestatus)
        for r in li.select("l_returnflag", "l_linestatus").distinct().collect()
    }
    assert flags == exp and all(len(p) == 2 for p in parts)


def test_kafka_option_mapping_offline():
    """KafkaDynamicSource option translation (no broker needed)."""
    opts = srcs.kafka_options(
        {
            "topic": "orders",
            "properties.bootstrap.servers": "b1:9092,b2:9092",
            "scan.startup.mode": "earliest-offset",
            "properties.group.id": "g1",
        }
    )
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "orders",
        "startingOffsets": "earliest",
        "kafka.group.id": "g1",
    }
    assert srcs.kafka_options({"topic-pattern": "o.*"})["subscribePattern"] == "o.*"
    assert (
        srcs.kafka_options(
            {"scan.startup.mode": "timestamp", "scan.startup.timestamp-millis": "123"}
        )["startingTimestamp"]
        == "123"
    )
    import json

    assert json.loads(
        srcs.kafka_options(
            {
                "topic": "orders",
                "scan.startup.mode": "specific-offsets",
                "scan.startup.specific-offsets": "partition:0,offset:42;partition:1,offset:300",
            }
        )["startingOffsets"]
    ) == {"orders": {"0": 42, "1": 300}}
    # default: group-offsets has no Spark analog -> latest
    assert srcs.kafka_options({})["startingOffsets"] == "latest"


def test_jdbc_option_mapping_offline():
    """JdbcDynamicTableFactory option translation (no database needed)."""
    opts = srcs.jdbc_options(
        {
            "connector": "jdbc",
            "url": "jdbc:postgresql://db:5432/mydb",
            "table-name": "orders",
            "driver": "org.postgresql.Driver",
            "username": "u",
            "password": "p",
            "scan.partition.column": "o_orderkey",
            "scan.partition.num": "32",
            "scan.partition.lower-bound": "1",
            "scan.partition.upper-bound": "600000",
            "scan.fetch-size": "1000",
        }
    )
    assert opts == {
        "url": "jdbc:postgresql://db:5432/mydb",
        "dbtable": "orders",
        "driver": "org.postgresql.Driver",
        "user": "u",
        "password": "p",
        "partitionColumn": "o_orderkey",
        "numPartitions": "32",
        "lowerBound": "1",
        "upperBound": "600000",
        "fetchsize": "1000",
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="table-name"):
        srcs.jdbc_options({"url": "jdbc:h2:mem:x"})


def test_jdbc_ddl_roundtrip(tenv):
    """DDL with connector=jdbc registers a lazy source + sink spec —
    no connection is made at DDL time (JdbcDynamicTableSource only
    connects when the scan runs)."""
    out = tenv.execute_sql(
        """
        CREATE TABLE jdbc_orders (o_orderkey BIGINT, o_totalprice DOUBLE) WITH (
          'connector' = 'jdbc',
          'url' = 'jdbc:postgresql://nonexistent:5432/nope',
          'table-name' = 'orders',
          'username' = 'u',
          'password' = 'p'
        )
        """
    )
    assert out is None
    assert tenv._sources["jdbc_orders"]["table-name"] == "orders"
    assert tenv._sinks["jdbc_orders"]["connector"] == "jdbc"
    # first use connects -> fails fast against the nonexistent host
    import pytest as _pytest

    with _pytest.raises(Exception):
        tenv.table("jdbc_orders").collect()


def test_ctas_jdbc_roundtrip_and_append(tenv, spark, tmp_path):
    """CTAS into a jdbc table (r12, VERDICT r11 #7): the query result
    lands in the database through the sink path, the registered table
    reads BACK from jdbc (durable rows, not the plan), and a follow-up
    INSERT INTO appends through the same sink registration — the
    connector matrix of INSERT INTO now covers CTAS."""
    url = f"jdbc:derby:{tmp_path}/ctasdb;create=true"
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        "id bigint, k string, v double",
    ).createOrReplaceTempView("ctas_src_t")
    tenv.execute_sql(
        f"""
        CREATE TABLE ctas_jdbc_t WITH (
          'connector' = 'jdbc',
          'url' = '{url}',
          'table-name' = 'ctas_t',
          'driver' = 'org.apache.derby.jdbc.EmbeddedDriver'
        ) AS SELECT k, count(*) AS n FROM ctas_src_t GROUP BY k
        """
    )
    got = sorted((r.k, r.n) for r in spark.table("ctas_jdbc_t").collect())
    assert got == [("a", 2), ("b", 1)]
    assert tenv._sinks["ctas_jdbc_t"]["connector"] == "jdbc"
    tenv.execute_sql("INSERT INTO ctas_jdbc_t SELECT 'z' AS k, 9 AS n")
    # read-back is live jdbc — the appended row is visible
    got2 = sorted((r.k, r.n) for r in spark.table("ctas_jdbc_t").collect())
    assert got2 == [("a", 2), ("b", 1), ("z", 9)]


def test_explain_plan_for_translation(tenv, spark):
    tables.load(spark, SF_DIR, "region").createOrReplaceTempView("e_region")
    out = tenv.execute_sql("EXPLAIN PLAN FOR SELECT count(*) AS c FROM e_region")
    text = out.collect()[0][0]
    assert "Physical Plan" in text or "Aggregate" in text


def test_insert_into_appends_overwrite_replaces(tenv, spark, tmp_path):
    """SqlInsert.isOverwrite parity: INTO appends, OVERWRITE replaces."""
    d = str(tmp_path / "ins_modes")
    tenv.execute_sql(
        f"CREATE TABLE ins_sink WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    tables.load(spark, SF_DIR, "region").createOrReplaceTempView("ins_region")
    tenv.execute_sql("INSERT INTO ins_sink SELECT * FROM ins_region")
    tenv.execute_sql("INSERT INTO ins_sink SELECT * FROM ins_region")
    n = tables.load(spark, SF_DIR, "region").count()
    assert spark.read.parquet(d).count() == 2 * n
    tenv.execute_sql("INSERT OVERWRITE ins_sink SELECT * FROM ins_region")
    assert spark.read.parquet(d).count() == n


def test_ddl_watermark_wired_to_stream(tenv, spark, tmp_path):
    """SqlWatermark.java: the DDL WATERMARK clause reaches the
    streaming read as withWatermark (EventTimeWatermark node), while
    the batch view is unaffected."""
    d = str(tmp_path / "wm_events")
    tables.load(spark, SF_DIR, "events").select("event_id", "ts", "value").write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE wm_events (event_id BIGINT, ts TIMESTAMP, value DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    assert tenv._watermarks["wm_events"] == ("ts", "5 SECONDS")
    sdf = tenv.stream("wm_events")
    assert sdf.isStreaming
    plan = sdf._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan and "5 seconds" in plan
    # batch view still works and has no watermark concept
    assert tenv.sql_query("SELECT count(*) AS c FROM wm_events").collect()[0].c > 0


# ---- Kafka contract tests (broker-less, VERDICT r1 item 8) ----------------
#
# A stand-in frame with the EXACT column set Spark's kafka source emits
# (key/value binary + topic/partition/offset/timestamp/timestampType)
# drives the full post-source contract: format deserialization →
# watermark → window agg → upsert changelog. kafka_value_decode is pure
# column expressions, so the same code path runs against a live broker.

_KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def _kafka_frame(spark, records):
    """records: (key_str|None, value_str|None, offset, ts_str)."""
    rows = [
        (
            k.encode() if k is not None else None,
            v.encode() if v is not None else None,
            "orders",
            0,
            off,
            __import__("datetime").datetime.fromisoformat(ts),
            0,
        )
        for k, v, off, ts in records
    ]
    return spark.createDataFrame(rows, _KAFKA_WIRE_SCHEMA)


def test_kafka_value_decode_json_and_metadata(spark):
    raw = _kafka_frame(
        spark,
        [
            (None, '{"id": 1, "amount": 10.5}', 0, "2024-01-01T00:00:01"),
            (None, '{"id": 2, "amount": 3.25}', 1, "2024-01-01T00:00:02"),
        ],
    )
    out = srcs.kafka_value_decode(
        raw, "id BIGINT, amount DOUBLE", fmt="json", metadata={"ts": "timestamp"}
    )
    got = {(r.id, r.amount, r.ts.isoformat()) for r in out.collect()}
    assert got == {
        (1, 10.5, "2024-01-01T00:00:01"),
        (2, 3.25, "2024-01-01T00:00:02"),
    }


def test_kafka_value_decode_key_fields_except_key_csv_raw(spark):
    # key.fields + EXCEPT_KEY: id from the key, amount from the value
    raw = _kafka_frame(spark, [('{"id": 7}', '{"amount": 1.5}', 0, "2024-01-01T00:00:01")])
    out = srcs.kafka_value_decode(
        raw,
        "id BIGINT, amount DOUBLE",
        fmt="json",
        props={"key.fields": "id", "value.fields-include": "EXCEPT_KEY"},
    )
    assert [tuple(r) for r in out.collect()] == [(7, 1.5)]
    # csv value format
    raw = _kafka_frame(spark, [(None, "3,hello", 0, "2024-01-01T00:00:01")])
    out = srcs.kafka_value_decode(raw, "id BIGINT, msg STRING", fmt="csv")
    assert [tuple(r) for r in out.collect()] == [(3, "hello")]
    # raw single-column format
    raw = _kafka_frame(spark, [(None, "payload", 0, "2024-01-01T00:00:01")])
    out = srcs.kafka_value_decode(raw, "body STRING", fmt="raw")
    assert [tuple(r) for r in out.collect()] == [("payload",)]


def test_kafka_contract_stream_window_and_upsert(spark, tmp_path):
    """End-to-end broker-less contract: kafka-wire parquet → readStream
    (the MemoryStream stand-in) → kafka_value_decode → withWatermark →
    TUMBLE agg; and the upsert-kafka half: tombstone decode →
    changelog_normalize → +I/-U/+U/-D changelog."""
    from flink_1_16_0_src_spark.streaming import sources as ssrc
    from flink_1_16_0_src_spark.streaming import windows as swin
    from flink_1_16_0_src_spark.streaming.stateful import changelog_normalize
    from pyspark.sql import functions as F

    records = [
        ('{"id": 1}', '{"amount": 10.0, "ts": "2024-01-01 00:10:00"}', 0, "2024-01-01T00:10:00"),
        ('{"id": 1}', '{"amount": 12.0, "ts": "2024-01-01 00:20:00"}', 1, "2024-01-01T00:20:00"),
        ('{"id": 2}', '{"amount": 5.0, "ts": "2024-01-01 01:05:00"}', 2, "2024-01-01T01:05:00"),
        ('{"id": 1}', None, 3, "2024-01-01T02:30:00"),  # tombstone for id=1
        ('{"id": 3}', '{"amount": 7.5, "ts": "2024-01-01 03:40:00"}', 4, "2024-01-01T03:40:00"),
    ]
    wire_dir = str(tmp_path / "kafka_wire")
    _kafka_frame(spark, records).write.parquet(wire_dir)
    props = {"key.fields": "id", "value.fields-include": "EXCEPT_KEY"}
    ddl = "id BIGINT, amount DOUBLE, ts TIMESTAMP"

    stream = spark.readStream.schema(_KAFKA_WIRE_SCHEMA).parquet(wire_dir)

    # windowed-agg half (append mode, event-time from the payload)
    decoded = srcs.kafka_value_decode(stream, ddl, fmt="json", props=props)
    windowed = swin.tumble_agg(
        decoded.where(F.col("amount").isNotNull()).withWatermark("ts", "10 minutes"),
        "ts", "1 hour", [],
        F.count("*").alias("n"), F.round(F.sum("amount"), 2).alias("total"),
    )
    got = ssrc.run_to_memory(windowed, "kafka_win", "append")
    rows = {(r.window_start.isoformat(), r.n, r.total) for r in got.collect()}
    # watermark after drain = 03:40 - 10min -> the 00:00 and 01:00
    # windows are closed; 03:00 is not
    assert rows == {("2024-01-01T00:00:00", 2, 22.0), ("2024-01-01T01:00:00", 1, 5.0)}

    # upsert half: tombstone → -D via changelog_normalize; payload ts is
    # NULL for tombstones, so sequence on the kafka TIMESTAMP metadata
    upsert = srcs.kafka_value_decode(
        spark.readStream.schema(_KAFKA_WIRE_SCHEMA).parquet(wire_dir),
        ddl, fmt="json", props=props, tombstones=True,
        metadata={"kts": "timestamp"},
    )
    changelog = changelog_normalize(
        upsert.select("id", "amount", "kts", "__tombstone"),
        ["id"], order_col="kts", delete_col="__tombstone",
    )
    out = ssrc.run_to_memory(changelog, "kafka_upsert", "append")
    got_log = [
        (r["id"], r["amount"], r["__rowkind"])
        for r in out.orderBy("id", "kts", "__rowkind").collect()
    ]
    assert (1, 10.0, "+I") in got_log and (1, 12.0, "+U") in got_log
    assert any(k == 1 and rk == "-D" for k, _, rk in got_log)
    assert (2, 5.0, "+I") in got_log and (3, 7.5, "+I") in got_log


def test_insert_static_partition(tenv, spark, tmp_path):
    """INSERT INTO sink PARTITION (dt='batchA') SELECT ... — the
    static partition value lands as a constant column on every row and
    the sink writes hive-style dt=... directories (Flink SqlInsert
    static partitions)."""
    sink_dir = str(tmp_path / "static_part_sink")
    tables.load(spark, SF_DIR, "orders").createOrReplaceTempView("sp_src")
    tenv.execute_sql(
        f"CREATE TABLE sp_sink (k BIGINT, dt STRING) "
        f"WITH ('connector'='filesystem', 'path'='{sink_dir}', 'format'='parquet')"
    )
    tenv.execute_sql(
        "INSERT INTO sp_sink PARTITION (dt='batchA') "
        "SELECT o_orderkey AS k FROM sp_src WHERE o_orderkey < 10"
    )
    got = spark.read.parquet(sink_dir)
    rows = got.collect()
    assert all(r.dt == "batchA" for r in rows) and len(rows) > 0
    import os

    assert any(d.startswith("dt=") for d in os.listdir(sink_dir))
    # second static partition appends alongside the first
    tenv.execute_sql(
        "INSERT INTO sp_sink PARTITION (dt='batchB') "
        "SELECT o_orderkey AS k FROM sp_src WHERE o_orderkey < 5"
    )
    dts = {r.dt for r in spark.read.parquet(sink_dir).collect()}
    assert dts == {"batchA", "batchB"}


def test_create_table_as_select(tenv, spark, tmp_path):
    """CTAS (FLIP-218, Flink 1.16 SqlCreateTableAs): CREATE TABLE ...
    WITH (filesystem) AS SELECT writes the query result to the path
    and registers the table; the connector-less form registers a
    lazy view."""
    d = str(tmp_path / "ctas_out")
    tables.load(spark, SF_DIR, "orders").createOrReplaceTempView("ctas_src")
    df = tenv.execute_sql(
        f"CREATE TABLE ctas_tbl WITH ('connector'='filesystem','path'='{d}',"
        f"'format'='parquet') AS SELECT o_orderkey, o_totalprice FROM ctas_src "
        f"WHERE o_orderkey < 100"
    )
    n = df.count()
    assert n > 0
    # durable: the path holds the rows, and SQL resolves the name
    assert spark.read.parquet(d).count() == n
    assert tenv.sql_query("SELECT count(*) AS c FROM ctas_tbl").collect()[0].c == n
    # connector-less CTAS -> lazy view
    tenv.execute_sql("CREATE TABLE ctas_view AS SELECT 1 AS one")
    assert tenv.sql_query("SELECT * FROM ctas_view").collect()[0].one == 1


def test_kafka_value_encode_roundtrip_and_tombstones(spark):
    """Sink-side serialization: encode → decode round-trips, EXCEPT_KEY
    splits columns between key and value, and changelog input emits a
    NULL-value tombstone for -D while dropping -U (upsert-kafka sink
    semantics)."""
    from pyspark.sql import functions as F

    ddl = "id BIGINT, amount DOUBLE"
    props = {"key.fields": "id", "value.fields-include": "EXCEPT_KEY"}
    rows = spark.createDataFrame(
        [(1, 10.0, "+I"), (1, 11.0, "-U"), (1, 12.0, "+U"), (2, 5.0, "-D")],
        "id long, amount double, __rowkind string",
    )
    wire = srcs.kafka_value_encode(rows, ddl, fmt="json", props=props, rowkind_col="__rowkind")
    got = wire.collect()
    # -U dropped -> 3 records; -D has NULL value but a real key
    assert len(got) == 3
    tomb = [r for r in got if r.value is None]
    assert len(tomb) == 1 and bytes(tomb[0].key) == b'{"id":2}'
    # round-trip the non-tombstone records through the decoder
    frame = wire.select(
        "key", "value", F.lit("t").alias("topic"), F.lit(0).alias("partition"),
        F.lit(0).cast("long").alias("offset"),
        F.lit(None).cast("timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    back = srcs.kafka_value_decode(frame, ddl, fmt="json", props=props, tombstones=True)
    vals = {(r["id"], r["amount"], r["__tombstone"]) for r in back.collect()}
    assert vals == {(1, 10.0, False), (1, 12.0, False), (2, None, True)}
    # csv value format encodes the value columns positionally
    csv_wire = srcs.kafka_value_encode(
        spark.createDataFrame([(7, 1.5)], "id long, amount double"), ddl, fmt="csv"
    ).collect()[0]
    assert bytes(csv_wire.value) == b"7,1.5"


def test_ddl_metadata_column_parsing(tenv):
    """`c TYPE METADATA [FROM 'key']` columns (SqlMetadataColumn) are
    split out of the payload schema; the kafka decode path would route
    them from connector metadata. Verified at the parse level via a
    filesystem DDL (payload schema excludes the metadata column)."""
    import re as _re

    from flink_1_16_0_src_spark.session import TableEnvironment

    # reuse the internal regex path through execute_sql on a filesystem
    # table: METADATA columns must not reach the reader schema
    df = tenv.execute_sql(
        f"CREATE TABLE md_nation (n_nationkey BIGINT, n_name STRING, "
        f"n_regionkey BIGINT, n_comment STRING, "
        f"ingest_ts TIMESTAMP METADATA FROM 'timestamp') WITH ("
        f"'connector'='filesystem','path'='{SF_DIR}/nation.parquet','format'='parquet')"
    )
    assert df.count() == 25
    assert "ingest_ts" not in df.columns  # filesystem has no kafka metadata


def test_kafka_cdc_formats_debezium_and_canal(spark):
    """CDC envelope decoding (DebeziumJson/CanalJson deserialization
    schemas): op codes map to __rowkind, deletes surface the BEFORE
    image, canal's data array explodes to one row each — ready for
    changelog consumers."""
    ddl = "id BIGINT, v DOUBLE"
    dbz = _kafka_frame(spark, [
        (None, '{"before": null, "after": {"id": 1, "v": 1.0}, "op": "c"}', 0, "2024-01-01T00:00:00"),
        (None, '{"before": {"id": 1, "v": 1.0}, "after": {"id": 1, "v": 2.0}, "op": "u"}', 1, "2024-01-01T00:00:01"),
        (None, '{"before": {"id": 1, "v": 2.0}, "after": null, "op": "d"}', 2, "2024-01-01T00:00:02"),
        (None, '{"before": null, "after": {"id": 2, "v": 9.0}, "op": "r"}', 3, "2024-01-01T00:00:03"),
    ])
    got = {(r["id"], r["v"], r["__rowkind"])
           for r in srcs.kafka_value_decode(dbz, ddl, fmt="debezium-json").collect()}
    # op='u' emits BOTH the -U before image and the +U after image
    # (DebeziumJsonDeserializationSchema's UPDATE_BEFORE/UPDATE_AFTER pair)
    assert got == {(1, 1.0, "+I"), (1, 1.0, "-U"), (1, 2.0, "+U"), (1, 2.0, "-D"), (2, 9.0, "+I")}

    canal = _kafka_frame(spark, [
        (None, '{"data": [{"id": 3, "v": 5.0}, {"id": 4, "v": 6.0}], "type": "INSERT"}', 0, "2024-01-01T00:00:00"),
        (None, '{"data": [{"id": 3, "v": 7.0}], "old": [{"v": 5.0}], "type": "UPDATE"}', 1, "2024-01-01T00:00:01"),
        (None, '{"data": [{"id": 4, "v": 6.0}], "type": "DELETE"}', 2, "2024-01-01T00:00:02"),
    ])
    got = {(r["id"], r["v"], r["__rowkind"])
           for r in srcs.kafka_value_decode(canal, ddl, fmt="canal-json").collect()}
    # the -U image is data patched with canal's sparse "old" field
    assert got == {(3, 5.0, "+I"), (4, 6.0, "+I"), (3, 5.0, "-U"), (3, 7.0, "+U"), (4, 6.0, "-D")}


def test_kafka_cdc_format_ogg(spark):
    """ogg-json (flink-formats/flink-json/.../ogg/
    OggJsonDeserializationSchema.java): GoldenGate's before/after/op_type
    envelope, op_type I/U/D; U emits the -U/+U pair."""
    ddl = "id BIGINT, v DOUBLE"
    ogg = _kafka_frame(spark, [
        (None, '{"before": null, "after": {"id": 1, "v": 1.0}, "op_type": "I"}', 0, "2024-01-01T00:00:00"),
        (None, '{"before": {"id": 1, "v": 1.0}, "after": {"id": 1, "v": 2.0}, "op_type": "U"}', 1, "2024-01-01T00:00:01"),
        (None, '{"before": {"id": 1, "v": 2.0}, "after": null, "op_type": "D"}', 2, "2024-01-01T00:00:02"),
        (None, '{"before": null, "after": {"id": 2, "v": 9.0}, "op_type": "I"}', 3, "2024-01-01T00:00:03"),
    ])
    got = {(r["id"], r["v"], r["__rowkind"])
           for r in srcs.kafka_value_decode(ogg, ddl, fmt="ogg-json").collect()}
    assert got == {(1, 1.0, "+I"), (1, 1.0, "-U"), (1, 2.0, "+U"), (1, 2.0, "-D"), (2, 9.0, "+I")}


def test_cdc_changelog_retraction_sum(spark):
    """The reason updates carry -U: a SUM over the changelog with the
    before image retracted equals the table's true final sum — without
    -U an updated key double-counts (ADVICE r2)."""
    from pyspark.sql import functions as F

    ddl = "id BIGINT, v DOUBLE"
    dbz = _kafka_frame(spark, [
        (None, '{"before": null, "after": {"id": 1, "v": 10.0}, "op": "c"}', 0, "2024-01-01T00:00:00"),
        (None, '{"before": null, "after": {"id": 2, "v": 5.0}, "op": "c"}', 1, "2024-01-01T00:00:01"),
        (None, '{"before": {"id": 1, "v": 10.0}, "after": {"id": 1, "v": 7.0}, "op": "u"}', 2, "2024-01-01T00:00:02"),
    ])
    decoded = srcs.kafka_value_decode(dbz, ddl, fmt="debezium-json")
    signed = decoded.withColumn(
        "sv",
        F.when(F.col("__rowkind").isin("-U", "-D"), -F.col("v")).otherwise(F.col("v")),
    )
    assert signed.agg(F.sum("sv")).collect()[0][0] == 12.0  # 7 + 5, not 22


def test_cdc_end_to_end_upsert_materialization(spark, tmp_path):
    """Full CDC path: debezium-json kafka frames → decode (__rowkind) →
    foreachBatch upsert materializer with delete handling. Final table
    = last image per key minus deleted keys."""
    from pyspark.sql import functions as F

    from flink_1_16_0_src_spark.streaming.stateful import foreach_batch_upsert

    records = [
        (None, '{"before": null, "after": {"id": 1, "v": 1.0}, "op": "c"}', 0, "2024-01-01T00:00:00"),
        (None, '{"before": null, "after": {"id": 2, "v": 2.0}, "op": "c"}', 1, "2024-01-01T00:00:01"),
        (None, '{"before": {"id": 1, "v": 1.0}, "after": {"id": 1, "v": 10.0}, "op": "u"}', 2, "2024-01-01T00:00:02"),
        (None, '{"before": {"id": 2, "v": 2.0}, "after": null, "op": "d"}', 3, "2024-01-01T00:00:03"),
        (None, '{"before": null, "after": {"id": 3, "v": 3.0}, "op": "c"}', 4, "2024-01-01T00:00:04"),
    ]
    wire_dir = str(tmp_path / "cdc_wire")
    _kafka_frame(spark, records).write.parquet(wire_dir)
    stream = spark.readStream.schema(_KAFKA_WIRE_SCHEMA).parquet(wire_dir)
    decoded = (
        srcs.kafka_value_decode(
            stream, "id BIGINT, v DOUBLE", fmt="debezium-json", metadata={"off": "offset"}
        )
        # upsert consumers drop UPDATE_BEFORE (same UB suppression as
        # kafka_value_encode and Flink's upsert sinks)
        .where(F.col("__rowkind") != "-U")
        .withColumn("is_delete", F.col("__rowkind") == "-D")
    )
    target = str(tmp_path / "cdc_table")
    q = (
        decoded.writeStream.foreachBatch(
            foreach_batch_upsert(target, ["id"], "off", delete_col="is_delete")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {(r["id"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, 10.0), (3, 3.0)}  # id=2 deleted, id=1 updated


def test_kafka_encode_decode_property_roundtrip(spark):
    """Property: for arbitrary rows, json encode → decode is the
    identity, in both ALL and EXCEPT_KEY column routings."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    ddl = "id BIGINT, name STRING, score DOUBLE"

    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=-10**9, max_value=10**9),
                st.text(alphabet="abcXYZ 09_", min_size=0, max_size=12),
                st.floats(allow_nan=False, allow_infinity=False, width=32),
            ),
            min_size=1,
            max_size=6,
            unique_by=lambda t: t[0],
        ),
        routing=st.sampled_from([{}, {"key.fields": "id", "value.fields-include": "EXCEPT_KEY"}]),
    )
    def check(rows, routing):
        df = spark.createDataFrame(rows, ddl)
        wire = srcs.kafka_value_encode(df, ddl, fmt="json", props=routing)
        frame = wire.select(
            "key", "value", F.lit("t").alias("topic"), F.lit(0).alias("partition"),
            F.lit(0).cast("long").alias("offset"),
            F.lit(None).cast("timestamp").alias("timestamp"), F.lit(0).alias("timestampType"),
        )
        back = srcs.kafka_value_decode(frame, ddl, fmt="json", props=routing)
        got = sorted(tuple(r) for r in back.collect())
        exp = sorted((i, n, float(s)) for i, n, s in rows)
        assert len(got) == len(exp)
        for (gi, gn, gs), (ei, en, es) in zip(got, exp):
            assert gi == ei and gn == en
            assert gs == pytest.approx(es, rel=1e-6, abs=1e-6)

    check()


def test_ddl_computed_column(tenv, spark):
    """Computed columns (`c AS expr`, SqlComputedColumn): evaluated on
    read; PROCTIME() maps to current_timestamp()."""
    df = tenv.execute_sql(
        f"CREATE TABLE cc_nation (n_nationkey BIGINT, n_name STRING, "
        f"n_regionkey BIGINT, n_comment STRING, "
        f"key_sq AS n_nationkey * n_nationkey, "
        f"ptime AS PROCTIME()) WITH ("
        f"'connector'='filesystem','path'='{SF_DIR}/nation.parquet','format'='parquet')"
    )
    rows = df.collect()
    assert all(r.key_sq == r.n_nationkey ** 2 for r in rows)
    assert all(r.ptime is not None for r in rows)
    assert tenv.sql_query(
        "SELECT max(key_sq) AS m FROM cc_nation"
    ).collect()[0].m == max(r.n_nationkey for r in rows) ** 2


def test_kafka_maxwell_and_bounded_mode(spark):
    ddl = "id BIGINT, v DOUBLE"
    mx = _kafka_frame(spark, [
        (None, '{"data": {"id": 1, "v": 1.5}, "type": "insert"}', 0, "2024-01-01T00:00:00"),
        (None, '{"data": {"id": 1, "v": 2.5}, "old": {"v": 1.5}, "type": "update"}', 1, "2024-01-01T00:00:01"),
        (None, '{"data": {"id": 1, "v": 2.5}, "type": "delete"}', 2, "2024-01-01T00:00:02"),
    ])
    got = [(r["id"], r["v"], r["__rowkind"])
           for r in srcs.kafka_value_decode(mx, ddl, fmt="maxwell-json").collect()]
    # update = -U (data patched with maxwell's sparse "old") then +U
    assert sorted(got) == [(1, 1.5, "+I"), (1, 1.5, "-U"), (1, 2.5, "+U"), (1, 2.5, "-D")]
    # bounded scan mode -> endingOffsets/endingTimestamp
    assert srcs.kafka_options({"scan.bounded.mode": "latest-offset"})["endingOffsets"] == "latest"
    assert srcs.kafka_options(
        {"scan.bounded.mode": "timestamp", "scan.bounded.timestamp-millis": "99"}
    )["endingTimestamp"] == "99"


def test_ddl_decimal_and_comma_expr_columns(tenv, spark, tmp_path):
    """Paren-aware schema splitting: DECIMAL(p,s) types and computed
    expressions containing commas survive DDL parsing."""
    d = str(tmp_path / "dec_src")
    spark.createDataFrame([(1, "7.25")], "id long, amt string").write.json(d)
    df = tenv.execute_sql(
        f"CREATE TABLE dec_tbl (id BIGINT, amt DECIMAL(10,2), "
        f"amt2 AS round(amt * 2, 1)) WITH ("
        f"'connector'='filesystem','path'='{d}','format'='json')"
    )
    r = df.collect()[0]
    assert str(r.amt) == "7.25" and float(r.amt2) == 14.5


def test_cdc_end_to_end_upsert_materialization_ogg(spark, tmp_path):
    """ogg-json e2e: decode → UB suppression → foreachBatch upsert
    materializer with delete handling (mirror of the debezium e2e)."""
    from pyspark.sql import functions as F

    from flink_1_16_0_src_spark.streaming.stateful import foreach_batch_upsert

    records = [
        (None, '{"before": null, "after": {"id": 1, "v": 1.0}, "op_type": "I"}', 0, "2024-01-01T00:00:00"),
        (None, '{"before": null, "after": {"id": 2, "v": 2.0}, "op_type": "I"}', 1, "2024-01-01T00:00:01"),
        (None, '{"before": {"id": 1, "v": 1.0}, "after": {"id": 1, "v": 10.0}, "op_type": "U"}', 2, "2024-01-01T00:00:02"),
        (None, '{"before": {"id": 2, "v": 2.0}, "after": null, "op_type": "D"}', 3, "2024-01-01T00:00:03"),
        (None, '{"before": null, "after": {"id": 3, "v": 3.0}, "op_type": "I"}', 4, "2024-01-01T00:00:04"),
    ]
    wire_dir = str(tmp_path / "ogg_wire")
    _kafka_frame(spark, records).write.parquet(wire_dir)
    stream = spark.readStream.schema(_KAFKA_WIRE_SCHEMA).parquet(wire_dir)
    decoded = (
        srcs.kafka_value_decode(
            stream, "id BIGINT, v DOUBLE", fmt="ogg-json", metadata={"off": "offset"}
        )
        .where(F.col("__rowkind") != "-U")
        .withColumn("is_delete", F.col("__rowkind") == "-D")
    )
    target = str(tmp_path / "ogg_table")
    q = (
        decoded.writeStream.foreachBatch(
            foreach_batch_upsert(target, ["id"], "off", delete_col="is_delete")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ogg_ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {(r["id"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, 10.0), (3, 3.0)}


def test_ctas_filesystem_requires_path(tenv):
    with pytest.raises(ValueError, match="path"):
        tenv.execute_sql(
            "CREATE TABLE ctas_nopath WITH ('connector'='filesystem') "
            "AS SELECT 1 AS x"
        )
    with pytest.raises(ValueError, match="path"):
        tenv.execute_sql("CREATE TABLE t_nopath WITH ('connector'='filesystem')")


def test_insert_static_partition_typed(tenv, spark, tmp_path):
    """Static partition values are typed to the DDL-declared column
    type (r2 ADVICE): an INT partition column written via
    PARTITION (p=3) must read back as INT, not string."""
    d = str(tmp_path / "typed_part")
    tenv.execute_sql(
        f"CREATE TABLE typed_part (v DOUBLE, p INT) PARTITIONED BY (p) WITH ("
        f"'connector'='filesystem','path'='{d}','format'='parquet')"
    )
    tenv.execute_sql("INSERT INTO typed_part PARTITION (p=3) SELECT 1.5 AS v")
    back = spark.read.parquet(d)
    row = back.collect()[0]
    # partition-discovery may widen, but it must be NUMERIC, not string
    assert dict(back.dtypes)["p"] in ("int", "bigint")
    assert (row.v, row.p) == (1.5, 3)


def test_set_reset_statements(spark):
    """Flink SET / RESET statement parity (SqlSet/SqlReset): quoted
    key-value pairs reach spark.conf; Flink-only table.* keys still
    store and list; RESET unsets."""
    tenv = TableEnvironment(spark)
    tenv.execute_sql("SET 'spark.sql.shuffle.partitions' = '7'")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    tenv.execute_sql("SET 'table.exec.state.ttl' = '1 h'")
    listed = {(r.key, r.value) for r in tenv.execute_sql("SET").collect()}
    assert ("spark.sql.shuffle.partitions", "7") in listed
    assert ("table.exec.state.ttl", "1 h") in listed
    tenv.execute_sql("RESET 'spark.sql.shuffle.partitions'")
    assert spark.conf.get("spark.sql.shuffle.partitions") != "7"
    tenv.execute_sql("RESET")
    assert tenv.execute_sql("SET").count() == 0


def test_ddl_source_watermark_rejected(tenv, tmp_path):
    """SOURCE_WATERMARK() (BuiltInFunctionDefinitions.java:132) is a
    connector-replaced marker; no connector here provides one, so DDL
    declaring it fails like the reference's default implementation."""
    import pytest
    with pytest.raises(ValueError, match="SOURCE_WATERMARK"):
        tenv.execute_sql(
            "CREATE TABLE swm_events (ts TIMESTAMP,"
            " WATERMARK FOR ts AS SOURCE_WATERMARK())"
            f" WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet')"
        )


def test_explain_details_modes(tenv, spark):
    """EXPLAIN ESTIMATED_COST / CHANGELOG_MODE / JSON_EXECUTION_PLAN
    (SqlRichExplain ExplainDetails, explain.md): cost mode carries
    optimizer Statistics, changelog mode states the insert-only
    contract, JSON mode emits a parseable execution plan."""
    import json

    tables.load(spark, SF_DIR, "region").createOrReplaceTempView("exp_region")
    cost = tenv.execute_sql(
        "EXPLAIN ESTIMATED_COST SELECT count(*) AS c FROM exp_region"
    ).collect()[0].plan
    assert "Statistics(" in cost
    both = tenv.execute_sql(
        "EXPLAIN CHANGELOG_MODE, JSON_EXECUTION_PLAN "
        "SELECT r_regionkey, count(*) AS c FROM exp_region GROUP BY r_regionkey"
    ).collect()[0].plan
    assert "changelogMode=[I]" in both
    js = both.rsplit("\n\n", 1)[-1]  # the JSON plan is the last block
    assert isinstance(json.loads(js), list) and len(json.loads(js)) > 0


def test_create_drop_function_sql(tenv):
    """CREATE/DROP [TEMPORARY] FUNCTION DDL (SqlCreateFunction.java):
    dotted-path import, IF NOT EXISTS short-circuit, LANGUAGE
    JAVA rejected, DROP removes it."""
    import pytest

    tenv.execute_sql(
        "CREATE TEMPORARY FUNCTION t_digit_sum AS "
        "'flink_1_16_0_src_spark.functions.udf_examples.digit_sum'"
    )
    got = tenv.sql_query("SELECT t_digit_sum(1234) AS s").collect()[0].s
    assert got == "10" or got == 10  # untyped register defaults to string
    # IF NOT EXISTS: second create is a no-op, not an error
    tenv.execute_sql(
        "CREATE FUNCTION IF NOT EXISTS t_digit_sum AS "
        "'flink_1_16_0_src_spark.functions.udf_examples.digit_sum'"
    )
    with pytest.raises(ValueError, match="only PYTHON"):
        tenv.execute_sql(
            "CREATE FUNCTION j AS 'org.example.Fn' LANGUAGE JAVA"
        )
    tenv.execute_sql("DROP TEMPORARY FUNCTION IF EXISTS t_digit_sum")
    tenv.execute_sql("DROP FUNCTION IF EXISTS never_existed")  # no raise


def test_stream_query_session_and_cumulate(tenv, spark, tmp_path):
    """SESSION and CUMULATE window TVFs as streaming SQL text (VERDICT
    r7 #3): SESSION regroups onto the merging session_window aggregate
    and drains append; CUMULATE resolves to the slice-explode view and
    drains update (plain-column grouping can't prove append closure)."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "sqsess")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 0), 1.0),
         ("a", dt.datetime(2024, 1, 1, 10, 10), 2.0),
         ("a", dt.datetime(2024, 1, 1, 12, 0), 4.0),
         ("b", dt.datetime(2024, 1, 1, 14, 0), 8.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE sqs_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT k, window_start, window_end, sum(v) AS s
        FROM TABLE(SESSION(TABLE sqs_ev PARTITION BY k, DESCRIPTOR(ts), INTERVAL '30' MINUTE))
        GROUP BY k, window_start, window_end
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "sqs_drain", "append").collect()
    # final watermark 14:00-1min closes a's both sessions, not b's
    got = sorted((r.k, r.window_start.hour, r.s) for r in rows)
    assert got == [("a", 10, 3.0), ("a", 12, 4.0)]
    # session merge scope: PARTITION BY key missing from GROUP BY
    with pytest.raises(ValueError, match="session merge scope"):
        tenv.stream_query("""
            SELECT window_start, count(*) AS n
            FROM TABLE(SESSION(TABLE sqs_ev PARTITION BY k, DESCRIPTOR(ts), INTERVAL '30' MINUTE))
            GROUP BY window_start, window_end
        """)
    cum = tenv.stream_query("""
        SELECT window_start, window_end, count(*) AS n
        FROM TABLE(CUMULATE(TABLE sqs_ev, DESCRIPTOR(ts), INTERVAL '30' MINUTES, INTERVAL '1' HOUR))
        GROUP BY window_start, window_end
    """)
    assert cum.isStreaming
    crows = ssrc.run_to_memory(cum, "sqc_drain", "update").collect()
    # 10:00 span: both rows (10:00, 10:10) precede both slice ends
    # (10:30, 11:00); the 12:00 row fills its span's two slices alone
    by_end = {(r.window_start.hour, r.window_end.strftime("%H:%M")): r.n for r in crows}
    assert by_end[(10, "10:30")] == 2 and by_end[(10, "11:00")] == 2
    assert by_end[(12, "12:30")] == 1 and by_end[(12, "13:00")] == 1


def test_ddl_complex_types_row_multiset(tenv, spark, tmp_path):
    """LogicalTypeParser.java complex types in DDL: ROW<...> → struct,
    MULTISET<T> → element→count map, ARRAY/MAP pass through."""
    d = str(tmp_path / "cx")
    spark.sql(
        "SELECT 1 AS id, named_struct('a', 7, 'b', 'x') AS r,"
        " array(1, 2) AS arr, map('k', 2) AS ms"
    ).write.parquet(d)
    df = tenv.execute_sql(
        f"CREATE TABLE t_cx (id INT, r ROW<a INT, b STRING>,"
        f" arr ARRAY<INT>, ms MULTISET<STRING>)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    row = df.collect()[0]
    assert row.r.a == 7 and row.r.b == "x"
    assert list(row.arr) == [1, 2] and dict(row.ms) == {"k": 2}


def test_drop_temporary_view_sql(tenv, spark):
    """Flink's DROP TEMPORARY VIEW (SqlDropView isTemporary) maps to
    Spark's DROP VIEW for temp views."""
    spark.createDataFrame([(1,)], "a int").createOrReplaceTempView("dtv_base")
    tenv.execute_sql("CREATE TEMPORARY VIEW dtv_v AS SELECT a * 2 AS b FROM dtv_base")
    assert tenv.sql_query("SELECT * FROM dtv_v").collect()[0].b == 2
    tenv.execute_sql("DROP TEMPORARY VIEW dtv_v")
    assert not spark.catalog.tableExists("dtv_v")


def test_stream_query_regroup_variants(tenv, spark, tmp_path):
    """stream_query regrouping handles key-first GROUP BY lists,
    explicit aliases, and window refs in WHERE/ORDER BY."""
    import datetime as dt

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "sqv")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 10), 1.0),
         ("a", dt.datetime(2024, 1, 1, 10, 40), 2.0),
         ("b", dt.datetime(2024, 1, 1, 11, 10), 4.0),
         ("a", dt.datetime(2024, 1, 1, 13, 0), 8.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE sqv_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT k, window_start AS ws, sum(v) AS s
        FROM TABLE(TUMBLE(TABLE sqv_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY k, window_start, window_end
        HAVING window_end <= TIMESTAMP '2024-01-01 13:00:00'
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "sqv_drain", "append").collect()
    # watermark = 13:00 - 1min closes the 10h and 11h windows; HAVING
    # keeps ends <= 13:00 (both)
    assert sorted((r.k, r.ws.hour, r.s) for r in rows) == [
        ("a", 10, 3.0), ("b", 11, 4.0)]


def test_execute_streaming_insert_end_to_end(tenv, spark, tmp_path):
    """INSERT INTO <DDL sink> SELECT ... FROM TABLE(TUMBLE(...)) run in
    STREAMING mode: DDL source with watermark -> streaming TVF agg ->
    filesystem sink, drained availableNow; append mode emits ONLY
    watermark-closed windows — the tail window stays open, the same
    contract as every append drain."""
    import datetime as dt

    src = str(tmp_path / "esi_src")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 10), 1.0),
         ("a", dt.datetime(2024, 1, 1, 10, 40), 2.0),
         ("b", dt.datetime(2024, 1, 1, 12, 30), 4.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(src)
    tenv.execute_sql(
        f"CREATE TABLE esi_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    out = str(tmp_path / "esi_out")
    tenv.execute_sql(
        f"CREATE TABLE esi_sink WITH ('connector'='filesystem',"
        f"'path'='{out}','format'='parquet')"
    )
    tenv.execute_streaming_insert("""
        INSERT INTO esi_sink
        SELECT k, window_start, sum(v) AS s
        FROM TABLE(TUMBLE(TABLE esi_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY k, window_start, window_end
    """)
    got = {(r.k, r.window_start.hour, r.s) for r in spark.read.parquet(out).collect()}
    # final watermark = 12:30 - 1min closes only the 10h window
    assert got == {("a", 10, 3.0)}
    import pytest
    with pytest.raises(ValueError, match="append-only"):
        tenv.execute_streaming_insert("INSERT OVERWRITE esi_sink SELECT 1")


def test_stream_query_legacy_group_window(tenv, spark, tmp_path):
    """Legacy GROUP BY TUMBLE(...) + TUMBLE_START in STREAMING mode
    through stream_query (the pre-FLIP-145 classic)."""
    import datetime as dt

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "lgw")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 10), 1.0),
         ("a", dt.datetime(2024, 1, 1, 10, 40), 2.0),
         ("b", dt.datetime(2024, 1, 1, 13, 0), 8.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE lgw_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT k, TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, sum(v) AS s
        FROM lgw_ev GROUP BY k, TUMBLE(ts, INTERVAL '1' HOUR)
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "lgw_drain", "append").collect()
    # final watermark 13:00-1min closes only the 10h window
    assert sorted((r.k, r.ws.hour, r.s) for r in rows) == [("a", 10, 3.0)]
    import pytest
    with pytest.raises(ValueError, match="ROWTIME in streaming"):
        tenv.stream_query("""
            SELECT TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) AS rt, count(*) AS n
            FROM lgw_ev GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)
        """)


def test_streaming_insert_column_list(tenv, spark, tmp_path):
    """INSERT INTO sink (cols...) in STREAMING mode applies the same
    FLIP-219 column-list mapping as the batch path: listed targets map
    positionally, declared-but-unlisted columns null-fill."""
    import datetime as dt

    d = str(tmp_path / "sicl_src")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 10), 1.0),
         ("a", dt.datetime(2024, 1, 1, 10, 40), 2.0),
         ("b", dt.datetime(2024, 1, 1, 12, 30), 8.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE sicl_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = str(tmp_path / "sicl_out")
    tenv.execute_sql(
        f"CREATE TABLE sicl_sink (s DOUBLE, k STRING, extra INT)"
        f" WITH ('connector'='filesystem','path'='{out}','format'='parquet')"
    )
    tenv.execute_streaming_insert("""
        INSERT INTO sicl_sink (k, s)
        SELECT k, sum(v) AS total
        FROM TABLE(TUMBLE(TABLE sicl_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY k, window_start, window_end
    """)
    rows = spark.read.parquet(out).collect()
    # final watermark 12:30-1min closes only the 10h window
    assert [(r.s, r.k, r.extra) for r in rows] == [(3.0, "a", None)]
    assert spark.read.parquet(out).columns == ["s", "k", "extra"]


def test_stream_query_nested_window_group_by_composes(tenv, spark, tmp_path):
    """A subquery's own GROUP BY window_start COMPOSES since r10 (the
    one-level FROM-subquery extraction compiles the inner window agg
    recursively — it is never rewritten onto the outer block's struct
    alias, which is what this test pinned as a rejection before
    composition existed). The emitted window agg matches the inner
    statement run alone; since r11 deeper nesting unwinds recursively
    instead of rejecting (VERDICT r10 next #4)."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "nwgb")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 10), 1.0),
         ("a", dt.datetime(2024, 1, 1, 10, 20), 2.0),
         ("b", dt.datetime(2024, 1, 1, 14, 0), 8.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE nwgb_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT * FROM (
          SELECT k, window_start, sum(v) AS s
          FROM TABLE(TUMBLE(TABLE nwgb_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))
          GROUP BY k, window_start, window_end) t
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "nwgb_drain", "append").collect()
    # watermark 14:00-1min closes a's 10:00 window; b's stays open
    assert [(r.k, r.window_start.hour, r.s) for r in rows] == [("a", 10, 3.0)]
    deep = tenv.stream_query("""
        SELECT * FROM (SELECT * FROM (
          SELECT k, window_start, sum(v) AS s
          FROM TABLE(TUMBLE(TABLE nwgb_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))
          GROUP BY k, window_start, window_end) i) o
    """)
    rows2 = ssrc.run_to_memory(deep, "nwgb_deep", "append").collect()
    assert [(r.k, r.window_start.hour, r.s) for r in rows2] == [("a", 10, 3.0)]


def test_stream_query_legacy_session_group_window(tenv, spark, tmp_path):
    """Legacy GROUP BY SESSION(ts, gap) in STREAMING mode routes onto
    the merging session_window aggregate like the SESSION TVF
    (pre-FLIP-145 syntax, StreamExecGroupWindowAggregate)."""
    import datetime as dt

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "lgs")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 0), 1.0),
         ("a", dt.datetime(2024, 1, 1, 10, 10), 2.0),
         ("a", dt.datetime(2024, 1, 1, 12, 0), 4.0),
         ("b", dt.datetime(2024, 1, 1, 14, 0), 8.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE lgs_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT k, SESSION_START(ts, INTERVAL '30' MINUTE) AS ws, sum(v) AS s
        FROM lgs_ev GROUP BY k, SESSION(ts, INTERVAL '30' MINUTE)
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "lgs_drain", "append").collect()
    assert sorted((r.k, r.ws.hour, r.s) for r in rows) == [
        ("a", 10, 3.0), ("a", 12, 4.0)]


def test_stream_query_lookup_join_and_event_time_asof_rejected(tenv, spark, tmp_path):
    """Proctime FOR SYSTEM_TIME lowers to a stream-static join in
    stream_query (dim pinned to its batch snapshot); event-time AS OF
    is rejected with a pointer to the as-of state machine."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "lkp")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), 1), (2, dt.datetime(2024, 1, 1, 11, 0), 2)],
        "id long, ts timestamp, k long",
    ).write.parquet(d)
    dimd = str(tmp_path / "lkd")
    spark.createDataFrame([(1, "x"), (2, "y")], "k long, name string").write.parquet(dimd)
    tenv.execute_sql(
        f"CREATE TABLE lkp_ev (id BIGINT, ts TIMESTAMP(3), k BIGINT, pt AS PROCTIME())"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE lkp_dim (k BIGINT, name STRING)"
        f" WITH ('connector'='filesystem','path'='{dimd}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT e.id, n.name FROM lkp_ev AS e
        JOIN lkp_dim FOR SYSTEM_TIME AS OF e.pt AS n ON e.k = n.k
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "lkp_drain", "append").collect()
    assert sorted((r.id, r.name) for r in rows) == [(1, "x"), (2, "y")]
    # event-time AS OF against an UN-watermarked probe: rejected with a
    # pointer (the reference requires a rowtime attribute too)
    with pytest.raises(ValueError, match="WATERMARK"):
        tenv.stream_query("""
            SELECT e.id, n.name FROM lkp_ev AS e
            JOIN lkp_dim FOR SYSTEM_TIME AS OF e.ts AS n ON e.k = n.k
        """)


def test_stream_query_event_time_temporal_join(tenv, spark, tmp_path):
    """Event-time temporal join as streaming SQL TEXT (VERDICT r8 #4):
    FOR SYSTEM_TIME AS OF probe.rowtime lowers onto the as-of state
    machine (TemporalRowTimeJoinOperator parity) — each probe row binds
    the latest version at or before its rowtime, INNER drops unmatched,
    LEFT emits nulls, probe-side WHERE pushes below the join, and
    probe timestamps round-trip exactly (unix-micros payload)."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "tjp")
    spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 0), "EUR", 10.0),
            (2, dt.datetime(2024, 1, 1, 11, 0), "EUR", 20.0),
            (3, dt.datetime(2024, 1, 1, 9, 0), "USD", 5.0),
            (4, dt.datetime(2024, 1, 1, 12, 0), "JPY", 7.0),
        ],
        "order_id bigint, ots timestamp, cur string, amount double",
    ).write.parquet(d)
    v = str(tmp_path / "tjv")
    spark.createDataFrame(
        [
            ("EUR", dt.datetime(2024, 1, 1, 9, 30), 1.1),
            ("EUR", dt.datetime(2024, 1, 1, 10, 30), 1.2),
            ("USD", dt.datetime(2024, 1, 1, 8, 0), 1.0),
        ],
        "ccy string, rts timestamp, rate double",
    ).write.parquet(v)
    tenv.execute_sql(
        f"CREATE TABLE tj_orders (order_id BIGINT, ots TIMESTAMP(3),"
        f" cur STRING, amount DOUBLE,"
        f" WATERMARK FOR ots AS ots - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE tj_rates (ccy STRING, rts TIMESTAMP(3), rate DOUBLE,"
        f" WATERMARK FOR rts AS rts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{v}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT o.order_id, o.ots, o.amount, rt.rate AS fx
        FROM tj_orders AS o
        JOIN tj_rates FOR SYSTEM_TIME AS OF o.ots AS rt
        ON o.cur = rt.ccy
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "tj_inner", "append").collect()
    assert sorted((r.order_id, str(r.ots), r.amount, r.fx) for r in rows) == [
        (1, "2024-01-01 10:00:00", 10.0, 1.1),
        (2, "2024-01-01 11:00:00", 20.0, 1.2),
        (3, "2024-01-01 09:00:00", 5.0, 1.0),
    ]
    out2 = tenv.stream_query("""
        SELECT o.order_id, rt.rate AS fx
        FROM tj_orders o
        LEFT JOIN tj_rates FOR SYSTEM_TIME AS OF o.ots rt
        ON o.cur = rt.ccy
        WHERE o.amount < 15.0
    """)
    rows2 = ssrc.run_to_memory(out2, "tj_left", "append").collect()
    assert sorted((r.order_id, r.fx) for r in rows2) == [
        (1, 1.1), (3, 1.0), (4, None),
    ]
    with pytest.raises(ValueError, match="event-time attribute"):
        tenv.stream_query("""
            SELECT o.order_id, rt.rate AS fx FROM tj_orders o
            JOIN tj_rates FOR SYSTEM_TIME AS OF o.amount rt ON o.cur = rt.ccy
        """)
    with pytest.raises(ValueError, match="probe columns only"):
        tenv.stream_query("""
            SELECT o.order_id, rt.rate AS fx FROM tj_orders o
            JOIN tj_rates FOR SYSTEM_TIME AS OF o.ots rt ON o.cur = rt.ccy
            WHERE rt.rate > 1.0
        """)


def test_stream_query_match_recognize_prev_next(tenv, spark, tmp_path):
    """Streaming MATCH_RECOGNIZE with PREV/NEXT DEFINEs (VERDICT r8
    #6): the helpers materialize as index offsets into the per-key NFA
    buffer (IterativeConditionRunner.java:31 over the SharedBuffer) and
    the affected DEFINEs run as per-row predicates. PREV drives a
    falling-run pattern; NEXT a peak detector; the streaming result
    equals the batch (sql_query) lowering of the same statement."""
    import datetime as dt

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "mrp")
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), 10.0),
        (1, dt.datetime(2024, 1, 1, 10, 1), 12.0),
        (1, dt.datetime(2024, 1, 1, 10, 2), 9.0),
        (1, dt.datetime(2024, 1, 1, 10, 3), 8.0),
        (1, dt.datetime(2024, 1, 1, 10, 4), 11.0),
        (2, dt.datetime(2024, 1, 1, 10, 0), 5.0),
        (2, dt.datetime(2024, 1, 1, 10, 1), 6.0),
    ]
    spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, v double"
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE mrp_ev (user_id BIGINT, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    prev_stmt = """
        SELECT * FROM mrp_ev MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES FIRST(A.v) AS start_v, LAST(B.v) AS bottom_v,
                   COUNT(B.v) AS n_drops
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE B AS v < PREV(B.v)
        )
    """
    out = tenv.stream_query(prev_stmt)
    assert out.isStreaming
    got = sorted(
        (r.user_id, r.start_v, r.bottom_v, r.n_drops)
        for r in ssrc.run_to_memory(out, "mrp_prev", "append").collect()
    )
    assert got == [(1, 12.0, 8.0, 2)]
    # batch lowering of the identical statement agrees
    spark.read.parquet(d).createOrReplaceTempView("mrp_ev_batch")
    batch = sorted(
        (r.user_id, r.start_v, r.bottom_v, r.n_drops)
        for r in tenv.sql_query(
            prev_stmt.replace("mrp_ev", "mrp_ev_batch")
        ).collect()
    )
    assert batch == got
    # NEXT: peak rows (strictly above both neighbors)
    out2 = tenv.stream_query("""
        SELECT * FROM mrp_ev MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES FIRST(P.v) AS peak_v
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (P)
          DEFINE P AS v > PREV(P.v) AND v > NEXT(P.v)
        )
    """)
    got2 = sorted(
        (r.user_id, r.peak_v)
        for r in ssrc.run_to_memory(out2, "mrp_next", "append").collect()
    )
    assert got2 == [(1, 12.0)]


def test_stream_query_over_lowering(tenv, spark, tmp_path):
    """Streaming SQL OVER (VERDICT r8 #3): stream_query lowers a
    single-spec OVER statement onto the stateful operators
    (StreamExecOverAggregate.java:91). Pins the RANGE frame as
    INCLUSIVE on the preceding bound (a row exactly `interval` before
    the current one is IN the frame — Flink retracts only rows
    strictly older than cur - interval) and the planner-parity
    rejections (descending order, mixed specs, multiple value cols)."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "ovr")
    spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 0), "a", 1.0),
            (2, dt.datetime(2024, 1, 1, 10, 30), "a", 2.0),
            (3, dt.datetime(2024, 1, 1, 11, 30), "a", 4.0),
            (4, dt.datetime(2024, 1, 1, 10, 0), "b", 8.0),
        ],
        "id long, ts timestamp, k string, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE ovr_ev (id BIGINT, ts TIMESTAMP(3), k STRING, v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT k, id,
               SUM(v) OVER (PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '30' MINUTE PRECEDING AND CURRENT ROW) AS s,
               COUNT(v) OVER (PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '30' MINUTE PRECEDING AND CURRENT ROW) AS n
        FROM ovr_ev
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "ovr_range", "append").collect()
    # id=2 at 10:30: the 10:00 row sits exactly 30 min back -> INCLUDED
    assert sorted((r.k, r.id, r.s, r.n) for r in rows) == [
        ("a", 1, 1.0, 1), ("a", 2, 3.0, 2), ("a", 3, 4.0, 1), ("b", 4, 8.0, 1),
    ]
    out2 = tenv.stream_query("""
        SELECT k, id, SUM(v) OVER (PARTITION BY k ORDER BY ts
            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        FROM ovr_ev WHERE v < 8.0
    """)
    rows2 = ssrc.run_to_memory(out2, "ovr_rows", "append").collect()
    assert sorted((r.k, r.id, r.s) for r in rows2) == [
        ("a", 1, 1.0), ("a", 2, 3.0), ("a", 3, 6.0),
    ]
    out3 = tenv.stream_query(
        "SELECT k, COUNT(*) OVER (PARTITION BY k ORDER BY ts) AS c FROM ovr_ev"
    )
    rows3 = ssrc.run_to_memory(out3, "ovr_unb", "append").collect()
    assert sorted((r.k, r.c) for r in rows3) == [("a", 1), ("a", 2), ("a", 3), ("b", 1)]
    with pytest.raises(ValueError, match="ascending"):
        tenv.stream_query(
            "SELECT k, SUM(v) OVER (PARTITION BY k ORDER BY ts DESC) AS s FROM ovr_ev"
        )
    with pytest.raises(ValueError, match="one window spec"):
        tenv.stream_query("""
            SELECT k, SUM(v) OVER (PARTITION BY k ORDER BY ts) AS s,
                   COUNT(v) OVER (PARTITION BY k ORDER BY ts
                       ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS n
            FROM ovr_ev
        """)
    # aggregates over DIFFERENT value columns share the one window spec
    # (one exec node, reference parity)
    out4 = tenv.stream_query("""
        SELECT k, id, SUM(v) OVER (PARTITION BY k ORDER BY ts) AS s,
               MAX(id) OVER (PARTITION BY k ORDER BY ts) AS mi,
               COUNT(*) OVER (PARTITION BY k ORDER BY ts) AS c
        FROM ovr_ev
    """)
    rows4 = ssrc.run_to_memory(out4, "ovr_multi", "append").collect()
    assert sorted((r.k, r.id, r.s, r.mi, r.c) for r in rows4) == [
        ("a", 1, 1.0, 1.0, 1), ("a", 2, 3.0, 2.0, 2), ("a", 3, 7.0, 3.0, 3),
        ("b", 4, 8.0, 4.0, 1),
    ]


def test_stream_query_select_list_from_does_not_shift_split(tenv, spark, tmp_path):
    """A SELECT-list FROM (TRIM ... FROM ...) before the statement FROM
    must not shift the head/tail split — window_start after it keeps
    its alias in the output schema."""
    import datetime as dt

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "tfs")
    spark.createDataFrame(
        [("xax", dt.datetime(2024, 1, 1, 10, 10), 1.0),
         ("xbx", dt.datetime(2024, 1, 1, 12, 30), 2.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE tfs_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT TRIM(BOTH 'x' FROM k) AS kk, window_start, count(*) AS n
        FROM TABLE(TUMBLE(TABLE tfs_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY k, window_start, window_end
    """)
    assert "window_start" in out.columns
    rows = ssrc.run_to_memory(out, "tfs_drain", "append").collect()
    assert sorted((r.kk, r.window_start.hour, r.n) for r in rows) == [("a", 10, 1)]


def test_stream_session_merge_scope_rejects_extra_group_keys(tenv, spark, tmp_path):
    """ADVICE r8: the SESSION merge-scope guard must be bidirectional.
    GROUP BY keys beyond the TVF's PARTITION BY set change the merge
    scope (Flink merges per PARTITION BY key only; Spark's
    session_window merges per the full GROUP BY key set) — silently
    passing them yields different window bounds than the reference."""
    import datetime as dt

    import pytest

    d = str(tmp_path / "sqscope")
    spark.createDataFrame(
        [("a", "x", dt.datetime(2024, 1, 1, 10, 0), 1.0)],
        "k string, etype string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE sqscope_ev (k STRING, etype STRING, ts TIMESTAMP(3),"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    with pytest.raises(ValueError, match="session merge scope"):
        tenv.stream_query("""
            SELECT k, etype, window_start, count(*) AS n
            FROM TABLE(SESSION(TABLE sqscope_ev PARTITION BY k, DESCRIPTOR(ts), INTERVAL '30' MINUTE))
            GROUP BY k, etype, window_start, window_end
        """)


def test_stream_query_lateral_temporal_fn(tenv, spark, tmp_path):
    """Streaming LATERAL TABLE (rates(o.rowtime)) — the legacy temporal
    table FUNCTION join (the reference's classic streaming rates
    example) lowers onto the as-of state machine: history becomes a
    one-shot file stream, the function-key equality is the join key,
    probe filters push below, version-less probes drop (inner)."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "ttfp")
    spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 0), "EUR", 2.0),
            (2, dt.datetime(2024, 1, 1, 11, 0), "EUR", 3.0),
            (3, dt.datetime(2024, 1, 1, 9, 0), "USD", 5.0),
            (4, dt.datetime(2024, 1, 1, 12, 0), "JPY", 7.0),
        ],
        "order_id bigint, ots timestamp, currency string, amount double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE ttf_orders (order_id BIGINT, ots TIMESTAMP(3),"
        f" currency STRING, amount DOUBLE,"
        f" WATERMARK FOR ots AS ots - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    rates = spark.createDataFrame(
        [
            ("EUR", dt.datetime(2024, 1, 1, 9, 30), 1.1),
            ("EUR", dt.datetime(2024, 1, 1, 10, 30), 1.2),
            ("USD", dt.datetime(2024, 1, 1, 8, 0), 1.0),
        ],
        "r_currency string, rate_time timestamp, rate double",
    )
    tenv.create_temporal_table_function("rates", rates, "rate_time", "r_currency")
    out = tenv.stream_query("""
        SELECT o.order_id, o.amount, r.rate AS fx
        FROM ttf_orders AS o, LATERAL TABLE (rates(o.ots)) AS r
        WHERE r.r_currency = o.currency AND o.amount < 6.0
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "ttf_drain", "append").collect()
    assert sorted((r.order_id, r.amount, r.fx) for r in rows) == [
        (1, 2.0, 1.1), (2, 3.0, 1.2), (3, 5.0, 1.0),
    ]
    with pytest.raises(ValueError, match="event-time attribute"):
        tenv.stream_query("""
            SELECT o.order_id, r.rate AS fx
            FROM ttf_orders AS o, LATERAL TABLE (rates(o.amount)) AS r
            WHERE r.r_currency = o.currency
        """)
    with pytest.raises(ValueError, match="key equality"):
        tenv.stream_query("""
            SELECT o.order_id, r.rate AS fx
            FROM ttf_orders AS o, LATERAL TABLE (rates(o.ots)) AS r
            WHERE o.amount < 6.0
        """)


def test_stream_query_topn_rownum_pattern(tenv, spark, tmp_path):
    """The canonical streaming Top-N statement (row_number-filter over
    an OVER window) plans as the continuous Top-N operator, never as a
    window — FlinkLogicalRankRule parity. Covers DESC/ASC order, rn=1,
    SELECT *, inner WHERE below the rank, and shape rejections."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "tnp")
    spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 10, i), "a" if i % 2 else "b",
             float(i))
            for i in range(1, 9)
        ],
        "id bigint, ts timestamp, k string, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE tn_ev (id BIGINT, ts TIMESTAMP(3), k STRING, v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT k, id, rn FROM (
          SELECT k, id, ROW_NUMBER() OVER (PARTITION BY k ORDER BY id DESC) AS rn
          FROM tn_ev WHERE v > 2.0
        ) WHERE rn <= 2
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "tn_top2", "update").collect()
    assert sorted((r.k, r.id, r.rn) for r in rows) == [
        ("a", 5, 2), ("a", 7, 1), ("b", 6, 2), ("b", 8, 1),
    ]
    out2 = tenv.stream_query("""
        SELECT * FROM (
          SELECT k, id, ROW_NUMBER() OVER (PARTITION BY k ORDER BY id) AS rn
          FROM tn_ev
        ) t WHERE rn = 1
    """)
    rows2 = ssrc.run_to_memory(out2, "tn_first", "update").collect()
    assert sorted((r.k, r.id, r.rn) for r in rows2) == [("a", 1, 1), ("b", 2, 1)]
    with pytest.raises(ValueError, match="ROW_NUMBER alias"):
        tenv.stream_query("""
            SELECT k FROM (
              SELECT k, ROW_NUMBER() OVER (PARTITION BY k ORDER BY id) AS rn
              FROM tn_ev
            ) WHERE other <= 2
        """)
    with pytest.raises(ValueError, match="bound the"):
        tenv.stream_query("""
            SELECT k FROM (
              SELECT k, ROW_NUMBER() OVER (PARTITION BY k ORDER BY id) AS rn
              FROM tn_ev
            ) WHERE rn <= 2 AND k = 'a'
        """)


def test_stream_query_composition(tenv, spark, tmp_path):
    """One level of streaming statement composition (VERDICT r9 #2):
    an inline FROM-subquery compiles recursively and feeds the outer
    lowering; a create_streaming_view relation serves as a TVF table
    argument; deeper nesting is rejected with the view pointer."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "sqcomp")
    spark.createDataFrame(
        [(1, "buy", dt.datetime(2024, 1, 1, 10, 0), 1.0),
         (1, "buy", dt.datetime(2024, 1, 1, 10, 5), 2.0),
         (1, "view", dt.datetime(2024, 1, 1, 10, 6), 9.0),
         (2, "buy", dt.datetime(2024, 1, 1, 12, 0), 4.0),
         (1, "buy", dt.datetime(2024, 1, 1, 23, 0), 8.0)],
        "uid bigint, et string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE sqc_ev (uid BIGINT, et STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    # inline subquery -> OVER in one statement (filter below the window)
    out = tenv.stream_query("""
        SELECT uid, SUM(v) OVER (PARTITION BY uid ORDER BY ts) AS s
        FROM (SELECT uid, ts, v FROM sqc_ev WHERE et = 'buy') AS b
    """)
    assert out.isStreaming
    got = sorted(
        (r.uid, r.s)
        for r in ssrc.run_to_memory(out, "sqc_subover", "append").collect()
    )
    assert got == [(1, 1.0), (1, 3.0), (1, 11.0), (2, 4.0)]
    # streaming view -> window TVF agg in one statement
    tenv.create_streaming_view(
        "sqc_buys", "SELECT uid, ts, v FROM sqc_ev WHERE et = 'buy'"
    )
    out2 = tenv.stream_query("""
        SELECT window_start, COUNT(*) AS n, SUM(v) AS s
        FROM TABLE(TUMBLE(TABLE sqc_buys, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start, window_end
    """)
    assert out2.isStreaming
    rows2 = sorted(
        (r.window_start.hour, r.n, r.s)
        for r in ssrc.run_to_memory(out2, "sqc_viewtvf", "append").collect()
    )
    # final watermark 23:00-1min closes the 10:00 and 12:00 windows only
    assert rows2 == [(10, 2, 3.0), (12, 1, 4.0)]
    # deeper nesting unwinds recursively since r11 (VERDICT r10 #4)
    out3 = tenv.stream_query("""
        SELECT uid, SUM(v) OVER (PARTITION BY uid ORDER BY ts) AS s
        FROM (SELECT uid, ts, v FROM
               (SELECT uid, ts, v FROM sqc_ev WHERE et = 'buy') AS i
              WHERE v > 0) AS o
    """)
    got3 = sorted(
        (r.uid, r.s)
        for r in ssrc.run_to_memory(out3, "sqc_deep", "append").collect()
    )
    assert got3 == got


def test_stream_query_window_topn_sql(tenv, spark, tmp_path):
    """Window Top-N as streaming SQL (VERDICT r9 #4): ROW_NUMBER
    partitioned by window_start, window_end (+key) over a TUMBLE TVF
    lowers onto window_topn — append mode, only windows closed by the
    final watermark emit; PARTITION BY without window_end stays the
    continuous Top-N path's problem and is rejected here."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "sqwtn")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), 5.0),
         (2, dt.datetime(2024, 1, 1, 10, 10), 9.0),
         (3, dt.datetime(2024, 1, 1, 10, 20), 7.0),
         (4, dt.datetime(2024, 1, 1, 11, 0), 1.0),
         (5, dt.datetime(2024, 1, 1, 23, 0), 2.0)],
        "eid bigint, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE sqwtn_ev (eid BIGINT, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT window_start, eid, v, rn FROM (
          SELECT window_start, window_end, eid, v,
                 ROW_NUMBER() OVER (PARTITION BY window_start, window_end
                     ORDER BY v DESC) AS rn
          FROM TABLE(TUMBLE(TABLE sqwtn_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        ) WHERE rn <= 2
    """)
    assert out.isStreaming
    got = sorted(
        (r.window_start.hour, r.eid, r.v, r.rn)
        for r in ssrc.run_to_memory(out, "sqwtn_drain", "append").collect()
    )
    # final watermark 23:00-1min closes the 10:00 and 11:00 windows;
    # 10:00 top-2 by v desc = eids 2 (9.0), 3 (7.0); 11:00 has one row
    assert got == [(10, 2, 9.0, 1), (10, 3, 7.0, 2), (11, 4, 1.0, 1)]
    with pytest.raises(ValueError, match="window_start and window_end"):
        tenv.stream_query("""
            SELECT eid, rn FROM (
              SELECT eid, ROW_NUMBER() OVER (PARTITION BY window_start
                  ORDER BY v DESC) AS rn
              FROM TABLE(TUMBLE(TABLE sqwtn_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))
            ) WHERE rn <= 2
        """)


def test_stream_statement_set(tenv, spark, tmp_path):
    """StreamStatementSet: two INSERTs over one DDL streaming source
    drain as ONE streaming job (the receipt pins streaming_queries ==
    1); statements reading no source are rejected, and so is every
    shape neither branch kind keeps exact across micro-batches:
    non-windowed GROUP BY, DISTINCT, unscoped OVER, window statements
    not grouped on window_start and window_end."""
    import datetime as dt

    import pytest

    d = str(tmp_path / "ssetsrc")
    spark.createDataFrame(
        [(1, "click", dt.datetime(2024, 1, 1, 10, 0), 1.0),
         (2, "buy", dt.datetime(2024, 1, 1, 10, 1), 2.0),
         (3, "buy", dt.datetime(2024, 1, 1, 10, 2), 4.0),
         (4, "buy", dt.datetime(2024, 1, 1, 11, 30), 8.0)],
        "eid bigint, et string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE sset_ev (eid BIGINT, et STRING, ts TIMESTAMP(3),"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    a, b = str(tmp_path / "snk_a"), str(tmp_path / "snk_b")
    tenv.execute_sql(
        f"CREATE TABLE sset_a WITH ('connector'='filesystem',"
        f"'path'='{a}','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE sset_b WITH ('connector'='filesystem',"
        f"'path'='{b}','format'='parquet')"
    )
    receipt = (
        tenv.create_stream_statement_set()
        .add_insert_sql("INSERT INTO sset_a SELECT eid, v FROM sset_ev WHERE et = 'click'")
        .add_insert_sql(
            "INSERT INTO sset_b SELECT et, window_end, COUNT(*) AS n, "
            "SUM(v) AS s "
            "FROM TABLE(TUMBLE(TABLE sset_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
            "GROUP BY et, window_start, window_end"
        )
        .execute(checkpoint=str(tmp_path / "ckpt"))
    )
    assert receipt == {
        "statements": 2, "shared_source": "sset_ev",
        "window_agg_statements": 1, "streaming_queries": 1,
    }
    assert [(r.eid, r.v) for r in spark.read.parquet(a).collect()] == [(1, 1.0)]
    # final watermark 11:30-1min closes ONLY the 10:00 window; the
    # 11:00 window (eid 4) stays open and is never emitted
    got_b = sorted((r.et, r.window_end.hour, r.n, r.s)
                   for r in spark.read.parquet(b).collect())
    assert got_b == [("buy", 11, 2, 6.0), ("click", 11, 1, 1.0)]
    with pytest.raises(ValueError, match="no statements"):
        tenv.create_stream_statement_set().execute()
    with pytest.raises(ValueError, match="exactly one streaming"):
        tenv.create_stream_statement_set().add_insert_sql(
            "INSERT INTO sset_a SELECT 1 AS x"
        )
    ss = tenv.create_stream_statement_set()
    with pytest.raises(ValueError, match="PARTIAL.*stream_query"):
        ss.add_insert_sql(
            "INSERT INTO sset_b SELECT et, COUNT(*) AS n, SUM(v) AS s "
            "FROM sset_ev GROUP BY et"
        )
    with pytest.raises(ValueError, match="PARTIAL.*stream_query"):
        ss.add_insert_sql("INSERT INTO sset_b SELECT MAX(v) AS m FROM sset_ev")
    with pytest.raises(ValueError, match="DISTINCT"):
        ss.add_insert_sql("INSERT INTO sset_a SELECT DISTINCT eid, v FROM sset_ev")
    with pytest.raises(ValueError, match="OVER"):
        ss.add_insert_sql(
            "INSERT INTO sset_a SELECT eid, SUM(v) OVER (PARTITION BY et "
            "ORDER BY ts) AS s FROM sset_ev"
        )
    # SESSION TVF statements are ADMITTED since r11 — but only grouped
    # on window_start/window_end so every emitted row is a closed session
    ss.add_insert_sql(
        "INSERT INTO sset_b SELECT et, window_end, COUNT(*) AS n, SUM(v) AS s "
        "FROM TABLE(SESSION(TABLE sset_ev PARTITION BY et, "
        "DESCRIPTOR(ts), INTERVAL '30' MINUTE)) "
        "GROUP BY et, window_start, window_end"
    )
    with pytest.raises(ValueError, match="watermark-closed session"):
        ss.add_insert_sql(
            "INSERT INTO sset_b SELECT et, COUNT(*) AS n, SUM(v) AS s "
            "FROM TABLE(SESSION(TABLE sset_ev PARTITION BY et, "
            "DESCRIPTOR(ts), INTERVAL '30' MINUTE)) GROUP BY et"
        )
    # a HOP aggregate need not SELECT window_end, bare or aliased:
    # Spark's window state closes each window on its own
    for sel in ("et, COUNT(*) AS n", "et, window_end AS we, COUNT(*) AS n"):
        ss.add_insert_sql(
            f"INSERT INTO sset_b SELECT {sel} "
            "FROM TABLE(HOP(TABLE sset_ev, DESCRIPTOR(ts), "
            "INTERVAL '30' MINUTE, INTERVAL '1' HOUR)) "
            "GROUP BY et, window_start, window_end"
        )
        assert ss._inserts[-1].kind == "agg"
    with pytest.raises(ValueError, match="window_start, window_end"):
        ss.add_insert_sql(
            "INSERT INTO sset_b SELECT et, COUNT(*) AS n, SUM(v) AS s "
            "FROM TABLE(TUMBLE(TABLE sset_ev, DESCRIPTOR(ts), "
            "INTERVAL '1' HOUR)) GROUP BY et"
        )


def _write_single_parquet_file(spark, df, target_path, mtime):
    """Write df as ONE parquet file at target_path with a pinned
    mtime (the file stream source orders files by modification time)."""
    import glob
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sset_onefile_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, target_path)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(target_path, (mtime, mtime))


def test_stream_statement_set_window_agg_two_batches(tenv, spark, tmp_path):
    """The statement-set TUMBLE aggregate is EXACT under a forced
    multi-batch drain (VERDICT r10 #2 done-criterion): with
    maxFilesPerTrigger=1 a window spanning both batches emits ONCE
    with its complete row set (never per-batch partials), a window
    closed in batch 1 ignores batch-2 late rows (append-mode drop),
    and the sink content equals the single-batch drain byte-for-byte
    (minus the late row, which the single-batch run sees in time)."""
    import datetime as dt
    import os

    src = str(tmp_path / "sset2src")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, et string, ts timestamp, v double")
    # batch 1: two rows in the 10:00 window, one in 11:00 →
    # wm = 11:05-1min closes the 10:00 window only
    _write_single_parquet_file(
        spark,
        mk([(1, "buy", dt.datetime(2024, 1, 1, 10, 0), 1.0),
            (2, "buy", dt.datetime(2024, 1, 1, 10, 30), 2.0),
            (3, "buy", dt.datetime(2024, 1, 1, 11, 5), 4.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )
    # batch 2: completes the 11:00 window (with the staged eid=3), a
    # LATE row into the already-closed 10:00 window (dropped), and a
    # 12:00-window row that never closes
    _write_single_parquet_file(
        spark,
        mk([(4, "buy", dt.datetime(2024, 1, 1, 11, 10), 8.0),
            (5, "buy", dt.datetime(2024, 1, 1, 10, 45), 16.0),
            (6, "buy", dt.datetime(2024, 1, 1, 12, 30), 32.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )
    tenv.execute_sql(
        f"CREATE TABLE sset2_ev (eid BIGINT, et STRING, ts TIMESTAMP(3),"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sink = str(tmp_path / "snk_w")
    tenv.execute_sql(
        f"CREATE TABLE sset2_w WITH ('connector'='filesystem',"
        f"'path'='{sink}','format'='parquet')"
    )
    stmt = (
        "INSERT INTO sset2_w SELECT window_end, COUNT(*) AS n, SUM(v) AS s "
        "FROM TABLE(TUMBLE(TABLE sset2_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    )
    ss = tenv.create_stream_statement_set().add_insert_sql(stmt)
    # planned once by stream_query: Spark's window state, not a
    # re-plan of the statement text per emission boundary
    assert ss._inserts[0].kind == "agg"
    ss.execute(checkpoint=str(tmp_path / "ckpt2"), max_files_per_trigger=1)
    got = sorted((r.window_end.hour, r.n, r.s)
                 for r in spark.read.parquet(sink).collect())
    # 10:00 window: batch-1 rows only (late eid=5 dropped); 11:00
    # window: ONE row spanning both batches; 12:00 window: open, absent
    assert got == [(11, 2, 3.0), (12, 2, 12.0)]
    # single-batch equality (the late row is on time there and the
    # window it joins is the only difference)
    sink1 = str(tmp_path / "snk_w1")
    tenv.execute_sql(
        f"CREATE TABLE sset2_w1 WITH ('connector'='filesystem',"
        f"'path'='{sink1}','format'='parquet')"
    )
    tenv.create_stream_statement_set().add_insert_sql(
        stmt.replace("sset2_w", "sset2_w1")
    ).execute(checkpoint=str(tmp_path / "ckpt3"))
    got1 = sorted((r.window_end.hour, r.n, r.s)
                  for r in spark.read.parquet(sink1).collect())
    assert got1 == [(11, 3, 19.0), (12, 2, 12.0)]
    assert [g for g in got1 if g[0] != 11] == [g for g in got if g[0] != 11]


def test_stream_statement_set_acc_decimal_type_parity(tenv, spark, tmp_path):
    """A statement-set window aggregate emits the SAME result types as
    the batch plan (r12 self-review): AVG(DECIMAL(10,2)) is
    DECIMAL(14,6) under Spark's typing — the naive sum/count division
    is not — and SUM-of-SUMs would silently widen decimal precision."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import functions as F

    d = str(tmp_path / "accdec")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), Decimal("1.10")),
         (2, dt.datetime(2024, 1, 1, 10, 30), Decimal("2.05")),
         (3, dt.datetime(2024, 1, 1, 12, 0), Decimal("9.00"))],
        "eid bigint, ts timestamp, v decimal(10,2)",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE accdec_ev (eid BIGINT, ts TIMESTAMP(3),"
        f" v DECIMAL(10, 2), WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    sink = str(tmp_path / "accdec_snk")
    tenv.execute_sql(
        f"CREATE TABLE accdec_w WITH ('connector'='filesystem',"
        f"'path'='{sink}','format'='parquet')"
    )
    ss = tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO accdec_w SELECT window_end, COUNT(*) AS n, "
        "SUM(v) AS s, AVG(v) AS av "
        "FROM TABLE(TUMBLE(TABLE accdec_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    )
    assert ss._inserts[0].kind == "agg"  # planned by stream_query
    ss.execute()
    got = spark.read.parquet(sink)
    exp = (
        spark.read.parquet(d)
        .select(F.window("ts", "1 hour").end.alias("window_end"), "v")
        .groupBy("window_end")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"),
             F.avg("v").alias("av"))
    )
    assert dict(got.dtypes) == dict(exp.dtypes)
    rows = {r.window_end.hour: (r.n, r.s, r.av) for r in got.collect()}
    assert rows == {11: (2, Decimal("3.15"), Decimal("1.575000"))}


def test_stream_statement_set_window_topn_two_batches(tenv, spark, tmp_path):
    """Window Top-N inside a streaming statement set (r12 — the
    reference's window-rank-after-window-TVF statement-set pattern,
    WindowRankProcessor.java): ROW_NUMBER() OVER (PARTITION BY
    window_start, window_end ...) ranks each closed window's rows once,
    complete, so a window spanning two micro-batches emits its true
    top-k once, and a late row into a closed window is dropped."""
    import datetime as dt
    import os

    src = str(tmp_path / "topnsrc")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, ts timestamp, v double")
    # batch 1: three 10:00-window rows + the 11:05 row that closes it
    _write_single_parquet_file(
        spark,
        mk([(1, dt.datetime(2024, 1, 1, 10, 0), 1.0),
            (2, dt.datetime(2024, 1, 1, 10, 30), 5.0),
            (3, dt.datetime(2024, 1, 1, 10, 15), 3.0),
            (4, dt.datetime(2024, 1, 1, 11, 5), 4.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )
    # batch 2: completes the 11:00 window (with staged eid=4), a LATE
    # 10:45 row with the would-be-top value (dropped — its window
    # closed in batch 1), and an open 12:00 row
    _write_single_parquet_file(
        spark,
        mk([(5, dt.datetime(2024, 1, 1, 11, 10), 8.0),
            (6, dt.datetime(2024, 1, 1, 11, 20), 2.0),
            (7, dt.datetime(2024, 1, 1, 10, 45), 16.0),
            (8, dt.datetime(2024, 1, 1, 12, 30), 32.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )
    tenv.execute_sql(
        f"CREATE TABLE topn_ev (eid BIGINT, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sink = str(tmp_path / "topn_snk")
    tenv.execute_sql(
        f"CREATE TABLE topn_w WITH ('connector'='filesystem',"
        f"'path'='{sink}','format'='parquet')"
    )
    tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO topn_w SELECT window_start, window_end, eid, v, rn "
        "FROM (SELECT window_start, window_end, eid, v, "
        "ROW_NUMBER() OVER (PARTITION BY window_start, window_end "
        "ORDER BY v DESC, eid) AS rn "
        "FROM TABLE(TUMBLE(TABLE topn_ev, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR))) WHERE rn <= 2"
    ).execute(
        checkpoint=str(tmp_path / "ckpt_topn"), max_files_per_trigger=1
    )
    got = sorted((r.window_end.hour, r.rn, r.eid, r.v)
                 for r in spark.read.parquet(sink).collect())
    assert got == [
        (11, 1, 2, 5.0), (11, 2, 3, 3.0),   # 10:00 window, batch-1 rows
        (12, 1, 5, 8.0), (12, 2, 4, 4.0),   # 11:00 window spans batches
    ]


def test_stream_statement_set_hop_topn(tenv, spark, tmp_path):
    """Window Top-N over a HOP TVF in a statement set: a row belongs to
    SEVERAL windows; the rank partitions per (window_start, window_end)
    so each closing window emits its own exact top-k, and only windows
    the watermark closed emit."""
    import datetime as dt

    d = str(tmp_path / "hoptopn")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), 1.0),
         (2, dt.datetime(2024, 1, 1, 10, 30), 5.0),
         (3, dt.datetime(2024, 1, 1, 10, 15), 3.0),
         (4, dt.datetime(2024, 1, 1, 11, 5), 4.0)],
        "eid bigint, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE hoptopn_ev (eid BIGINT, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    sink = str(tmp_path / "hoptopn_snk")
    tenv.execute_sql(
        f"CREATE TABLE hoptopn_w WITH ('connector'='filesystem',"
        f"'path'='{sink}','format'='parquet')"
    )
    tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO hoptopn_w SELECT window_end, eid, v, rn "
        "FROM (SELECT window_start, window_end, eid, v, "
        "ROW_NUMBER() OVER (PARTITION BY window_start, window_end "
        "ORDER BY v DESC, eid) AS rn "
        "FROM TABLE(HOP(TABLE hoptopn_ev, DESCRIPTOR(ts), "
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR))) WHERE rn <= 2"
    ).execute()
    got = sorted((r.window_end.strftime("%H:%M"), r.rn, r.eid)
                 for r in spark.read.parquet(sink).collect())
    # wm = 11:04 closes window-ends 10:30 (rows 1,3) and 11:00
    # (rows 1,2,3); the 11:05 row's windows stay open
    assert got == [
        ("10:30", 1, 3), ("10:30", 2, 1),
        ("11:00", 1, 2), ("11:00", 2, 3),
    ]


def test_stream_statement_set_over_admission(tenv, spark, tmp_path):
    """OVER admission rules (r12): window-scoped OVER is admitted only
    on a TUMBLE/HOP/CUMULATE TVF; unscoped OVER, OVER without the TVF,
    OVER on SESSION, and a bare cross-window aggregate without GROUP BY
    all reject at add time with actionable messages."""
    import datetime as dt

    import pytest

    d = str(tmp_path / "ovsrc")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), 1.0)],
        "eid bigint, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE ov_ev (eid BIGINT, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE ov_snk WITH ('connector'='filesystem',"
        f"'path'='{tmp_path / 'ov_out'}','format'='parquet')"
    )
    ss = tenv.create_stream_statement_set()
    with pytest.raises(ValueError, match="PARTITION BY window_start"):
        ss.add_insert_sql(
            "INSERT INTO ov_snk SELECT window_start, window_end, eid, "
            "ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY v) AS rn "
            "FROM TABLE(TUMBLE(TABLE ov_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))"
        )
    with pytest.raises(ValueError, match="stateful across micro-batches"):
        ss.add_insert_sql(
            "INSERT INTO ov_snk SELECT eid, "
            "SUM(v) OVER (PARTITION BY eid ORDER BY ts) AS s FROM ov_ev"
        )
    with pytest.raises(ValueError, match="SESSION TVF is not"):
        ss.add_insert_sql(
            "INSERT INTO ov_snk SELECT window_start, window_end, eid, "
            "ROW_NUMBER() OVER (PARTITION BY window_start, window_end "
            "ORDER BY v) AS rn "
            "FROM TABLE(SESSION(TABLE ov_ev, DESCRIPTOR(ts), "
            "INTERVAL '10' MINUTE))"
        )
    with pytest.raises(ValueError, match="GROUP BY window_start"):
        ss.add_insert_sql(
            "INSERT INTO ov_snk SELECT window_start, window_end, eid, v, "
            "ROW_NUMBER() OVER (PARTITION BY window_start, window_end "
            "ORDER BY v) AS rn, COUNT(*) AS n "
            "FROM TABLE(TUMBLE(TABLE ov_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))"
        )


def test_relation_positions_backticked_identifiers():
    """The statement reader's relation scan, which routes CREATE VIEW and
    binds streaming sources, handles backtick-quoted relation names and
    comma FROM-lists, and ignores output aliases (backticked FROM used
    to escape the scan)."""
    from flink_1_16_0_src_spark.sql_clauses import read_relations

    def rels(sql):
        return {r.name.lower() for r in read_relations(sql)}

    assert {"events", "dim"} <= rels("SELECT * FROM `events` JOIN `dim` d ON a = b")
    got = rels("SELECT a.x AS events FROM batch_a a, `batch_b`")
    assert {"batch_a", "batch_b"} <= got and "events" not in got
    assert "src" in rels(
        "SELECT window_end FROM TABLE(TUMBLE(TABLE `src`, "
        "DESCRIPTOR(ts), INTERVAL '1' HOUR))"
    )
    # a call's FROM argument and IS DISTINCT FROM name columns
    assert rels(
        "SELECT EXTRACT(YEAR FROM ev), TRIM(BOTH FROM ev), a IS DISTINCT FROM "
        "ev FROM (SELECT * FROM src WHERE a IN (SELECT a FROM dim))"
    ) == {"src", "dim"}
    assert rels("SELECT * FROM (src JOIN dim ON src.k = dim.k)") == {"src", "dim"}


def test_stream_statement_set_state_holds_only_open_windows(tenv, spark, tmp_path):
    """Window state is Spark's and holds only what is still open: a
    1-hour window stays open across three single-file batches and then
    closes, and after the drain each aggregate's state store holds one
    partial-aggregate row per open (window, keys) group — the 13:00
    window — however many rows the closed window held."""
    import datetime as dt
    import os

    src = str(tmp_path / "odsrc")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, et string, ts timestamp, v double")
    _write_single_parquet_file(
        spark,
        mk([(1, "buy", dt.datetime(2024, 1, 1, 10, 0), 1.0),
            (2, "buy", dt.datetime(2024, 1, 1, 10, 10), 2.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )
    _write_single_parquet_file(
        spark,
        mk([(3, "buy", dt.datetime(2024, 1, 1, 10, 20), 4.0),
            (4, "buy", dt.datetime(2024, 1, 1, 10, 30), 8.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )
    _write_single_parquet_file(
        spark,
        mk([(5, "buy", dt.datetime(2024, 1, 1, 10, 40), 16.0),
            (6, "buy", dt.datetime(2024, 1, 1, 13, 0), 32.0)]),
        os.path.join(src, "f3.parquet"), mtime=3_000_000,
    )
    tenv.execute_sql(
        f"CREATE TABLE od_ev (eid BIGINT, et STRING, ts TIMESTAMP(3),"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sink = str(tmp_path / "od_snk")
    tenv.execute_sql(
        f"CREATE TABLE od_w WITH ('connector'='filesystem',"
        f"'path'='{sink}','format'='parquet')"
    )
    sink_r = str(tmp_path / "od_snk_raw")
    tenv.execute_sql(
        f"CREATE TABLE od_w_raw WITH ('connector'='filesystem',"
        f"'path'='{sink_r}','format'='parquet')"
    )
    ck = str(tmp_path / "od_ck")
    tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO od_w SELECT window_end, COUNT(*) AS n, SUM(v) AS s "
        "FROM TABLE(TUMBLE(TABLE od_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    ).add_insert_sql(
        "INSERT INTO od_w_raw SELECT window_end, COUNT(*) AS n, "
        "ROUND(SUM(v), 2) AS s "
        "FROM TABLE(TUMBLE(TABLE od_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    ).execute(checkpoint=ck, max_files_per_trigger=1)
    # correctness: the 10:00 window emits once, complete (5 rows), for
    # both statements
    got = sorted((r.window_end.hour, r.n, r.s)
                 for r in spark.read.parquet(sink).collect())
    assert got == [(11, 5, 31.0)]
    got_r = sorted((r.window_end.hour, r.n, r.s)
                   for r in spark.read.parquet(sink_r).collect())
    assert got_r == [(11, 5, 31.0)]

    def state_rows(ck, op):
        return (spark.read.format("statestore").option("operatorId", op)
                .load(ck).count())

    # one open group each: the 13:00 window's partial aggregate
    assert [state_rows(ck, op) for op in (0, 1)] == [1, 1]
    # HOP variant: same three files, 30-min slide / 1-hour size; the
    # 13:00 row's two windows (ends 13:30 and 14:00) are all that stays
    tenv.execute_sql(
        f"CREATE TABLE od_ev2 (eid BIGINT, et STRING, ts TIMESTAMP(3),"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sink2 = str(tmp_path / "od_snk2")
    tenv.execute_sql(
        f"CREATE TABLE od_w2 WITH ('connector'='filesystem',"
        f"'path'='{sink2}','format'='parquet')"
    )
    ck2 = str(tmp_path / "od_ck2")
    tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO od_w2 SELECT window_end, COUNT(*) AS n "
        "FROM TABLE(HOP(TABLE od_ev2, DESCRIPTOR(ts), "
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    ).execute(checkpoint=ck2, max_files_per_trigger=1)
    # final wm 12:59 → hop window ends 10:30 / 11:00 / 11:30 closed,
    # each once, complete (rows spanning all three batches)
    got2 = sorted((r.window_end.hour, r.window_end.minute, r.n)
                  for r in spark.read.parquet(sink2).collect())
    assert got2 == [(10, 30, 3), (11, 0, 5), (11, 30, 2)]
    assert state_rows(ck2, 0) == 2


def test_datagen_sequence_bounded_deterministic(tenv, spark):
    """datagen SEQUENCE fields build a bounded deterministic table
    (zipped positionally); unequal lengths and sequence/random mixes
    are rejected."""
    import pytest

    tenv.execute_sql(
        "CREATE TABLE dgt (a BIGINT, b INT) WITH ('connector'='datagen',"
        "'fields.a.kind'='sequence','fields.a.start'='5','fields.a.end'='7',"
        "'fields.b.kind'='sequence','fields.b.start'='0','fields.b.end'='2')"
    )
    assert [(r.a, r.b) for r in spark.table("dgt").orderBy("a").collect()] == [
        (5, 0), (6, 1), (7, 2)
    ]
    with pytest.raises(ValueError, match="equal"):
        tenv.execute_sql(
            "CREATE TABLE dgt_bad (a BIGINT, b INT) WITH ('connector'='datagen',"
            "'fields.a.kind'='sequence','fields.a.start'='1','fields.a.end'='3',"
            "'fields.b.kind'='sequence','fields.b.start'='1','fields.b.end'='9')"
        )
    with pytest.raises(ValueError, match="rate stream"):
        tenv.execute_sql(
            "CREATE TABLE dgt_mix (a BIGINT, b INT) WITH ('connector'='datagen',"
            "'fields.a.kind'='sequence','fields.a.start'='1','fields.a.end'='3')"
        )


def test_datagen_sequence_without_schema_rejected(tenv):
    """Sequence-kind field props on a schema-less CREATE TABLE must
    raise, not silently fall through to the unbounded random rate
    stream (ADVICE r10 #4 — mirrors the equal-length / mixed-kind
    validations)."""
    import pytest

    with pytest.raises(ValueError, match="sequence field props"):
        tenv.execute_sql(
            "CREATE TABLE dgt_noschema WITH ('connector'='datagen',"
            "'fields.a.kind'='sequence','fields.a.start'='1',"
            "'fields.a.end'='3')"
        )


def test_streaming_over_sql_bare_lead_rejected(tenv, spark, tmp_path):
    """Bare LEAD(col) in streaming OVER SQL means LEAD(col, 1) (SQL /
    LeadLagAggFunction.java default) — it must hit the 'needs future
    rows' rejection, not silently return the current row's value like
    LEAD(col, 0) (ADVICE r10 #1). An explicit LEAD(col, 0) stays
    accepted."""
    import datetime as dt

    import pytest

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "sqlead")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 0), 1.0),
         ("a", dt.datetime(2024, 1, 1, 10, 1), 2.0)],
        "k string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE sqlead_ev (k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    with pytest.raises(ValueError, match="future rows"):
        tenv.stream_query(
            "SELECT k, LEAD(v) OVER (PARTITION BY k ORDER BY ts) AS nxt"
            " FROM sqlead_ev"
        )
    out = tenv.stream_query(
        "SELECT k, LEAD(v, 0) OVER (PARTITION BY k ORDER BY ts) AS cur"
        " FROM sqlead_ev"
    )
    rows = ssrc.run_to_memory(out, "sqlead_drain", "append").collect()
    assert sorted(r.cur for r in rows) == [1.0, 2.0]


def test_streaming_temporal_fn_reregistration_uses_new_history(
    tenv, spark, tmp_path
):
    """Re-registering a temporal table function under the same name
    must rebuild the materialized-history cache (ADVICE r10 #2): the
    cache is keyed by a per-registration token, not id(history_df) —
    an id() reuse after GC must never resurrect the stale parquet
    dir. The same statement re-lowered after re-registration reflects
    the NEW rates."""
    import datetime as dt

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "ttfr")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), "EUR", 2.0)],
        "order_id bigint, ots timestamp, currency string, amount double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE ttfr_orders (order_id BIGINT, ots TIMESTAMP(3),"
        f" currency STRING, amount DOUBLE,"
        f" WATERMARK FOR ots AS ots - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    stmt = """
        SELECT o.order_id, r.rate AS fx
        FROM ttfr_orders AS o, LATERAL TABLE (rr(o.ots)) AS r
        WHERE r.r_currency = o.currency
    """
    mk = lambda rate: spark.createDataFrame(
        [("EUR", dt.datetime(2024, 1, 1, 9, 0), rate)],
        "r_currency string, rate_time timestamp, rate double",
    )
    tenv.create_temporal_table_function("rr", mk(1.1), "rate_time", "r_currency")
    tok1 = tenv._temporal_fns["rr"][3]
    rows = ssrc.run_to_memory(tenv.stream_query(stmt), "ttfr_d1", "append").collect()
    assert [(r.order_id, r.fx) for r in rows] == [(1, 1.1)]
    # re-register: new token → new cache slot → new history dir
    tenv.create_temporal_table_function("rr", mk(9.9), "rate_time", "r_currency")
    tok2 = tenv._temporal_fns["rr"][3]
    assert tok2 != tok1
    rows2 = ssrc.run_to_memory(tenv.stream_query(stmt), "ttfr_d2", "append").collect()
    assert [(r.order_id, r.fx) for r in rows2] == [(1, 9.9)]


def test_execute_statement_set_sql_routes_streaming(tenv, spark, tmp_path):
    """SQL-text EXECUTE STATEMENT SET routes to the STREAMING set when
    every INSERT reads the same watermarked DDL source (VERDICT r10
    next #5 — SqlStatementSet.java:41 + StreamStatementSetImpl.java);
    a temp-view body keeps the batch common-subgraph route (receipt
    schema tells them apart)."""
    import datetime as dt

    d = str(tmp_path / "ssxsrc")
    spark.createDataFrame(
        [(1, "click", dt.datetime(2024, 1, 1, 10, 0), 1.0),
         (2, "buy", dt.datetime(2024, 1, 1, 12, 0), 2.0)],
        "eid bigint, et string, ts timestamp, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE ssx_ev (eid BIGINT, et STRING, ts TIMESTAMP(3),"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    a = str(tmp_path / "ssx_a")
    tenv.execute_sql(
        f"CREATE TABLE ssx_snk WITH ('connector'='filesystem',"
        f"'path'='{a}','format'='parquet')"
    )
    res = tenv.execute_sql(
        "EXECUTE STATEMENT SET BEGIN "
        "INSERT INTO ssx_snk SELECT eid, v FROM ssx_ev WHERE et = 'click'; "
        "END"
    ).collect()[0]
    assert res.streaming_queries == 1 and res.statements == 1
    assert [(r.eid, r.v) for r in spark.read.parquet(a).collect()] == [(1, 1.0)]
    # batch route: temp-view body → shared-subplan receipt
    spark.createDataFrame([(1, 2)], "x int, y int").createOrReplaceTempView(
        "ssx_view"
    )
    b = str(tmp_path / "ssx_b")
    tenv.execute_sql(
        f"CREATE TABLE ssx_snk_b WITH ('connector'='filesystem',"
        f"'path'='{b}','format'='parquet')"
    )
    res2 = tenv.execute_sql(
        "EXECUTE STATEMENT SET BEGIN "
        "INSERT INTO ssx_snk_b SELECT x, y FROM ssx_view; "
        "END"
    ).collect()[0]
    assert "streaming_queries" not in res2.asDict()
    assert res2.statements == 1


def test_stream_query_nested_from_subqueries_any_depth(tenv, spark, tmp_path):
    """FROM-subquery nesting unwinds recursively to any depth
    (VERDICT r10 next #4 — the one-level cap is lifted): three nested
    SELECTs compile to one streaming plan; a TVF's TABLE ( ... )
    argument may itself be a subquery."""
    import datetime as dt

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "nestsrc")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), "a", 1.0),
         (2, dt.datetime(2024, 1, 1, 10, 30), "a", 2.0),
         (3, dt.datetime(2024, 1, 1, 10, 40), "b", 4.0),
         (4, dt.datetime(2024, 1, 1, 12, 0), "a", 8.0)],
        "eid bigint, ts timestamp, k string, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE nest_ev (eid BIGINT, ts TIMESTAMP(3), k STRING,"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    out = tenv.stream_query("""
        SELECT k, ts, v3 FROM (
          SELECT k, ts, v2 + 1 AS v3 FROM (
            SELECT k, ts, v * 2 AS v2 FROM (
              SELECT k, ts, v FROM nest_ev WHERE k = 'a'
            ) WHERE v < 5
          )
        )
    """)
    assert out.isStreaming
    rows = ssrc.run_to_memory(out, "nest_d1", "append").collect()
    assert sorted((r.k, r.v3) for r in rows) == [("a", 3.0), ("a", 5.0)]
    # TVF TABLE ( subquery ) argument: filter-subquery under the window
    agg = tenv.stream_query("""
        SELECT k, window_end, COUNT(*) AS n FROM TABLE(TUMBLE(TABLE (
            SELECT k, ts FROM nest_ev WHERE k = 'a'
        ), DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY k, window_start, window_end
    """)
    rows2 = ssrc.run_to_memory(agg, "nest_d2", "append").collect()
    # final wm 12:00-1min closes the 10:00 window (2 'a' rows)
    assert [(r.k, r.window_end.hour, r.n) for r in rows2] == [("a", 11, 2)]


def test_stream_statement_set_hop_two_batches(tenv, spark, tmp_path):
    """HOP window aggregates in a statement set are exact under a
    forced multi-batch drain (r11): a row contributes to EVERY
    covering window exactly once even when those windows close in
    different batches."""
    import datetime as dt
    import os

    src = str(tmp_path / "hop2src")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, ts timestamp, v double")
    _write_single_parquet_file(
        spark,
        mk([(1, dt.datetime(2024, 1, 1, 10, 5), 1.0),
            (2, dt.datetime(2024, 1, 1, 10, 40), 2.0),
            (3, dt.datetime(2024, 1, 1, 11, 20), 4.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )
    _write_single_parquet_file(
        spark,
        mk([(4, dt.datetime(2024, 1, 1, 11, 25), 8.0),
            (5, dt.datetime(2024, 1, 1, 13, 0), 16.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )
    tenv.execute_sql(
        f"CREATE TABLE hop2_ev (eid BIGINT, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sinks = {}
    for tag in ("m", "s"):  # multi-batch and single-batch runs
        sinks[tag] = str(tmp_path / f"hop2_snk_{tag}")
        tenv.execute_sql(
            f"CREATE TABLE hop2_w_{tag} WITH ('connector'='filesystem',"
            f"'path'='{sinks[tag]}','format'='parquet')"
        )
    stmt = (
        "INSERT INTO hop2_w_{tag} SELECT window_start, window_end, "
        "COUNT(*) AS n, SUM(v) AS s "
        "FROM TABLE(HOP(TABLE hop2_ev, DESCRIPTOR(ts), "
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    )
    r1 = tenv.create_stream_statement_set().add_insert_sql(
        stmt.format(tag="m")
    ).execute(checkpoint=str(tmp_path / "ck_m"), max_files_per_trigger=1)
    assert r1["window_agg_statements"] == 1
    tenv.create_stream_statement_set().add_insert_sql(
        stmt.format(tag="s")
    ).execute(checkpoint=str(tmp_path / "ck_s"))
    fetch = lambda p: sorted(
        (r.window_end.strftime("%H:%M"), r.n, r.s)
        for r in spark.read.parquet(p).collect()
    )
    got_m, got_s = fetch(sinks["m"]), fetch(sinks["s"])
    # every covering window, each emitted once, complete:
    # [9:30,10:30) {e1}; [10:00,11:00) {e1,e2}; [10:30,11:30)
    # {e2,e3,e4} SPANS BOTH BATCHES; [11:00,12:00) {e3,e4};
    # 13:00's windows stay open (wm 12:59)
    assert got_m == [
        ("10:30", 1, 1.0), ("11:00", 2, 3.0),
        ("11:30", 3, 14.0), ("12:00", 2, 12.0),
    ]
    assert got_m == got_s


def test_stream_statement_set_cumulate_two_batches(tenv, spark, tmp_path):
    """CUMULATE statement-set aggregates: expanding slices emit as the
    watermark passes each slice end — across batches, each slice
    exactly once with the full span prefix."""
    import datetime as dt
    import os

    src = str(tmp_path / "cum2src")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, ts timestamp, v double")
    # span = 1 hour, step = 30 min → slices end at :30 and :00
    _write_single_parquet_file(
        spark,
        mk([(1, dt.datetime(2024, 1, 1, 10, 5), 1.0),
            (2, dt.datetime(2024, 1, 1, 10, 40), 2.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )  # wm after b1 = 10:39 → closes slice [10:00,10:30) only
    _write_single_parquet_file(
        spark,
        mk([(3, dt.datetime(2024, 1, 1, 10, 50), 4.0),
            (4, dt.datetime(2024, 1, 1, 12, 0), 8.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )  # wm = 11:59 → closes slice [10:00,11:00) with eids 1,2,3
    tenv.execute_sql(
        f"CREATE TABLE cum2_ev (eid BIGINT, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sink = str(tmp_path / "cum2_snk")
    tenv.execute_sql(
        f"CREATE TABLE cum2_w WITH ('connector'='filesystem',"
        f"'path'='{sink}','format'='parquet')"
    )
    r = tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO cum2_w SELECT window_start, window_end, COUNT(*) AS n, "
        "SUM(v) AS s "
        "FROM TABLE(CUMULATE(TABLE cum2_ev, DESCRIPTOR(ts), "
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    ).execute(checkpoint=str(tmp_path / "ck_c"), max_files_per_trigger=1)
    assert r["window_agg_statements"] == 1
    got = sorted((r_.window_end.strftime("%H:%M"), r_.n, r_.s)
                 for r_ in spark.read.parquet(sink).collect())
    # slice [10:00,10:30): {e1} closed in batch 1; slice [10:00,11:00):
    # {e1,e2,e3} SPANS batches (e3 arrives in batch 2 before the slice
    # closes); 12:00's span stays open (wm 11:59)
    assert got == [("10:30", 1, 1.0), ("11:00", 3, 7.0)]


def test_stream_statement_set_session_two_batches(tenv, spark, tmp_path):
    """SESSION TVF aggregates in a statement set (r11): sessions merge
    across batch boundaries while open and emit exactly once,
    complete, when the watermark passes max(ts)+gap — multi-batch
    equals single-batch when no session fires between a merge."""
    import datetime as dt
    import os

    src = str(tmp_path / "sess2src")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, ts timestamp, k string, v double")
    # u's session SPANS batches (10:00 in b1, 10:20 in b2, gap 30m —
    # b1 watermark 10:24 leaves it open); w@10:25 drives b1's wm,
    # w@12:00 drives b2's wm to 11:59 which closes everything but its
    # own session
    _write_single_parquet_file(
        spark,
        mk([(1, dt.datetime(2024, 1, 1, 10, 0), "u", 1.0),
            (2, dt.datetime(2024, 1, 1, 10, 25), "w", 2.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )
    _write_single_parquet_file(
        spark,
        mk([(3, dt.datetime(2024, 1, 1, 10, 20), "u", 4.0),
            (4, dt.datetime(2024, 1, 1, 12, 0), "w", 8.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )
    tenv.execute_sql(
        f"CREATE TABLE sess2_ev (eid BIGINT, ts TIMESTAMP(3), k STRING,"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sinks = {}
    for tag in ("m", "s"):
        sinks[tag] = str(tmp_path / f"sess2_snk_{tag}")
        tenv.execute_sql(
            f"CREATE TABLE sess2_w_{tag} WITH ('connector'='filesystem',"
            f"'path'='{sinks[tag]}','format'='parquet')"
        )
    stmt = (
        "INSERT INTO sess2_w_{tag} SELECT k, window_start, window_end, "
        "COUNT(*) AS n, SUM(v) AS s "
        "FROM TABLE(SESSION(TABLE sess2_ev PARTITION BY k, "
        "DESCRIPTOR(ts), INTERVAL '30' MINUTE)) "
        "GROUP BY k, window_start, window_end"
    )
    r1 = tenv.create_stream_statement_set().add_insert_sql(
        stmt.format(tag="m")
    ).execute(checkpoint=str(tmp_path / "ck_m"), max_files_per_trigger=1)
    assert r1["window_agg_statements"] == 1
    tenv.create_stream_statement_set().add_insert_sql(
        stmt.format(tag="s")
    ).execute(checkpoint=str(tmp_path / "ck_s"))
    fetch = lambda p: sorted(
        (r.k, r.window_start.strftime("%H:%M"),
         r.window_end.strftime("%H:%M"), r.n, r.s)
        for r in spark.read.parquet(p).collect()
    )
    got_m, got_s = fetch(sinks["m"]), fetch(sinks["s"])
    # u merges {10:00, 10:20} across batches → [10:00, 10:50) n=2;
    # w's [10:25, 10:55) closes at wm 11:59; w@12:00 stays open
    assert got_m == [("u", "10:00", "10:50", 2, 5.0),
                     ("w", "10:25", "10:55", 1, 2.0)]
    assert got_m == got_s


def test_stream_statement_set_session_purge_on_fire(tenv, spark, tmp_path):
    """Purge-on-fire parity (WindowOperator.java): once a session has
    fired, its state is gone — a later row inside the fired span that
    is NOT window-late (ts+gap still ahead of the watermark) starts a
    NEW session instead of resurrecting the emitted one."""
    import datetime as dt
    import os

    src = str(tmp_path / "sesspsrc")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, ts timestamp, k string, v double")
    # b1: u@10:00 (session end 10:30) + w@10:31 → wm = 10:30 fires u's
    # session. b2: u@10:15 — prospective window [10:15, 10:45) is not
    # late (10:45 > 10:30) but the fired session is purged → NEW
    # session; w@11:30 drives wm to 11:29, closing [10:15,10:45) and
    # w's first session [10:31, 11:01)
    _write_single_parquet_file(
        spark,
        mk([(1, dt.datetime(2024, 1, 1, 10, 0), "u", 1.0),
            (2, dt.datetime(2024, 1, 1, 10, 31), "w", 2.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )
    _write_single_parquet_file(
        spark,
        mk([(3, dt.datetime(2024, 1, 1, 10, 15), "u", 4.0),
            (4, dt.datetime(2024, 1, 1, 11, 30), "w", 8.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )
    tenv.execute_sql(
        f"CREATE TABLE sessp_ev (eid BIGINT, ts TIMESTAMP(3), k STRING,"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    sink = str(tmp_path / "sessp_snk")
    tenv.execute_sql(
        f"CREATE TABLE sessp_w WITH ('connector'='filesystem',"
        f"'path'='{sink}','format'='parquet')"
    )
    tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO sessp_w SELECT k, window_start, window_end, "
        "COUNT(*) AS n "
        "FROM TABLE(SESSION(TABLE sessp_ev PARTITION BY k, "
        "DESCRIPTOR(ts), INTERVAL '30' MINUTE)) "
        "GROUP BY k, window_start, window_end"
    ).execute(checkpoint=str(tmp_path / "ck"), max_files_per_trigger=1)
    got = sorted(
        (r.k, r.window_start.strftime("%H:%M"),
         r.window_end.strftime("%H:%M"), r.n)
        for r in spark.read.parquet(sink).collect()
    )
    assert got == [("u", "10:00", "10:30", 1),
                   ("u", "10:15", "10:45", 1),
                   ("w", "10:31", "11:01", 1)]


def test_stream_statement_set_mixed_kinds_two_batches(tenv, spark, tmp_path):
    """One statement set mixing all three admission kinds — stateless
    projection, TUMBLE aggregate, SESSION aggregate — over ONE shared
    scan, exact under a forced two-batch drain: each statement is its
    own branch of one streaming query, which the receipt pins."""
    import datetime as dt
    import os

    src = str(tmp_path / "mixsrc")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, ts timestamp, k string, v double")
    _write_single_parquet_file(
        spark,
        mk([(1, dt.datetime(2024, 1, 1, 10, 0), "u", 1.0),
            (2, dt.datetime(2024, 1, 1, 10, 25), "w", 2.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )
    _write_single_parquet_file(
        spark,
        mk([(3, dt.datetime(2024, 1, 1, 10, 20), "u", 4.0),
            (4, dt.datetime(2024, 1, 1, 12, 0), "w", 8.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )
    tenv.execute_sql(
        f"CREATE TABLE mix_ev (eid BIGINT, ts TIMESTAMP(3), k STRING,"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    snk = {}
    for tag in ("p", "t", "s"):
        snk[tag] = str(tmp_path / f"mix_snk_{tag}")
        tenv.execute_sql(
            f"CREATE TABLE mix_{tag} WITH ('connector'='filesystem',"
            f"'path'='{snk[tag]}','format'='parquet')"
        )
    receipt = (
        tenv.create_stream_statement_set()
        .add_insert_sql("INSERT INTO mix_p SELECT eid, v FROM mix_ev "
                        "WHERE k = 'u'")
        .add_insert_sql(
            "INSERT INTO mix_t SELECT window_end, COUNT(*) AS n "
            "FROM TABLE(TUMBLE(TABLE mix_ev, DESCRIPTOR(ts), "
            "INTERVAL '1' HOUR)) GROUP BY window_start, window_end"
        )
        .add_insert_sql(
            "INSERT INTO mix_s SELECT k, window_start, window_end, "
            "COUNT(*) AS n FROM TABLE(SESSION(TABLE mix_ev "
            "PARTITION BY k, DESCRIPTOR(ts), INTERVAL '30' MINUTE)) "
            "GROUP BY k, window_start, window_end"
        )
        .execute(checkpoint=str(tmp_path / "ck"), max_files_per_trigger=1)
    )
    assert receipt == {
        "statements": 3, "shared_source": "mix_ev",
        "window_agg_statements": 2, "streaming_queries": 1,
    }
    # stateless: every u row, both batches
    assert sorted((r.eid, r.v) for r in
                  spark.read.parquet(snk["p"]).collect()) == \
        [(1, 1.0), (3, 4.0)]
    # tumble: the 10:00 hour closes at wm 11:59 with BOTH batches' rows
    assert [(r.window_end.hour, r.n) for r in
            spark.read.parquet(snk["t"]).collect()] == [(11, 3)]
    # session: u merges across batches, w@12:00 stays open
    assert sorted((r.k, r.window_end.strftime("%H:%M"), r.n) for r in
                  spark.read.parquet(snk["s"]).collect()) == \
        [("u", "10:50", 2), ("w", "10:55", 1)]


def test_stream_statement_set_restart_resumes_staging(tenv, spark, tmp_path):
    """Resume (r11, SURVEY §7.3 risk 3): a second execute() against
    the SAME checkpoint dir resumes mid-window — Spark's offset log
    skips the already-consumed file, its state store restores the open
    windows and the watermark, and a session/tumble window SPANNING THE
    TWO RUNS emits once, complete. A third run with no new data emits
    nothing, and a different statement list on the same checkpoint is
    rejected."""
    import datetime as dt
    import os

    import pytest

    src = str(tmp_path / "rssrc")
    os.makedirs(src)
    ck = str(tmp_path / "ck")
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, ts timestamp, k string, v double")
    _write_single_parquet_file(
        spark,
        mk([(1, dt.datetime(2024, 1, 1, 10, 0), "u", 1.0),
            (2, dt.datetime(2024, 1, 1, 10, 25), "w", 2.0)]),
        os.path.join(src, "f1.parquet"), mtime=1_000_000,
    )
    tenv.execute_sql(
        f"CREATE TABLE rs_ev (eid BIGINT, ts TIMESTAMP(3), k STRING,"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    snk = {}
    for tag in ("t", "s", "r", "h"):
        snk[tag] = str(tmp_path / f"rs_snk_{tag}")
        tenv.execute_sql(
            f"CREATE TABLE rs_{tag} WITH ('connector'='filesystem',"
            f"'path'='{snk[tag]}','format'='parquet')"
        )
    stmts = [
        "INSERT INTO rs_t SELECT window_end, COUNT(*) AS n "
        "FROM TABLE(TUMBLE(TABLE rs_ev, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR)) GROUP BY window_start, window_end",
        "INSERT INTO rs_s SELECT k, window_start, window_end, "
        "COUNT(*) AS n FROM TABLE(SESSION(TABLE rs_ev PARTITION BY k, "
        "DESCRIPTOR(ts), INTERVAL '30' MINUTE)) "
        "GROUP BY k, window_start, window_end",
        "INSERT INTO rs_r SELECT window_end, COUNT(*) AS n, "
        "ROUND(SUM(v), 2) AS s "
        "FROM TABLE(TUMBLE(TABLE rs_ev, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR)) GROUP BY window_start, window_end",
        "INSERT INTO rs_h SELECT window_end, COUNT(*) AS n "
        "FROM TABLE(HOP(TABLE rs_ev, DESCRIPTOR(ts), "
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end",
    ]

    def run():
        ss = tenv.create_stream_statement_set()
        for st in stmts:
            ss.add_insert_sql(st)
        return ss.execute(checkpoint=ck)

    run()  # run 1: wm 10:24 — every window still open, nothing emits
    assert not os.path.exists(snk["t"]) or not os.listdir(snk["t"])
    # "restart": new data lands, a NEW statement set resumes the ckpt
    _write_single_parquet_file(
        spark,
        mk([(3, dt.datetime(2024, 1, 1, 10, 20), "u", 4.0),
            (4, dt.datetime(2024, 1, 1, 12, 0), "w", 8.0)]),
        os.path.join(src, "f2.parquet"), mtime=2_000_000,
    )
    run()  # run 2: only f2 is consumed; open windows carry over
    # tumble window [10:00, 11:00) spans both RUNS: eids 1, 2, 3
    assert [(r.window_end.hour, r.n) for r in
            spark.read.parquet(snk["t"]).collect()] == [(11, 3)]
    # u's session merges ACROSS RUNS {10:00 (run 1), 10:20 (run 2)}
    assert sorted((r.k, r.window_end.strftime("%H:%M"), r.n) for r in
                  spark.read.parquet(snk["s"]).collect()) == \
        [("u", "10:50", 2), ("w", "10:55", 1)]
    # the second tumble statement resumed the same window, with values
    assert [(r.window_end.hour, r.n, r.s) for r in
            spark.read.parquet(snk["r"]).collect()] == [(11, 3, 7.0)]
    # hop partials from run 1 merged with run 2's: ends 10:30 and
    # 11:00 each cover all three early rows
    assert sorted((r.window_end.strftime("%H:%M"), r.n) for r in
                  spark.read.parquet(snk["h"]).collect()) == \
        [("10:30", 3), ("11:00", 3)]
    run()  # run 3: no new files — nothing re-emits
    assert spark.read.parquet(snk["t"]).count() == 1
    assert spark.read.parquet(snk["s"]).count() == 2
    assert spark.read.parquet(snk["r"]).count() == 1
    assert spark.read.parquet(snk["h"]).count() == 2
    with pytest.raises(ValueError, match="DIFFERENT.*statement set"):
        tenv.create_stream_statement_set().add_insert_sql(
            stmts[0]
        ).execute(checkpoint=ck)


def test_stream_statement_set_multi_source(tenv, spark, tmp_path):
    """Statements over DIFFERENT streaming sources share one set
    (r11): they group by source, each group draining as its own
    streaming query with its own shared scan (the reference's
    common-subgraph sharing merges only identical scans). Checkpointed
    resume works per group: a second execute() on the same checkpoint
    merges each source's window across RUNS."""
    import datetime as dt
    import os

    ck = str(tmp_path / "ck")
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, ts timestamp, v double")
    srcs = {}
    for tag, t0 in (("a", 10), ("b", 14)):
        srcs[tag] = str(tmp_path / f"ms_{tag}")
        os.makedirs(srcs[tag])
        _write_single_parquet_file(
            spark, mk([(1, dt.datetime(2024, 1, 1, t0, 5), 1.0)]),
            os.path.join(srcs[tag], "f1.parquet"), mtime=1_000_000,
        )
        tenv.execute_sql(
            f"CREATE TABLE ms_ev_{tag} (eid BIGINT, ts TIMESTAMP(3),"
            f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
            f" WITH ('connector'='filesystem','path'='{srcs[tag]}',"
            f"'format'='parquet')"
        )
        tenv.execute_sql(
            f"CREATE TABLE ms_w_{tag} WITH ('connector'='filesystem',"
            f"'path'='{tmp_path / ('ms_snk_' + tag)}','format'='parquet')"
        )

    def run():
        return (
            tenv.create_stream_statement_set()
            .add_insert_sql(
                "INSERT INTO ms_w_a SELECT window_end, COUNT(*) AS n, "
                "SUM(v) AS s FROM TABLE(TUMBLE(TABLE ms_ev_a, "
                "DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
                "GROUP BY window_start, window_end"
            )
            .add_insert_sql(
                "INSERT INTO ms_w_b SELECT window_end, COUNT(*) AS n, "
                "SUM(v) AS s FROM TABLE(TUMBLE(TABLE ms_ev_b, "
                "DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
                "GROUP BY window_start, window_end"
            )
            .execute(checkpoint=ck)
        )

    r1 = run()  # both windows still open — nothing emits
    assert r1 == {
        "statements": 2, "shared_source": ["ms_ev_a", "ms_ev_b"],
        "window_agg_statements": 2, "streaming_queries": 2,
    }
    # run 2: one closing row lands in EACH source; every group's
    # window spans the two runs and emits once, complete
    for tag, t0 in (("a", 10), ("b", 14)):
        _write_single_parquet_file(
            spark, mk([(2, dt.datetime(2024, 1, 1, t0, 40), 2.0),
                       (3, dt.datetime(2024, 1, 1, t0 + 2, 0), 4.0)]),
            os.path.join(srcs[tag], "f2.parquet"), mtime=2_000_000,
        )
    run()
    for tag, t0 in (("a", 10), ("b", 14)):
        got = [(r.window_end.hour, r.n, r.s) for r in spark.read.parquet(
            str(tmp_path / ("ms_snk_" + tag))).collect()]
        assert got == [(t0 + 1, 2, 3.0)], (tag, got)


def test_stream_statement_set_crash_resumes_exactly_once(
    tenv, spark, tmp_path, monkeypatch
):
    """Crash and resume (Flink's exactly-once from consistent snapshots
    plus replay, VLDB 2017): three statements — a TUMBLE count, a HOP
    window Top-N and a stateless projection — drain three
    event-time-ordered files one per batch. The first run fails in the
    sink right after batch 1's writes, before Spark's commit log; the
    second run restarts from the same checkpoint and replays batch 1.
    Every sink must equal one uninterrupted drain, with no row written
    twice."""
    import datetime as dt
    import os

    from flink_1_16_0_src_spark.session import StreamStatementSet

    src = str(tmp_path / "crsrc")
    os.makedirs(src)
    mk = lambda rows: spark.createDataFrame(
        rows, "eid bigint, k string, ts timestamp, v double")
    for i, hour in enumerate((10, 11, 12)):
        _write_single_parquet_file(
            spark,
            mk([(10 * i + j, "ab"[j % 2], dt.datetime(2024, 1, 1, hour, 7 * j),
                 float((7 * i + 3 * j) % 11)) for j in range(8)]),
            os.path.join(src, f"f{i}.parquet"), mtime=1_000_000 * (i + 1),
        )
    tenv.execute_sql(
        f"CREATE TABLE cr_ev (eid BIGINT, k STRING, ts TIMESTAMP(3), v DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='parquet')"
    )
    stmts = [
        "INSERT INTO {p}_t SELECT k, window_end, COUNT(*) AS n "
        "FROM TABLE(TUMBLE(TABLE cr_ev, DESCRIPTOR(ts), INTERVAL '30' MINUTE)) "
        "GROUP BY k, window_start, window_end",
        "INSERT INTO {p}_h SELECT window_end, eid, v, rn FROM ("
        "SELECT window_start, window_end, eid, v, ROW_NUMBER() OVER ("
        "PARTITION BY window_start, window_end ORDER BY v DESC, eid) AS rn "
        "FROM TABLE(HOP(TABLE cr_ev, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
        "INTERVAL '1' HOUR))) WHERE rn <= 2",
        "INSERT INTO {p}_p SELECT eid, v FROM cr_ev WHERE k = 'a'",
    ]
    for p in ("crash", "once"):
        for tag in ("t", "h", "p"):
            tenv.execute_sql(
                f"CREATE TABLE {p}_{tag} WITH ('connector'='filesystem',"
                f"'path'='{tmp_path / p / tag}','format'='parquet')"
            )

    def run(p):
        ss = tenv.create_stream_statement_set()
        for st in stmts:
            ss.add_insert_sql(st.format(p=p))
        ss.execute(checkpoint=str(tmp_path / f"ck_{p}"), max_files_per_trigger=1)

    write, written, crash = StreamStatementSet._write, [], [True]

    def crash_after_batch_1(self, st, rows, bspark, prefix):
        write(self, st, rows, bspark, prefix)
        written.append(prefix)
        if crash[0] and prefix.startswith("sset-b1-s2-"):
            raise RuntimeError("crash after writing batch 1")

    monkeypatch.setattr(StreamStatementSet, "_write", crash_after_batch_1)
    with pytest.raises(Exception, match="crash after writing batch 1"):
        run("crash")
    crash[0] = False
    run("crash")
    # the restart replayed batch 1 into the same sink files
    assert sum(p.startswith("sset-b1-s2-") for p in written) == 2
    run("once")
    for tag in ("t", "h", "p"):
        got, want = (
            sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / p / tag)).collect())
            for p in ("crash", "once")
        )
        assert got == want, tag
        assert got and len(set(got)) == len(got), tag


def test_create_view_sql_routes_streaming(tenv, spark, tmp_path):
    """SQL-text CREATE TEMPORARY VIEW routes to create_streaming_view
    when the body reads a watermarked DDL source or another streaming
    view (SqlCreateView.java — the reference's views are mode-agnostic
    and expand at plan time); plain bodies keep the batch temp view."""
    import datetime as dt

    from flink_1_16_0_src_spark.streaming import sources as ssrc

    d = str(tmp_path / "cvsrc")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), "a", 1.0),
         (2, dt.datetime(2024, 1, 1, 10, 10), "b", 2.0),
         (3, dt.datetime(2024, 1, 1, 12, 0), "a", 4.0)],
        "eid bigint, ts timestamp, k string, v double",
    ).write.parquet(d)
    tenv.execute_sql(
        f"CREATE TABLE cv_ev (eid BIGINT, ts TIMESTAMP(3), k STRING,"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    tenv.execute_sql(
        "CREATE TEMPORARY VIEW cv_a AS SELECT eid, ts, v FROM cv_ev "
        "WHERE k = 'a'"
    )
    assert "cv_a" in tenv._stream_views
    # composes: second-level view over the first, then a TVF agg
    tenv.execute_sql(
        "CREATE TEMPORARY VIEW cv_a2 AS SELECT eid, ts, v * 10 AS v10 "
        "FROM cv_a"
    )
    assert "cv_a2" in tenv._stream_views
    out = tenv.stream_query("""
        SELECT window_end, COUNT(*) AS n, SUM(v10) AS s
        FROM TABLE(TUMBLE(TABLE cv_a2, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start, window_end
    """)
    rows = ssrc.run_to_memory(out, "cv_drain", "append").collect()
    assert [(r.window_end.hour, r.n, r.s) for r in rows] == [(11, 1, 10.0)]
    # batch body → plain temp view, not a streaming one
    spark.createDataFrame([(7,)], "x int").createOrReplaceTempView("cv_base")
    tenv.execute_sql("CREATE TEMPORARY VIEW cv_b AS SELECT x * 2 AS y FROM cv_base")
    assert "cv_b" not in tenv._stream_views
    assert spark.table("cv_b").collect()[0].y == 14
    # ADVICE r11 #5: an output ALIAS that merely shares a streaming
    # relation's name must NOT route a batch view through the streaming
    # path — only FROM/JOIN/TABLE( relation positions count
    tenv.execute_sql(
        "CREATE TEMPORARY VIEW cv_c AS SELECT x * 3 AS cv_ev FROM cv_base"
    )
    assert "cv_c" not in tenv._stream_views
    assert spark.table("cv_c").collect()[0].cv_ev == 21


def test_stream_statement_set_dim_join(tenv, spark, tmp_path):
    """Statement sets admit stream x batch-DIM enrichment joins (r11):
    the watermarked source is the stream; other referenced DDL tables
    are batch dimensions resolved through their batch temp views —
    both in a stateless projection statement and under a TUMBLE
    aggregate."""
    import datetime as dt

    d = str(tmp_path / "dimsrc")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), 10, 1.0),
         (2, dt.datetime(2024, 1, 1, 10, 30), 20, 2.0),
         (3, dt.datetime(2024, 1, 1, 12, 0), 10, 4.0)],
        "eid bigint, ts timestamp, dim_id bigint, v double",
    ).write.parquet(d)
    dimd = str(tmp_path / "dimtab")
    spark.createDataFrame(
        [(10, "alpha"), (20, "beta")], "dim_id bigint, label string"
    ).write.parquet(dimd)
    tenv.execute_sql(
        f"CREATE TABLE dim_ev (eid BIGINT, ts TIMESTAMP(3), dim_id BIGINT,"
        f" v DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE dim_tab (dim_id BIGINT, label STRING)"
        f" WITH ('connector'='filesystem','path'='{dimd}','format'='parquet')"
    )
    a, b = str(tmp_path / "dim_a"), str(tmp_path / "dim_b")
    tenv.execute_sql(
        f"CREATE TABLE dim_snk_a WITH ('connector'='filesystem',"
        f"'path'='{a}','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE dim_snk_b WITH ('connector'='filesystem',"
        f"'path'='{b}','format'='parquet')"
    )
    r = (
        tenv.create_stream_statement_set()
        .add_insert_sql(
            "INSERT INTO dim_snk_a SELECT e.eid, t.label FROM dim_ev e "
            "JOIN dim_tab t ON e.dim_id = t.dim_id"
        )
        .add_insert_sql(
            "INSERT INTO dim_snk_b SELECT t.label, window_end, "
            "COUNT(*) AS n, SUM(e.v) AS s "
            "FROM TABLE(TUMBLE(TABLE dim_ev, DESCRIPTOR(ts), "
            "INTERVAL '1' HOUR)) e JOIN dim_tab t ON e.dim_id = t.dim_id "
            "GROUP BY t.label, window_start, window_end"
        )
        .execute(checkpoint=str(tmp_path / "dimck"))
    )
    assert r["shared_source"] == "dim_ev" and r["window_agg_statements"] == 1
    got_a = sorted((x.eid, x.label) for x in spark.read.parquet(a).collect())
    assert got_a == [(1, "alpha"), (2, "beta"), (3, "alpha")]
    # wm 12:00-1min closes only the 10:00 window
    got_b = sorted((x.label, x.window_end.hour, x.n, x.s)
                   for x in spark.read.parquet(b).collect())
    assert got_b == [("alpha", 11, 1, 1.0), ("beta", 11, 1, 2.0)]
