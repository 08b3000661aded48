"""Connector + format registry (SURVEY.md §2.1).

Reference parity:
- filesystem connector (flink-connector-files FileSystemTableSource/
  Sink) → ``spark.read/write.<format>``; formats csv
  (CsvFormatFactory.java:62), json (JsonFormatFactory.java:59),
  parquet, orc, avro (gated — needs the spark-avro package), text/raw.
- kafka connector (KafkaDynamicSource.java / KafkaDynamicSink.java) →
  ``format("kafka")`` passthrough option mapping (topic →
  subscribe, properties.bootstrap.servers → kafka.bootstrap.servers).
- datagen (DataGenTableSource.java) → ``format("rate")``.
- print / blackhole sinks → console / noop.
- jdbc (JdbcDynamicTableSource) → ``format("jdbc")`` passthrough.

Pushdown note: all file formats here go through DataSource V2, so
filter/projection/limit/partition pushdown (the reference's
SupportsFilterPushDown etc. abilities) is Catalyst-automatic — verify
with .explain(): PushedFilters / ReadSchema.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FILE_FORMATS = {"parquet", "csv", "json", "orc", "text", "avro"}

# Flink connector option → Spark reader option (per-format)
_CSV_OPTS = {
    "csv.field-delimiter": "sep",
    "csv.allow-comments": "comment",
    "csv.ignore-parse-errors": "mode",  # value translated below
    "csv.null-literal": "nullValue",
}
_JSON_OPTS = {
    "json.ignore-parse-errors": "mode",
}

# lock file held while link directories under the stream root are made or removed
_LOCK = ".lock"


def stream_dir(path: str) -> str:
    """The directory a file stream watches to read ``path``. A file-stream
    source monitors a directory, so a single file is exposed through a
    directory holding one symlink to it (no data copy). The directory is
    named by a digest of the file's absolute path, so every process and
    every call reuses the same one. Creating a new directory removes each
    sibling whose only entry is a symlink to a file that is gone, so the
    directories do not outgrow the files that are still there. Creating
    and removing hold one lock file under the same root, so a process
    never removes a directory another one is filling for a file that has
    just been written again."""
    if not os.path.isfile(path):
        return path
    path = os.path.abspath(path)
    root = os.path.join(tempfile.gettempdir(), "spark_graft_streams")
    link_dir = os.path.join(root, hashlib.sha256(path.encode()).hexdigest()[:16])
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, _LOCK), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            os.mkdir(link_dir)
        except FileExistsError:
            pass
        else:
            _remove_dangling_link_dirs(root, link_dir)
        try:
            os.symlink(path, os.path.join(link_dir, os.path.basename(path)))
        except FileExistsError:
            pass
    return link_dir


def _remove_dangling_link_dirs(root: str, keep: str) -> None:
    for name in os.listdir(root):
        link_dir = os.path.join(root, name)
        if name == _LOCK or link_dir == keep:
            continue
        try:
            entries = os.listdir(link_dir)
            if len(entries) != 1:
                continue
            link = os.path.join(link_dir, entries[0])
            if os.path.islink(link) and not os.path.exists(link):
                os.unlink(link)
                os.rmdir(link_dir)
        except OSError:
            pass  # changed by a process that does not take the lock


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: str | None = None,
    options: dict | None = None,
    streaming: bool = False,
    reader_options: dict | None = None,
) -> DataFrame:
    """A filesystem table read with Flink→Spark option translation: a
    batch frame, or with ``streaming`` a file stream of the same rows.
    ``reader_options`` pass through to Spark's reader (e.g.
    ``maxFilesPerTrigger``). A stream without a ``schema`` takes the
    batch read's, since file streams need one."""
    options = options or {}
    if fmt not in FILE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r} (supported: {sorted(FILE_FORMATS)})")
    if streaming and not schema:
        schema = read_table(spark, path, fmt, None, options).schema
    reader = spark.readStream if streaming else spark.read
    if schema:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", options.get("csv.include-header", "false"))
        for fl, sp in _CSV_OPTS.items():
            if fl in options:
                v = options[fl]
                if sp == "mode":
                    v = "PERMISSIVE" if v == "true" else "FAILFAST"
                reader = reader.option(sp, v)
    elif fmt == "json":
        if options.get("json.ignore-parse-errors") == "true":
            reader = reader.option("mode", "PERMISSIVE")
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    try:
        return getattr(reader, fmt)(stream_dir(path) if streaming else path)
    except Exception as e:  # avro lacking the external package, etc.
        if fmt == "avro":
            raise NotImplementedError(
                "avro requires the spark-avro package on the cluster classpath"
            ) from e
        raise


def kafka_options(props: dict) -> dict[str, str]:
    """Pure Flink-DDL → Spark-kafka option translation
    (KafkaDynamicSource.java / KafkaConnectorOptions): topic →
    subscribe, topic-pattern → subscribePattern,
    properties.bootstrap.servers → kafka.bootstrap.servers,
    scan.startup.mode → startingOffsets (+ timestamp/specific-offsets
    passthrough values). Split out from the reader so the mapping is
    testable without a broker or the kafka package."""
    out = {
        "kafka.bootstrap.servers": props.get(
            "properties.bootstrap.servers", props.get("bootstrap.servers", "")
        )
    }
    if "topic" in props:
        out["subscribe"] = props["topic"]
    if "topic-pattern" in props:
        out["subscribePattern"] = props["topic-pattern"]
    start = props.get("scan.startup.mode", "group-offsets")
    if start == "timestamp" and "scan.startup.timestamp-millis" in props:
        out["startingTimestamp"] = props["scan.startup.timestamp-millis"]
    elif start == "specific-offsets" and "scan.startup.specific-offsets" in props:
        # Flink 'partition:0,offset:42;partition:1,offset:300'
        # (KafkaConnectorOptionsUtil.parseSpecificOffsets) → Spark JSON
        # {"topic":{"0":42,"1":300}} keyed by the declared topic.
        import json

        per_partition: dict[str, int] = {}
        for chunk in props["scan.startup.specific-offsets"].split(";"):
            chunk = chunk.strip()
            if not chunk:
                continue
            fields = dict(
                kv.split(":", 1) for kv in (p.strip() for p in chunk.split(",")) if ":" in kv
            )
            per_partition[fields["partition"].strip()] = int(fields["offset"])
        out["startingOffsets"] = json.dumps({props.get("topic", ""): per_partition})
    else:
        out["startingOffsets"] = {
            "earliest-offset": "earliest",
            "latest-offset": "latest",
        }.get(start, "latest")
    # Flink 1.16 bounded kafka (KafkaConnectorOptions scan.bounded.mode):
    # the batch-read/bounded-stream end condition -> Spark endingOffsets
    bounded = props.get("scan.bounded.mode")
    if bounded == "latest-offset":
        out["endingOffsets"] = "latest"
    elif bounded == "timestamp" and "scan.bounded.timestamp-millis" in props:
        out["endingTimestamp"] = props["scan.bounded.timestamp-millis"]
    if "properties.group.id" in props:
        out["kafka.group.id"] = props["properties.group.id"]
    return out


def jdbc_options(props: dict) -> dict[str, str]:
    """Pure Flink-DDL → Spark-jdbc option translation
    (flink-connectors/flink-connector-jdbc/.../table/JdbcDynamicTableFactory.java
    option set, JdbcConnectorOptions): url → url, table-name → dbtable,
    driver → driver, username → user, password → password, and the
    parallel-scan partitioning quartet scan.partition.column/num/
    lower-bound/upper-bound → partitionColumn/numPartitions/lowerBound/
    upperBound (Flink's JdbcParameterValuesProvider range split ≡
    Spark's stride partitioning — both emit one WHERE-range query per
    partition, which is what makes a 1000-executor scan of a big table
    possible at all). scan.fetch-size → fetchsize. Split out from the
    reader so the mapping is testable without a database."""
    key_map = {
        "url": "url",
        "table-name": "dbtable",
        "driver": "driver",
        "username": "user",
        "password": "password",
        "scan.partition.column": "partitionColumn",
        "scan.partition.num": "numPartitions",
        "scan.partition.lower-bound": "lowerBound",
        "scan.partition.upper-bound": "upperBound",
        "scan.fetch-size": "fetchsize",
    }
    out = {sp: props[fl] for fl, sp in key_map.items() if fl in props}
    missing = {"url", "table-name"} - props.keys()
    if missing:
        raise ValueError(f"jdbc connector requires options {sorted(missing)}")
    return out


def jdbc_source(spark: SparkSession, props: dict) -> DataFrame:
    """JDBC source (JdbcDynamicTableSource.java): batch-only, like the
    reference (JDBC is a bounded scan + lookup connector there too).
    Connects on first action; Spark pushes projections and simple
    filters into the remote query (JDBCScan PushedFilters)."""
    r = spark.read.format("jdbc")
    for k, v in jdbc_options(props).items():
        r = r.option(k, v)
    return r.load()


def jdbc_sink(df: DataFrame, props: dict, mode: str = "append") -> None:
    """JDBC sink (JdbcDynamicTableSink.java): append/overwrite batch
    write. Flink's sink.buffer-flush.* batching maps to Spark's
    per-partition batched inserts (batchsize)."""
    w = df.write.format("jdbc").mode(mode)
    for k, v in jdbc_options(props).items():
        w = w.option(k, v)
    if "sink.buffer-flush.max-rows" in props:
        w = w.option("batchsize", props["sink.buffer-flush.max-rows"])
    w.save()


def kafka_source(spark: SparkSession, props: dict, streaming: bool = True) -> DataFrame:
    """Kafka source: Flink DDL keys → Spark kafka source keys. Returns
    raw key/value binary columns + metadata (topic, partition, offset,
    timestamp) — the same metadata columns Flink exposes via METADATA
    FROM. For connector 'upsert-kafka' (UpsertKafkaDynamicTableFactory)
    the wire source is identical; upsert semantics come from piping the
    keyed stream through ``streaming.stateful.changelog_normalize``
    (tombstone value = NULL → -D), which is exactly how Flink models
    the upsert-kafka changelog."""
    reader = spark.readStream if streaming else spark.read
    r = reader.format("kafka")
    for k, v in kafka_options(props).items():
        r = r.option(k, v)
    return r.load()


def kafka_value_decode(
    df: DataFrame,
    schema,
    fmt: str = "json",
    props: dict | None = None,
    tombstones: bool = False,
    metadata: dict[str, str] | None = None,
) -> DataFrame:
    """Kafka record frame (binary ``key``/``value`` + topic/partition/
    offset/timestamp metadata — the exact columns Spark's kafka source
    emits) → rows of the DDL-declared ``schema``. This is the
    value-deserialization half of the reference's kafka table source
    (KafkaDynamicSource.java createKafkaSource wires the
    DeserializationSchema produced by the declared format;
    DynamicKafkaDeserializationSchema routes key/value/metadata into
    the produced row):

    - ``props['key.fields']`` (KafkaConnectorOptions.KEY_FIELDS,
      ``'a;b'`` semicolon syntax): those schema columns decode from the
      record KEY (format ``props['key.format']``, default ``fmt``).
    - ``props['value.fields-include']='EXCEPT_KEY'`` (mandatory for
      upsert-kafka — UpsertKafkaDynamicTableFactory validates it): the
      value payload carries only the non-key columns; default ALL.
    - formats: json (``from_json``), csv (``from_csv``), raw (single
      column cast — RawFormatFactory semantics).
    - ``tombstones=True`` (upsert-kafka): a NULL value is a DELETE for
      its key; emitted as ``__tombstone`` so
      ``streaming.stateful.changelog_normalize(delete_col='__tombstone')``
      turns it into a ``-D`` row — Flink models upsert-kafka the same
      way (ChangelogNormalize over an upsert source).
    - ``metadata``: output-col → kafka-metadata-col renames, the
      ``METADATA FROM 'timestamp'`` surface (KafkaDynamicSource
      ReadableMetadata enum).

    Pure column expressions (JVM-side from_json/from_csv/cast) — the
    deserializer runs inside whole-stage codegen, no Python in the
    per-record path, and works identically on a batch stand-in frame
    (the broker-less contract tests) and a live readStream.
    """
    from pyspark.sql import types as T
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    props = props or {}
    key_fields = [f for f in props.get("key.fields", "").split(";") if f]
    value_include_all = props.get("value.fields-include", "ALL").upper() != "EXCEPT_KEY"
    key_schema = StructType([f for f in schema.fields if f.name in key_fields])
    value_schema = (
        schema
        if value_include_all
        else StructType([f for f in schema.fields if f.name not in key_fields])
    )

    def decode(col, f, sch: StructType):
        if f == "json":
            return F.from_json(col.cast("string"), sch)
        if f == "csv":
            ddl = ", ".join(f"{fl.name} {fl.dataType.simpleString()}" for fl in sch.fields)
            return F.from_csv(col.cast("string"), ddl)
        if f == "raw":
            if len(sch.fields) != 1:
                raise ValueError("raw format requires exactly one column")
            fl = sch.fields[0]
            return F.struct(col.cast(fl.dataType).alias(fl.name))
        raise NotImplementedError(f"kafka record format {f!r}")

    if fmt in ("debezium-json", "canal-json", "maxwell-json", "ogg-json"):
        # CDC envelope formats (flink-formats/flink-json
        # DebeziumJsonDeserializationSchema / CanalJsonDeserializationSchema /
        # MaxwellJsonDeserializationSchema / ogg/OggJsonDeserializationSchema):
        # the payload wraps row images + an op code; emitted rows carry the
        # declared schema + __rowkind. Updates emit BOTH the -U before image
        # and the +U after image (the reference's RowKind pair), so
        # retract-style consumers (aggregates over the changelog) see the
        # full retraction stream; keyed upsert consumers filter -U like
        # kafka_value_encode does. A record explodes to its (image, kind)
        # pairs via one array literal — still pure Catalyst expressions.
        def pair(img, rk: str):
            return F.struct(img.alias("img"), F.lit(rk).alias("rk"))

        if fmt in ("debezium-json", "ogg-json"):
            # debezium: {"before", "after", "op": c|r|u|d}
            # ogg (GoldenGate): {"before", "after", "op_type": I|U|D}
            op_field = "op" if fmt == "debezium-json" else "op_type"
            env = T.StructType(
                [
                    T.StructField("before", schema),
                    T.StructField("after", schema),
                    T.StructField(op_field, T.StringType()),
                ]
            )
            parsed = df.withColumn("__env", F.from_json(F.col("value").cast("string"), env))
            op = F.col(f"__env.{op_field}")
            is_ins = op.isin("c", "r") if fmt == "debezium-json" else (op == "I")
            is_upd = op == ("u" if fmt == "debezium-json" else "U")
            before, after = F.col("__env.before"), F.col("__env.after")
            pairs = (
                F.when(is_ins, F.array(pair(after, "+I")))
                .when(is_upd, F.array(pair(before, "-U"), pair(after, "+U")))
                .otherwise(F.array(pair(before, "-D")))
            )
            out = parsed.select("*", F.explode(pairs).alias("__e"))
        elif fmt == "maxwell-json":
            # maxwell: {"data": {row}, "old": {changed cols' OLD values},
            # "type": insert|update|delete} — the -U image is data patched
            # with old (a field changed FROM null is indistinguishable from
            # an absent field under from_json; documented cut vs the
            # reference's JSON-node presence check)
            env = T.StructType(
                [
                    T.StructField("data", schema),
                    T.StructField("old", schema),
                    T.StructField("type", T.StringType()),
                ]
            )
            parsed = df.withColumn("__env", F.from_json(F.col("value").cast("string"), env))
            data = F.col("__env.data")
            before = F.struct(
                *[
                    F.coalesce(F.col(f"__env.old.{f.name}"), F.col(f"__env.data.{f.name}")).alias(f.name)
                    for f in schema.fields
                ]
            )
            typ = F.col("__env.type")
            pairs = (
                F.when(typ == "insert", F.array(pair(data, "+I")))
                .when(typ == "update", F.array(pair(before, "-U"), pair(data, "+U")))
                .when(typ == "delete", F.array(pair(data, "-D")))
            )
            out = parsed.select("*", F.explode(pairs).alias("__e"))
        else:  # canal-json: {"data": [rows], "old": [sparse rows], "type": ...}
            env = T.StructType(
                [
                    T.StructField("data", T.ArrayType(schema)),
                    T.StructField("old", T.ArrayType(schema)),
                    T.StructField("type", T.StringType()),
                ]
            )
            parsed = df.withColumn("__env", F.from_json(F.col("value").cast("string"), env))
            pe = parsed.select("*", F.posexplode(F.col("__env.data")).alias("__pos", "__data"))
            old_i = F.col("__env.old").getItem(F.col("__pos"))
            before = F.struct(
                *[
                    F.coalesce(old_i[f.name], F.col(f"__data.{f.name}")).alias(f.name)
                    for f in schema.fields
                ]
            )
            data = F.col("__data")
            typ = F.col("__env.type")
            pairs = (
                F.when(typ == "INSERT", F.array(pair(data, "+I")))
                .when(typ == "UPDATE", F.array(pair(before, "-U"), pair(data, "+U")))
                .when(typ == "DELETE", F.array(pair(data, "-D")))
            )
            out = pe.select("*", F.explode(pairs).alias("__e"))
        sel = [F.col(f"__e.img.{f.name}").alias(f.name) for f in schema.fields]
        for out_name, meta_col in (metadata or {}).items():
            sel.append(F.col(meta_col).alias(out_name))
        sel.append(F.col("__e.rk").alias("__rowkind"))
        return out.select(*sel)

    out = df
    if key_fields:
        out = out.withColumn(
            "__k", decode(F.col("key"), props.get("key.format", fmt), key_schema)
        )
    out = out.withColumn("__v", decode(F.col("value"), fmt, value_schema))
    sel = [
        (F.col(f"__k.{f.name}") if f.name in key_fields else F.col(f"__v.{f.name}")).alias(
            f.name
        )
        for f in schema.fields
    ]
    for out_name, meta_col in (metadata or {}).items():
        sel.append(F.col(meta_col).alias(out_name))
    if tombstones:
        sel.append(F.col("value").isNull().alias("__tombstone"))
    return out.select(*sel)


def kafka_value_encode(
    df: DataFrame,
    schema,
    fmt: str = "json",
    props: dict | None = None,
    rowkind_col: str | None = None,
) -> DataFrame:
    """The SINK half of the kafka table connector (KafkaDynamicSink /
    UpsertKafkaDynamicTableFactory sink path): rows of the declared
    ``schema`` → the (key binary, value binary) frame Spark's kafka
    sink writes. Inverse of ``kafka_value_decode``:

    - ``props['key.fields']``: those columns serialize into the record
      KEY (``key.format``, default ``fmt``); with
      ``'value.fields-include'='EXCEPT_KEY'`` the value carries only
      the remaining columns.
    - ``rowkind_col``: changelog input (``__rowkind`` from
      changelog_normalize) — ``-D`` rows emit a NULL value (the
      upsert-kafka tombstone; DynamicKafkaRecordSerializationSchema
      does exactly this for DELETE), ``-U`` rows are dropped (upsert
      sinks keep only the AFTER image, like Flink's upsert-kafka which
      requires an upsert changelog without UPDATE_BEFORE).
    - formats: json (``to_json``), csv (comma ``concat_ws`` of
      canonical string casts).

    Pure column expressions; round-trips through ``kafka_value_decode``
    byte-exactly for json (contract-tested offline)."""
    from pyspark.sql import types as T
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    props = props or {}
    key_fields = [f for f in props.get("key.fields", "").split(";") if f]
    value_include_all = props.get("value.fields-include", "ALL").upper() != "EXCEPT_KEY"
    value_fields = [
        f.name
        for f in schema.fields
        if value_include_all or f.name not in key_fields
    ]

    def enc(cols: list[str], f: str):
        if f == "json":
            return F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary")
        if f == "csv":
            return F.concat_ws(",", *[F.col(c).cast("string") for c in cols]).cast("binary")
        raise NotImplementedError(f"kafka sink format {f!r}")

    out = df
    if rowkind_col is not None:
        out = out.where(F.col(rowkind_col) != "-U")
    key_col = (
        enc(key_fields, props.get("key.format", fmt)) if key_fields else F.lit(None).cast("binary")
    )
    value_col = enc(value_fields, fmt)
    if rowkind_col is not None:
        value_col = F.when(F.col(rowkind_col) == "-D", F.lit(None).cast("binary")).otherwise(
            value_col
        )
    return out.select(key_col.alias("key"), value_col.alias("value"))


def datagen_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    return (
        spark.readStream.format("rate").option("rowsPerSecond", str(rows_per_second)).load()
    )


def write_table(
    df: DataFrame,
    path: str | None,
    connector: str,
    fmt: str = "parquet",
    options: dict | None = None,
    partitioned_by: list[str] | None = None,
) -> None:
    """Batch sink: filesystem formats, print (console), blackhole (noop).

    ``partitioned_by`` = Flink `PARTITIONED BY (...)` on the filesystem
    connector (FileSystemTableSink.java:115 partitionKeys →
    :177 setPartitionColumns) → hive-style directory layout via Spark's
    ``partitionBy``. At 100 TB this is the difference between a full
    scan and partition-pruned reads — downstream queries filtering on a
    partition key touch only matching directories.
    """
    if connector == "print":
        df.show(truncate=False)
        return
    if connector == "blackhole":
        df.write.format("noop").mode("overwrite").save()
        return
    if connector == "jdbc":
        jdbc_sink(df, options or {}, (options or {}).get("sink.mode", "append"))
        return
    if connector in ("kafka", "upsert-kafka"):
        # sink half of the kafka table connector (KafkaDynamicSink):
        # rows encode to the (key, value) wire frame via
        # kafka_value_encode, then Spark's kafka sink ships them. The
        # encoding + option mapping are offline-testable; .save() needs
        # a broker (env-gated, like the source half).
        props = options or {}
        wire = kafka_value_encode(
            df, df.schema, props.get("format", "json"), props
        )
        (wire.write.format("kafka")
         .option("kafka.bootstrap.servers",
                 props.get("properties.bootstrap.servers", ""))
         .option("topic", props.get("topic", ""))
         .save())
        return
    writer = df.write.mode(options.get("sink.mode", "overwrite") if options else "overwrite")
    if partitioned_by:
        writer = writer.partitionBy(*partitioned_by)
    if fmt == "csv":
        writer = writer.option("header", True)
    getattr(writer, fmt)(path)


def compact_partitions(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    partitioned_by: list[str] | None = None,
    target_file_size_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the filesystem sink's `auto-compaction`
    (FileSystemConnectorOptions.java:232 'auto-compaction';
    FileSystemTableSink.java:199 autoCompaction; compact operators under
    flink-connector-files .../table/stream/compact/). Flink compacts
    per-checkpoint files below `compaction.file-size` into bigger ones;
    here: read the table back, coalesce to ceil(bytes/target) files
    (per partition directory when partitioned), then swap directories
    (old aside → tmp in → delete old) so a crash mid-swap leaves either
    the old or the new table, never neither. Local-filesystem paths
    only (os.rename/os.walk); object stores need a committer instead.
    Returns the file count after compaction.

    Scale: streaming sinks at high parallelism produce
    O(executors × triggers) small files; unchecked, a 100 TB table
    becomes millions of KB-files and listing dominates query time.
    Run this per partition as it closes (partition-commit analog).
    """
    import math

    def _size(p):
        total = 0
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith(("_", ".")))
        return total

    raw = path.removeprefix("file://")
    n_files = max(1, math.ceil(_size(raw) / target_file_size_bytes))
    df = getattr(spark.read, fmt)(path)
    tmp = raw.rstrip("/") + ".compact_tmp"
    writer = df.coalesce(n_files).write.mode("overwrite")
    if partitioned_by:
        # repartition by partition cols so each output dir gets few writers
        writer = df.repartition(n_files, *partitioned_by).write.mode("overwrite").partitionBy(*partitioned_by)
    getattr(writer, fmt)(tmp)
    import shutil

    old = raw.rstrip("/") + ".compact_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(raw, old)
    os.rename(tmp, raw)
    shutil.rmtree(old)
    out = 0
    for root, _dirs, files in os.walk(raw):
        out += sum(1 for f in files if f.endswith("." + fmt) or (fmt == "text" and f.endswith(".txt")))
    return out


def with_metadata_columns(df: DataFrame) -> DataFrame:
    """Metadata columns (`METADATA FROM 'file.path'` etc., SURVEY.md
    §1.4; SqlCreateTable metadata column syntax): Spark's file sources
    expose the hidden ``_metadata`` struct — project the Flink-named
    metadata fields from it."""
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("meta_file_path"),
        F.col("_metadata.file_name").alias("meta_file_name"),
        F.col("_metadata.file_size").alias("meta_file_size"),
    )


def enforce_constraints(
    df: DataFrame,
    not_null: list[str] | None = None,
    char_length: dict[str, int] | None = None,
    not_null_enforcer: str = "ERROR",
    char_length_enforcer: str = "TRIM_PAD",
) -> DataFrame:
    """Sink-side constraint enforcement — ConstraintEnforcer.java
    (T-RUNTIME/operators/sink/): Flink validates NOT NULL and
    CHAR/VARCHAR(n) lengths on write.

    - ``not_null_enforcer``: 'ERROR' (fail the job on a NULL — done
      declaratively with raise_error so it happens distributed, not on
      the driver) or 'DROP' (filter violating rows), matching
      table.exec.sink.not-null-enforcer.
    - ``char_length_enforcer``: 'TRIM_PAD' (truncate to n like Flink's
      CHAR semantics) or 'IGNORE', matching
      table.exec.sink.type-length-enforcer.
    """
    out = df
    for c in not_null or []:
        if not_null_enforcer == "DROP":
            out = out.where(F.col(c).isNotNull())
        else:
            out = out.withColumn(
                c,
                F.when(
                    F.col(c).isNull(),
                    F.raise_error(
                        F.lit(f"Column '{c}' is NOT NULL, however, a null value is being written")
                    ),
                ).otherwise(F.col(c)),
            )
    for c, n in (char_length or {}).items():
        if char_length_enforcer == "TRIM_PAD":
            out = out.withColumn(c, F.substring(F.col(c), 1, n))
    return out


def list_partitions(path: str) -> list[dict[str, str]]:
    """Partition discovery — FileSystemTableSource.getOrFetchPartitions
    (flink-connector-files .../table/FileSystemTableSource.java:128) and
    Catalog.listPartitions: enumerate hive-style key=value directories
    under a partitioned table path. Pure metadata (directory listing) —
    the same listing Spark's scan does before pruning; at 100 TB scale
    this is what a metastore caches."""
    raw = path.removeprefix("file://")
    out: list[dict[str, str]] = []

    def walk(d: str, spec: dict[str, str]):
        subs = [
            e for e in os.listdir(d)
            if "=" in e and os.path.isdir(os.path.join(d, e))
        ]
        if not subs:
            if spec:
                out.append(spec)
            return
        for e in sorted(subs):
            k, _, v = e.partition("=")
            walk(os.path.join(d, e), {**spec, k: v})

    walk(raw, {})
    return out
