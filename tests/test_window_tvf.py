"""One window-TVF reader; batch, ``stream_query`` and the statement set
agree.

``sql_clauses.parse_window_tvf`` reads every spelling of a window-TVF
call once; batch SQL, ``stream_query`` and the streaming statement set
all consume its spec, so they accept and reject the same calls.
``stream_query`` drains every spelling in append mode to the closed
windows of batch SQL, and the statement set, which plans its window
aggregates through ``stream_query`` on Spark's window state, must equal
``stream_query``'s drains.
"""

from __future__ import annotations

import ast
import datetime as dt
import glob
import os
import pathlib
import shutil
import tempfile

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "flink_1_16_0_src_spark"

H = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731


@pytest.fixture(scope="module")
def tenv(spark):
    from flink_1_16_0_src_spark.session import TableEnvironment

    return TableEnvironment(spark)


def _one_file(spark, df, path, mtime):
    """``df`` as ONE parquet file at ``path`` with a pinned mtime (the
    file stream source orders files by modification time)."""
    tmp = tempfile.mkdtemp(prefix="tvf_onefile_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], path)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(path, (mtime, mtime))


# source layouts: the table's files and the DDL columns before its
# watermark. "csv" is ;-delimited CSV; "computed" declares its time
# attribute and one value column as computed columns over physical ones.
_LAYOUTS = {
    "parquet": "eid BIGINT, k STRING, ts TIMESTAMP(3), v DOUBLE",
    "csv": "eid BIGINT, k STRING, ts TIMESTAMP(3), v DOUBLE",
    "computed": "eid BIGINT, k STRING, s STRING, half DOUBLE, "
                "ts AS TO_TIMESTAMP(s), v AS half * 2",
}


def _source(tenv, spark, tmp_path, name, batches, layout="parquet"):
    """A watermarked DDL source ``name`` made of one file per batch."""
    src = tmp_path / f"{name}_src"
    src.mkdir()
    fmt = "csv" if layout == "csv" else "parquet"
    for i, rows in enumerate(batches):
        path, mtime = src / f"f{i}.{fmt}", 1_000_000 * (i + 1)
        if fmt == "csv":
            path.write_text("".join(f"{e};{k};{ts};{v}\n" for e, k, ts, v in rows))
            os.utime(path, (mtime, mtime))
            continue
        df = spark.createDataFrame(rows, "eid bigint, k string, ts timestamp, v double")
        if layout == "computed":
            df = df.selectExpr("eid", "k", "CAST(ts AS STRING) AS s", "v / 2 AS half")
        _one_file(spark, df, str(path), mtime=mtime)
    tenv.execute_sql(
        f"CREATE TABLE {name} ({_LAYOUTS[layout]},"
        f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)"
        f" WITH ('connector'='filesystem','path'='{src}','format'='{fmt}'"
        + (",'csv.field-delimiter'=';')" if fmt == "csv" else ")")
    )


def _sink(tenv, tmp_path, name):
    path = tmp_path / name
    tenv.execute_sql(
        f"CREATE TABLE {name} WITH ('connector'='filesystem',"
        f"'path'='{path}','format'='parquet')"
    )
    return str(path)


def _rows(df):
    """The rows of ``df`` as sorted tuples, read by position (an output
    column may carry the source's name)."""
    return sorted(tuple(r) for r in df.collect())


# three event-time-ordered batches, no late row: the final watermark
# (12:49) closes every window ending by 12:30 (12:40 with the offset)
_BATCHES = [
    [(1, "a", H(10, 5), 1.0), (2, "b", H(10, 20), 2.0), (3, "a", H(10, 40), 4.0)],
    [(4, "a", H(11, 0), 8.0), (5, "b", H(11, 25), 16.0), (6, "a", H(11, 35), 32.0)],
    [(7, "b", H(12, 10), 64.0), (8, "a", H(12, 20), 128.0), (9, "a", H(12, 50), 256.0)],
]

_SPELLINGS = {
    "positional": "TABLE(TUMBLE(TABLE {t}, DESCRIPTOR(ts), INTERVAL '1' HOUR))",
    "named": "TABLE(TUMBLE(DATA => TABLE {t}, TIMECOL => DESCRIPTOR(ts), "
             "SIZE => INTERVAL '1' HOUR))",
    "tumble_offset": "TABLE(TUMBLE(TABLE {t}, DESCRIPTOR(ts), INTERVAL '1' HOUR, "
                     "INTERVAL '10' MINUTE))",
    "hop": "TABLE(HOP(TABLE {t}, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
           "INTERVAL '1' HOUR))",
    "hop_offset": "TABLE(HOP(TABLE {t}, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
                  "INTERVAL '1' HOUR, INTERVAL '10' MINUTE))",
    "cumulate": "TABLE(CUMULATE(TABLE {t}, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
                "INTERVAL '1' HOUR))",
    "lower_case": "table(hop(table {t}, descriptor(ts), interval '30' minute, "
                  "interval '1' hour))",
}
# two aggregates with equal partial aggregates: the statement set's
# query must keep both stateful branches emitting
_SELECTS = {
    "acc": "SELECT k, window_start, window_end, COUNT(*) AS n, SUM(v) AS s "
           "FROM {tvf} GROUP BY k, window_start, window_end",
    "raw": "SELECT k, window_start, window_end, COUNT(*) AS n, ROUND(SUM(v), 2) AS s "
           "FROM {tvf} GROUP BY k, window_start, window_end",
}


@pytest.mark.parametrize("name", sorted(_SPELLINGS) + ["positional@computed"])
def test_statement_set_equals_stream_query(tenv, spark, tmp_path, name):
    """Every spelling drains the same windows through a three-batch
    statement set as through ``stream_query``'s one-batch drain of the
    same SELECT. CUMULATE drains ``stream_query`` in update mode, which
    also holds the still-open slices, so its rows are cut at the final
    watermark. A ``@computed`` source windows a computed time attribute."""
    from flink_1_16_0_src_spark.streaming import sources as ssrc

    name, _, layout = name.partition("@")
    t = f"tvfeq_{name}{layout}"
    _source(tenv, spark, tmp_path, t, _BATCHES, layout or "parquet")
    tvf = _SPELLINGS[name].format(t=t)
    ss = tenv.create_stream_statement_set()
    sinks = {}
    for path, sel in _SELECTS.items():
        sinks[path] = _sink(tenv, tmp_path, f"{t}_{path}")
        ss.add_insert_sql(f"INSERT INTO {t}_{path} " + sel.format(tvf=tvf))
    receipt = ss.execute(checkpoint=str(tmp_path / "ck"), max_files_per_trigger=1)
    assert receipt["window_agg_statements"] == 2
    final_wm = H(12, 49)
    for path, sel in _SELECTS.items():
        mode = "update" if name == "cumulate" else "append"
        drained = ssrc.run_to_memory(
            tenv.stream_query(sel.format(tvf=tvf)), f"{t}_{path}_q", mode
        )
        want = [r for r in _rows(drained) if r[2] <= final_wm]
        got = _rows(spark.read.parquet(sinks[path]))
        assert got == want, path
        assert got, path


_EXTRA_ARG = {
    "TUMBLE": "TUMBLE(TABLE {t}, DESCRIPTOR(ts), INTERVAL '1' HOUR, "
              "INTERVAL '1' MINUTE, INTERVAL '2' MINUTE)",
    "HOP": "HOP(TABLE {t}, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
           "INTERVAL '1' HOUR, INTERVAL '1' MINUTE, INTERVAL '2' MINUTE)",
    "CUMULATE": "CUMULATE(TABLE {t}, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
                "INTERVAL '1' HOUR, INTERVAL '1' MINUTE)",
    "SESSION": "SESSION(TABLE {t}, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
               "INTERVAL '1' HOUR)",
}


@pytest.fixture(scope="module")
def extra_env(tenv, spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("tvf_extra")
    _source(tenv, spark, tmp, "tvfx_ev", _BATCHES[:1])
    _sink(tenv, tmp, "tvfx_snk")
    return tenv


@pytest.mark.parametrize("fn", sorted(_EXTRA_ARG))
def test_extra_interval_argument_raises_everywhere(extra_env, fn):
    """An interval argument past the function's arity is an error in
    batch, in ``stream_query`` and in the statement set — never
    silently ignored."""
    sql = (
        "SELECT window_start, window_end, COUNT(*) AS n FROM TABLE("
        + _EXTRA_ARG[fn].format(t="tvfx_ev")
        + ") GROUP BY window_start, window_end"
    )
    with pytest.raises(ValueError, match=f"{fn} takes"):
        extra_env.execute_sql(sql)
    with pytest.raises(ValueError, match=f"{fn} takes"):
        extra_env.stream_query(sql)
    with pytest.raises(ValueError, match=f"{fn} takes"):
        extra_env.create_stream_statement_set().add_insert_sql(
            "INSERT INTO tvfx_snk " + sql
        )


def test_statement_set_rejects_slide_past_size(extra_env):
    """A HOP slide or CUMULATE step larger than the size leaves rows in
    no window; the statement set rejects it when the statement is
    added instead of failing the drain mid-stream."""
    for tvf in ("HOP(TABLE tvfx_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR, "
                "INTERVAL '30' MINUTE)",
                "CUMULATE(TABLE tvfx_ev, DESCRIPTOR(ts), INTERVAL '1' HOUR, "
                "INTERVAL '30' MINUTE)"):
        with pytest.raises(ValueError, match="must not exceed its size"):
            extra_env.create_stream_statement_set().add_insert_sql(
                "INSERT INTO tvfx_snk SELECT window_start, window_end, "
                f"COUNT(*) AS n FROM TABLE({tvf}) GROUP BY window_start, window_end"
            )


def test_parse_window_tvf_spellings():
    from flink_1_16_0_src_spark.sql_clauses import parse_window_tvf

    sql = ("SELECT * FROM TABLE(HOP(DATA => TABLE ev, TIMECOL => DESCRIPTOR(ts), "
           "SIZE => INTERVAL '1' HOUR, SLIDE => INTERVAL '30' MINUTE)) w")
    tvf = parse_window_tvf(sql)
    assert (tvf.fn, tvf.table, tvf.ts) == ("HOP", "ev", "ts")
    assert (tvf.slide, tvf.size, tvf.offset) == ("30 minutes", "1 hours", None)
    assert sql[tvf.start:tvf.end].startswith("TABLE(HOP(") and sql[tvf.end:] == " w"
    tvf = parse_window_tvf(
        "select * from table(session(table ev partition by a, b, "
        "descriptor(ts), interval '5' minute))"
    )
    assert (tvf.fn, tvf.keys, tvf.gap) == ("SESSION", ["a", "b"], "5 minutes")
    sql = ("SELECT * FROM TABLE(TUMBLE(TABLE (SELECT ts FROM ev WHERE k = 'x,y'), "
           "DESCRIPTOR(ts), INTERVAL '1' HOUR))")
    tvf = parse_window_tvf(sql)
    assert (tvf.table, tvf.subquery) == (None, "SELECT ts FROM ev WHERE k = 'x,y'")
    assert tvf.with_table(sql, "v") == (
        "SELECT * FROM TABLE(TUMBLE(TABLE v, DESCRIPTOR(ts), INTERVAL '1' HOUR))"
    )
    assert parse_window_tvf("SELECT 'TABLE(TUMBLE(' AS s FROM ev") is None
    for bad, msg in [
        ("HOP(TABLE ev, DESCRIPTOR(ts), INTERVAL '1' HOUR)", "HOP takes 2 to 3"),
        ("TUMBLE(TABLE ev, DESCRIPTOR(ts), GAP => INTERVAL '1' HOUR)", "no argument named GAP"),
        ("TUMBLE(TABLE ev, DESCRIPTOR(ts), SIZE => INTERVAL '1' HOUR, "
         "SIZE => INTERVAL '2' HOUR)", "given twice"),
        ("TUMBLE(TABLE ev, ts, INTERVAL '1' HOUR)", "DESCRIPTOR"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_window_tvf(f"SELECT * FROM TABLE({bad})")


_HOP = ("FROM TABLE(HOP(TABLE tvf_pre70, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
        "INTERVAL '1' HOUR)) GROUP BY window_start, window_end")


def test_hop_before_1970_on_both_staging_paths(tenv, spark, tmp_path):
    """Window ends of pre-1970 rows: the grid arithmetic must floor
    toward minus infinity. Both staging paths emit exactly the five
    closed HOP windows."""
    dec31 = lambda h, m: dt.datetime(1969, 12, 31, h, m)  # noqa: E731
    jan1 = lambda h, m: dt.datetime(1970, 1, 1, h, m)  # noqa: E731
    _source(tenv, spark, tmp_path, "tvf_pre70", [[
        (1, "a", dec31(22, 10), 1.0), (2, "a", dec31(22, 40), 1.0),
        (3, "a", dec31(23, 50), 1.0), (4, "a", jan1(3, 0), 1.0),
    ]])
    acc = _sink(tenv, tmp_path, "tvf_pre70_acc")
    raw = _sink(tenv, tmp_path, "tvf_pre70_raw")
    tenv.create_stream_statement_set().add_insert_sql(
        f"INSERT INTO tvf_pre70_acc SELECT window_start, window_end, COUNT(*) AS n {_HOP}"
    ).add_insert_sql(
        f"INSERT INTO tvf_pre70_raw SELECT window_start, window_end, "
        f"COUNT(*) + 0 AS n {_HOP}"
    ).execute(checkpoint=str(tmp_path / "ck"))
    want = [
        (dec31(21, 30), dec31(22, 30), 1),
        (dec31(22, 0), dec31(23, 0), 2),
        (dec31(22, 30), dec31(23, 30), 1),
        (dec31(23, 0), jan1(0, 0), 1),
        (dec31(23, 30), jan1(0, 30), 1),
    ]
    for path in (acc, raw):
        got = sorted((r.window_start, r.window_end, r.n)
                     for r in spark.read.parquet(path).collect())
        assert got == want, path


def test_resume_rejects_old_statement_set_layout(tenv, spark, tmp_path):
    """A checkpoint that the older statement set wrote, with its own
    window staging under ``sset_manifest.json``, cannot resume on
    Spark's state store; execute() refuses it and names the layout."""
    _source(tenv, spark, tmp_path, "tvf_old_ev", _BATCHES[:1])
    _sink(tenv, tmp_path, "tvf_old_snk")
    ss = tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO tvf_old_snk SELECT window_end, COUNT(*) AS n "
        "FROM TABLE(TUMBLE(TABLE tvf_old_ev, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR)) GROUP BY window_start, window_end"
    )
    ck = tmp_path / "ck"
    ck.mkdir()
    (ck / "sset_manifest.json").write_text("{}")
    with pytest.raises(ValueError, match="older layout.*sset_manifest.json"):
        ss.execute(checkpoint=str(ck))


# the statement set rejects a TVF over anything but its source, so the
# subquery spelling is compared between batch and stream_query only
_BATCH_SPELLINGS = {
    **_SPELLINGS,
    "subquery": "TABLE(TUMBLE(TABLE (SELECT k, ts, v FROM {t} WHERE v < 100), "
                "DESCRIPTOR(ts), INTERVAL '1' HOUR))",
}
# window Top-N and legacy group windows, spelled so that _rows reads them
_TOPN = (
    "SELECT k, window_start, window_end, eid AS n, v AS s FROM ("
    "SELECT k, window_start, window_end, eid, v, ROW_NUMBER() OVER ("
    "PARTITION BY window_start, window_end, k ORDER BY v DESC) AS rn "
    "FROM {tvf}{where}) WHERE rn <= 1"
)
_LEGACY = (
    "SELECT k, {fn}_START(ts, {iv}) AS window_start, {fn}_END(ts, {iv}) "
    "AS window_end, COUNT(*) AS n, SUM(v) AS s FROM {{t}}{where} "
    "GROUP BY k, {fn}(ts, {iv})"
)
_HOUR, _HOP_IV = "INTERVAL '1' HOUR", "INTERVAL '30' MINUTE, INTERVAL '1' HOUR"
# filters that drop the last batch's rows: the watermark must still come
# from every source row, so the window [11:00, 12:00) closes
_WHERE = " WHERE v < 64"
_SHAPES = {
    "topn": _TOPN.format(tvf=_SPELLINGS["positional"], where=""),
    "topn_hop_offset": _TOPN.format(tvf=_SPELLINGS["hop_offset"], where=""),
    "legacy_tumble": _LEGACY.format(fn="TUMBLE", iv=_HOUR, where=""),
    "legacy_hop": _LEGACY.format(fn="HOP", iv=_HOP_IV, where=""),
    "legacy_session": _LEGACY.format(fn="SESSION", iv="INTERVAL '30' MINUTE",
                                     where=""),
    # an output alias equal to the source's name is not a read of it
    "count_as_source": "SELECT k, window_start, window_end, COUNT(*) AS {t}, "
                       "SUM(v) AS s FROM " + _SPELLINGS["positional"]
                       + " GROUP BY k, window_start, window_end",
}
_STATEMENTS = {
    **{n: _SELECTS["acc"].format(tvf=tvf) for n, tvf in _BATCH_SPELLINGS.items()},
    **_SHAPES,
    "topn_where": _TOPN.format(tvf=_SPELLINGS["positional"], where=_WHERE),
    "legacy_where": _LEGACY.format(fn="TUMBLE", iv=_HOUR, where=_WHERE),
    "subquery_where": _SELECTS["acc"].format(
        tvf="TABLE(TUMBLE(TABLE (SELECT * FROM {t}" + _WHERE + "), "
            "DESCRIPTOR(ts), INTERVAL '1' HOUR))"),
}


# the batches moved to straddle 1970-01-01 (10:05 → 1969-12-31 23:05,
# the final watermark 01:49)
_TO_1969 = H(0) - dt.datetime(1969, 12, 31, 13, 0)


@pytest.mark.parametrize(
    "name", sorted(_STATEMENTS)
    + [f"{n}@1969" for n in sorted(_SPELLINGS) + sorted(_SHAPES)]
    + ["positional@csv", "positional@computed"]
)
def test_batch_equals_stream_query(tenv, spark, tmp_path, name):
    """Batch ``execute_sql`` and ``stream_query``'s append-mode drain of
    the same SELECT agree on every window the final watermark closed,
    for every spelling, CUMULATE and a ``TABLE (SELECT ...)`` argument
    included, for window Top-N and for legacy ``GROUP BY TUMBLE|HOP|
    SESSION(...)`` windows. A ``@1969`` case moves the rows across
    1970-01-01: ``stream_query`` windows a watermarked source on event
    time moved past the epoch, so windows ending by then close as well.
    A ``_where`` case filters out the last batch's rows, which must
    still advance the watermark. A ``@csv`` or ``@computed`` case reads
    another source layout (``_LAYOUTS``)."""
    from flink_1_16_0_src_spark.streaming import sources as ssrc

    spelling, _, era = name.partition("@")
    move = _TO_1969 if era == "1969" else dt.timedelta(0)
    t = f"tvfbs_{spelling}{era}"
    _source(tenv, spark, tmp_path, t, [
        [(e, k, ts - move, v) for e, k, ts, v in rows] for rows in _BATCHES
    ], era if era in _LAYOUTS else "parquet")
    sql = _STATEMENTS[spelling].format(t=t)
    batch = tenv.execute_sql(sql)
    stream = ssrc.run_to_memory(tenv.stream_query(sql), f"{t}_q", "append")
    assert stream.columns == batch.columns
    want = [r for r in _rows(batch) if r[2] <= H(12, 49) - move]
    got = _rows(stream)
    assert got == want
    assert got
    if era == "1969":
        assert any(r[2] <= dt.datetime(1970, 1, 1) for r in got)


_CUMULATE = (
    "SELECT window_start, window_end, COUNT(*) AS n, SUM(v) AS s "
    "FROM TABLE(CUMULATE(TABLE {t}, DESCRIPTOR(ts), {step}, INTERVAL '1' HOUR)) "
    "GROUP BY window_start, window_end"
)


def test_cumulate_before_1970_in_statement_set(tenv, spark, tmp_path):
    """CUMULATE spans are aligned to the epoch, so every window holding
    a pre-1970 row ends by 1970-01-01. Spark's watermark never falls
    below the epoch; the statement set runs its windows on event time
    moved past it and must still equal batch SQL, across batches."""
    dec31 = lambda h, m: dt.datetime(1969, 12, 31, h, m)  # noqa: E731
    jan1 = lambda h, m: dt.datetime(1970, 1, 1, h, m)  # noqa: E731
    _source(tenv, spark, tmp_path, "tvf_cum70", [
        [(1, "a", dec31(22, 10), 1.0), (2, "a", dec31(22, 50), 2.0)],
        [(3, "a", dec31(23, 20), 4.0), (4, "a", jan1(0, 10), 8.0)],
        [(5, "a", jan1(2, 0), 16.0)],
    ])
    sink = _sink(tenv, tmp_path, "tvf_cum70_snk")
    sql = _CUMULATE.format(t="tvf_cum70", step="INTERVAL '30' MINUTE")
    tenv.create_stream_statement_set().add_insert_sql(
        "INSERT INTO tvf_cum70_snk " + sql
    ).execute(checkpoint=str(tmp_path / "ck"), max_files_per_trigger=1)
    want = sorted(
        (r.window_start, r.window_end, r.n, r.s)
        for r in tenv.execute_sql(sql).collect() if r.window_end <= jan1(1, 59)
    )
    got = sorted((r.window_start, r.window_end, r.n, r.s)
                 for r in spark.read.parquet(sink).collect())
    assert got == want
    assert [w[:3] for w in got] == [
        (dec31(22, 0), dec31(22, 30), 1), (dec31(22, 0), dec31(23, 0), 2),
        (dec31(23, 0), dec31(23, 30), 1), (dec31(23, 0), jan1(0, 0), 1),
        (jan1(0, 0), jan1(0, 30), 1), (jan1(0, 0), jan1(1, 0), 1),
    ]


def test_cumulate_size_must_be_a_multiple_of_step(extra_env):
    """Flink's CumulativeSliceAssigner requires the size to be an
    integral multiple of the step; batch, ``stream_query`` and the
    statement set all raise ValueError instead of truncating."""
    sql = _CUMULATE.format(t="tvfx_ev", step="INTERVAL '40' MINUTE")
    ss = extra_env.create_stream_statement_set()
    for run in (extra_env.execute_sql, extra_env.stream_query,
                lambda q: ss.add_insert_sql("INSERT INTO tvfx_snk " + q)):
        with pytest.raises(ValueError, match="integral multiple of its step"):
            run(sql)


def test_window_topn_offset_batch_equals_stream(tenv, spark, tmp_path):
    """Window Top-N over a TUMBLE with an offset ranks on the offset
    grid in ``stream_query`` as in batch: 10:05 and 10:15 share
    [09:30, 10:30), 10:40 opens [10:30, 11:30)."""
    from flink_1_16_0_src_spark.streaming import sources as ssrc

    _source(tenv, spark, tmp_path, "tvf_topn_off", [[
        (1, "a", H(10, 5), 1.0), (2, "a", H(10, 15), 5.0),
        (3, "a", H(10, 40), 2.0), (4, "a", H(12, 50), 1.0),
    ]])
    sql = (
        "SELECT window_start, window_end, eid, rn FROM ("
        "SELECT window_start, window_end, eid, ROW_NUMBER() OVER ("
        "PARTITION BY window_start, window_end ORDER BY v DESC) AS rn "
        "FROM TABLE(TUMBLE(TABLE tvf_topn_off, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR, INTERVAL '30' MINUTE))) WHERE rn <= 1"
    )

    def rows(df):
        return sorted((r.window_start, r.window_end, r.eid, r.rn)
                      for r in df.collect() if r.window_end <= H(12, 49))

    batch = rows(tenv.execute_sql(sql))
    stream = rows(ssrc.run_to_memory(tenv.stream_query(sql), "tvf_topn_off_q", "append"))
    assert stream == batch == [
        (H(9, 30), H(10, 30), 2, 1), (H(10, 30), H(11, 30), 3, 1),
    ]


# statements over a plain watermarked source that name it outside a
# relation position, or read it as batch SQL binds it
_BINDINGS = {
    "qualified": "SELECT {t}.k, {t}.v FROM {t}",
    "alias_is_source": "SELECT k, v AS {t} FROM {t}",
    "literal": "SELECT k, v, '{t}' AS src FROM {t} WHERE k <> 'FROM {t}'",
    "backticked": "SELECT k, v FROM `{t}` WHERE v > 2",
    "self_join": "SELECT a.k, b.v FROM {t} a JOIN {t} b ON a.eid = b.eid + 1",
    "over_qualified": "SELECT k, SUM(v) OVER (PARTITION BY k ORDER BY ts) AS s "
                      "FROM {t} WHERE {t}.v > 2",
}


@pytest.mark.parametrize("name", sorted(_BINDINGS))
def test_stream_query_binds_sources_as_batch(tenv, spark, tmp_path, name):
    """``stream_query`` binds a DDL source only at relation positions and
    keeps its name there as the relation's alias: a qualified column, an
    output alias or a string literal equal to the source's name, a
    backticked source and a self-join drain the rows batch SQL returns,
    under the same column names."""
    from flink_1_16_0_src_spark.streaming import sources as ssrc

    t = f"bind_{name}"
    _source(tenv, spark, tmp_path, t, _BATCHES)
    sql = _BINDINGS[name].format(t=t)
    batch = tenv.execute_sql(sql)
    stream = ssrc.run_to_memory(tenv.stream_query(sql), f"{t}_q", "append")
    assert stream.columns == batch.columns
    assert _rows(stream) == _rows(batch)
    assert _rows(stream)


def test_statement_set_binds_qualified_columns(tenv, spark, tmp_path):
    """A statement-set INSERT that qualifies its source's columns with
    the source's name writes the rows batch SQL returns; a cast to
    VARCHAR is not an aggregate."""
    t = "sset_qualified"
    _source(tenv, spark, tmp_path, t, _BATCHES)
    sink = _sink(tenv, tmp_path, f"{t}_snk")
    sql = (f"SELECT {t}.eid, CAST({t}.k AS VARCHAR(4)) AS k, {t}.v "
           f"FROM {t} WHERE {t}.v > 2")
    tenv.create_stream_statement_set().add_insert_sql(
        f"INSERT INTO {t}_snk {sql}"
    ).execute(checkpoint=str(tmp_path / "ck"), max_files_per_trigger=1)
    got = _rows(spark.read.parquet(sink))
    assert got == _rows(tenv.execute_sql(sql))
    assert len(got) == 7


def test_only_sql_clauses_reads_descriptor():
    """The window-TVF reader must not fork again: no library module but
    ``sql_clauses.py`` holds a regex that matches ``DESCRIPTOR(``."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "sql_clauses.py" and path.parent == PACKAGE:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and "DESCRIPTOR\\s*\\(" in node.value):
                offenders.append((str(path.relative_to(PACKAGE)), node.lineno))
    assert not offenders, f"window-TVF regex outside sql_clauses: {offenders}"
