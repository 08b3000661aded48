"""Typed state round-trip for every Python-state streaming operator.

Each operator drains a three-file stream (``maxFilesPerTrigger=1``, one
micro-batch per file), so some output rows are read back from state.
The input mixes whole-second and sub-second timestamps, a DATE, a
DECIMAL(10,2), a STRING, a DOUBLE with NULLs and BIGINT values above
2^53 that a float64 cannot hold. Every operator must keep each input
column with its type, and its drained output must equal a pandas
reference of the operator's semantics.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_1_16_0_src_spark.streaming import dedup, joins, late, sources, stateful, windows

T0 = dt.datetime(2024, 1, 1, 10, 0, 0)
COLS = ["k", "ts", "d", "dec", "s", "x", "big"]
DDL = "k int, ts timestamp, d date, dec decimal(10,2), s string, x double, big bigint"
RCOLS = ["rk", "rts", "rd", "rdec", "rs", "rbig"]
RDDL = "rk int, rts timestamp, rd date, rdec decimal(10,2), rs string, rbig bigint"
RVALS = ["rd", "rdec", "rs", "rbig"]  # the as-of join's right-side value columns


def _t(sec: float | None):
    return pd.NaT if sec is None else pd.Timestamp(T0 + dt.timedelta(seconds=sec))


def _big(base: int, n: int) -> list[int]:
    """Odd values above 2^53: each one rounds when it passes through float64."""
    return [base + 2 * i + 1 for i in range(n)]


# (batch, k, seconds after T0, d, dec, s, x); per key, ts grows with the batch
LEFT = [
    (0, 1, 0, dt.date(2024, 1, 1), "1.50", "a", 1.0),
    (0, 1, 1.123456, dt.date(2024, 1, 2), "2.25", "b", 2.0),
    (0, 2, 2, dt.date(2024, 2, 1), "10.00", "c", None),
    (1, 1, 10, dt.date(2024, 1, 3), "3.75", "d", 4.0),
    (1, 1, 10.25, dt.date(2024, 1, 4), "0.10", "e", None),
    (1, 2, 4.123456, dt.date(2024, 2, 2), "20.10", "f", 5.5),
    (1, 2, 15, dt.date(2024, 2, 3), "30.20", "g", 6.5),
    (2, 1, 30, dt.date(2024, 1, 5), "5.55", "h", 7.0),
    (2, 2, 31.5, dt.date(2024, 2, 4), "40.40", "i", 8.0),
]
RIGHT = [
    (0, 1, -1, dt.date(2023, 12, 31), "7.10", "r1"),
    (1, 2, 3, dt.date(2024, 3, 1), "8.20", "r2"),
    (1, 1, None, dt.date(2024, 3, 2), "6.60", "r4"),  # NULL time: never an as-of version
    (2, 1, 20.5, dt.date(2024, 4, 1), "9.30", "r3"),
]


def _left_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        [(b, k, _t(sec), d, Decimal(dec), s, x, big)
         for (b, k, sec, d, dec, s, x), big in zip(LEFT, _big(2**60, len(LEFT)))],
        columns=["b"] + COLS,
    )


def _right_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        [(b, k, _t(sec), d, Decimal(dec), s, big)
         for (b, k, sec, d, dec, s), big in zip(RIGHT, _big(2**61, len(RIGHT)))],
        columns=["b"] + RCOLS,
    )


def _arrow_type(ddl_type: str):
    return {
        "int": pa.int32(),
        "timestamp": pa.timestamp("us", tz="UTC"),  # Spark reads it as TIMESTAMP
        "date": pa.date32(),
        "decimal(10,2)": pa.decimal128(10, 2),
        "string": pa.string(),
        "double": pa.float64(),
        "bigint": pa.int64(),
    }[ddl_type]


def _write_batches(pdf: pd.DataFrame, ddl: str, d: str) -> None:
    os.makedirs(d)
    fields = [f.split(" ", 1) for f in ddl.split(", ")]
    schema = pa.schema([(n, _arrow_type(t)) for n, t in fields])
    for b in range(3):
        part = pdf[pdf["b"] == b].drop(columns="b")
        arrays = [
            pa.array(part[n].tolist(), type=schema.field(n).type, from_pandas=True)
            for n, _ in fields
        ]
        path = os.path.join(d, f"{b:02d}.parquet")
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)
        os.utime(path, (1_700_000_000 + 10 * b,) * 2)  # file order = batch order


@pytest.fixture(scope="module")
def streams(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("state_codec")
    _write_batches(_left_pdf(), DDL, str(root / "left"))
    _write_batches(_right_pdf(), RDDL, str(root / "right"))

    def read(name, ddl):
        return spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(str(root / name))

    # two state partitions: a few rows per batch need no more Python tasks
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield lambda: (read("left", DDL), read("right", RDDL))
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _per_key(pdf: pd.DataFrame):
    for _k, g in pdf.sort_values(["k", "ts"]).groupby("k", sort=True):
        yield g.reset_index(drop=True)


def _prefix_emissions(each):
    """Update-mode reference: after every batch, ``each(rows so far)`` for
    each key that has rows in that batch."""
    ev, out = _left_pdf(), []
    for b in range(3):
        for k in ev[ev["b"] == b]["k"].unique():
            out.append(each(ev[(ev["b"] <= b) & (ev["k"] == k)].sort_values("ts")))
    return pd.concat(out, ignore_index=True)


def _ref_topn(order_col: str = "ts"):
    # NULL orders lowest: last in a descending Top-N
    return _prefix_emissions(
        lambda g: g.sort_values(order_col, ascending=False, na_position="last", kind="stable")
        .head(2).assign(rank_num=[1, 2][: min(2, len(g))])
    )


def _ref_changelog():
    out = []
    for g in _per_key(_left_pdf()):
        rows = g[COLS].to_dict("records")
        out.append({**rows[0], "__rowkind": "+I"})
        for prev, cur in zip(rows, rows[1:]):
            out += [{**prev, "__rowkind": "-U"}, {**cur, "__rowkind": "+U"}]
    return pd.DataFrame(out)


def _ref_over_bounded():
    out = []
    for g in _per_key(_left_pdf()):
        r = g["x"].rolling(2, min_periods=1)
        out.append(g.assign(bounded_cnt=r.count(), bounded_sum=r.sum(), bounded_avg=r.mean(),
                            bounded_min=r.min(), bounded_max=r.max()))
    return pd.concat(out)


def _ref_over_range():
    out = []
    for g in _per_key(_left_pdf()):
        for _, row in g.iterrows():
            w = g[(g["ts"] >= row["ts"] - pd.Timedelta("5s")) & (g["ts"] <= row["ts"])]["x"]
            out.append({**row[COLS], "mx": w.max(), "cx": w.count()})
    return pd.DataFrame(out)


def _ref_over_unbounded():
    out = []
    for g in _per_key(_left_pdf()):
        # FIRST_VALUE skips NULLs: the first non-null value, once seen
        first = pd.Series(g["x"].bfill().iloc[0], index=g.index).where(g["x"].notna().cummax())
        out.append(g.assign(lag_x=g["x"].shift(1), sum_x=g["x"].fillna(0).cumsum(),
                            fv_x=first, n=range(1, len(g) + 1)))
    return pd.concat(out)


def _ref_asof():
    ev, r = _left_pdf(), _right_pdf()
    out = []
    for _, row in ev.iterrows():
        # versions visible to a left row: right rows of its batch or earlier
        v = r[(r["rk"] == row["k"]) & (r["b"] <= row["b"]) & (r["rts"] <= row["ts"])]
        last = v.sort_values("rts").iloc[-1] if len(v) else None
        out.append({**row[COLS], **{c: (None if last is None else last[c]) for c in RVALS}})
    return pd.DataFrame(out)


def _ref_window_topn():
    ev = _left_pdf()
    ev["window_start"] = ev["ts"].dt.floor("10s")
    ev["window_end"] = ev["window_start"] + pd.Timedelta("10s")
    closed = ev[ev["window_end"] <= ev["ts"].max()]  # final watermark, zero delay
    top = closed.sort_values("dec", ascending=False).groupby(["window_start", "k"]).head(1)
    return top.assign(rank_num=1)


def _ref_temporal_sort():
    ev = _left_pdf()
    wm = ev.groupby("k")["ts"].transform("max") - pd.Timedelta("5s")
    return ev[ev["ts"] <= wm]


def _udfs():
    """(window function, delta function) — built in a function so that
    the Python workers receive them by value, not as a reference to
    this test module."""

    def window_fn(w: pd.DataFrame) -> dict:
        # typed arithmetic on every column: Decimal sum, date and Timestamp max
        return {"n": len(w), "ts": w["ts"].max(), "d": max(w["d"]), "dec": sum(w["dec"]),
                "s": "".join(w["s"]), "x": w["x"].iloc[-1], "big": max(w["big"])}

    def delta(a: dict, c: dict) -> float:
        return (c["ts"] - a["ts"]).total_seconds()

    return window_fn, delta


_window_fn, _delta = _udfs()


def _ref_count_window():
    out = []
    for g in _per_key(_left_pdf()):
        for i in range(len(g) // 2):
            out.append({"k": g["k"].iloc[0], **_window_fn(g.iloc[2 * i : 2 * i + 2])})
    return pd.DataFrame(out)


def _ref_delta_window():
    out = []
    for g in _per_key(_left_pdf()):
        rows, anchor, buf = g[COLS].to_dict("records"), None, []
        for d in rows:
            buf.append(d)
            if anchor is None:
                anchor = d
            elif _delta(anchor, d) > 6.0:
                out.append({"k": d["k"], **_window_fn(pd.DataFrame(buf))})
                buf, anchor = [], d
    return pd.DataFrame(out)


WINDOW_DDL = "k int, n long, ts timestamp, d date, dec decimal(10,2), s string, x double, big long"

# id -> (build(left, right) -> (DataFrame, output mode), reference())
CASES = {
    "streaming_topn": (
        lambda l, r: (stateful.streaming_topn(l, ["k"], "ts", 2), "update"), _ref_topn),
    "streaming_topn_nullable_order": (
        lambda l, r: (stateful.streaming_topn(l, ["k"], "x", 2), "update"),
        lambda: _ref_topn("x")),
    "keep_last_dedup": (
        lambda l, r: (stateful.keep_last_dedup(l, ["k"], order_col="ts"), "update"),
        lambda: _prefix_emissions(lambda g: g.tail(1))),
    "keep_first_dedup": (
        lambda l, r: (stateful.keep_first_dedup(l, ["k"], order_col="ts"), "update"),
        lambda: pd.concat([g.head(1) for g in _per_key(_left_pdf())])),
    "changelog_normalize": (
        lambda l, r: (stateful.changelog_normalize(l, ["k"], order_col="ts"), "append"),
        _ref_changelog),
    "streaming_over_bounded": (
        lambda l, r: (stateful.streaming_over_bounded(l, ["k"], "ts", "x", rows=2), "append"),
        _ref_over_bounded),
    "streaming_over_multi_range": (
        lambda l, r: (stateful.streaming_over_multi(
            l, ["k"], "ts", [("MAX", "x", "mx"), ("COUNT", "x", "cx")], range_interval="5 seconds"),
            "append"),
        _ref_over_range),
    "streaming_over_multi_lag": (
        lambda l, r: (stateful.streaming_over_multi(
            l, ["k"], "ts",
            [("LAG", "x", "lag_x", 1), ("SUM", "x", "sum_x"), ("FIRST_VALUE", "x", "fv_x"),
             ("COUNT", None, "n")]),
            "append"),
        _ref_over_unbounded),
    "streaming_asof_join": (
        lambda l, r: (stateful.streaming_asof_join(
            l, r.withColumnRenamed("rk", "k"), "k", "ts", "rts", RVALS), "append"),
        _ref_asof),
    "window_topn": (
        lambda l, r: (windows.window_topn(
            l.withWatermark("ts", "0 seconds"), "ts", "10 seconds", ["k"], "dec", 1,
            ["ts", "d", "s", "x", "big"]), "append"),
        _ref_window_topn),
    "temporal_sort": (
        lambda l, r: (dedup.temporal_sort(l, "ts", "5 seconds", ["k"]), "append"),
        _ref_temporal_sort),
    "unbounded_join": (
        lambda l, r: (joins.unbounded_join(l, r, ("k", "rk"), how="inner"), "append"),
        lambda: _left_pdf().merge(_right_pdf().drop(columns="b"), left_on="k", right_on="rk")
        .assign(__rowkind="+I")),
    "streaming_count_window": (
        lambda l, r: (late.streaming_count_window(
            l, ["k"], 2, _window_fn, WINDOW_DDL, order_col="ts"), "append"),
        _ref_count_window),
    "streaming_delta_trigger_window": (
        lambda l, r: (late.streaming_delta_trigger_window(
            l, ["k"], _delta, 6.0, _window_fn, WINDOW_DDL, order_col="ts"), "append"),
        _ref_delta_window),
}


def _canon(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    def norm(v):
        if v is None or (not isinstance(v, (str, Decimal, dt.date)) and pd.isna(v)):
            return None
        if isinstance(v, dt.datetime):
            return pd.Timestamp(v)
        if isinstance(v, float):
            return round(v, 6)
        return v.item() if hasattr(v, "item") else v

    rows = [tuple(norm(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


@pytest.mark.parametrize("case", list(CASES))
def test_state_codec_keeps_types(spark, streams, case):
    build, reference = CASES[case]
    left, right = streams()
    out, mode = build(left, right)
    inputs = {f.name: f.dataType for f in left.schema.fields + right.schema.fields}
    exp = reference()
    kept = [c for c in exp.columns if c in inputs and c in out.columns]
    assert set(COLS) <= set(out.columns), f"dropped input columns: {set(COLS) - set(out.columns)}"
    assert {c: out.schema[c].dataType for c in kept} == {c: inputs[c] for c in kept}

    got = sources.run_to_memory(out, f"codec_{case}", mode).toPandas()
    cols = [c for c in out.columns if c in exp.columns]
    assert _canon(got, cols) == _canon(exp, cols)
