"""``stateful.RowState`` without Spark: the binary state field round-trips
every value type of ``tests/test_state_codec.py`` to equal values of the
same Python type, and its restricted unpickler refuses state bytes that
name any class or function outside the typed layout's value types, so
a tampered checkpoint cannot run code."""

from __future__ import annotations

import datetime as dt
import os
import pickle
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    BinaryType,
    DateType,
    DayTimeIntervalType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flink_1_16_0_src_spark.streaming import stateful

FIELDS = [
    StructField("k", IntegerType()), StructField("ts", TimestampType()),
    StructField("d", DateType()), StructField("dec", DecimalType(10, 2)),
    StructField("s", StringType()), StructField("x", DoubleType()),
    StructField("big", LongType()),
]


class _State:
    """The part of ``GroupState`` that ``RowState`` uses."""

    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)


def _batch() -> pd.DataFrame:
    """One frame as an operator sees it: numpy/pandas dtypes, NULLs as
    NaN/NaT/None, BIGINT values above 2^53."""
    return pd.DataFrame({
        "k": np.array([1, 2, 3], dtype="int32"),
        "ts": pd.to_datetime(["2024-01-01 10:00:01.123456", "1969-12-31 23:59:59.5", None]),
        "d": [dt.date(2024, 1, 1), dt.date(1969, 12, 31), None],
        "dec": [Decimal("1.50"), Decimal("-20.10"), None],
        "s": ["a", "", None],
        "x": [1.0, np.nan, 2.5],
        "big": np.array([2**60 + 1, -(2**62) - 3, 2**53 + 1], dtype="int64"),
    })


WANT = [
    [1, 2, 3],
    [dt.datetime(2024, 1, 1, 10, 0, 1, 123456), dt.datetime(1969, 12, 31, 23, 59, 59, 500000), None],
    [dt.date(2024, 1, 1), dt.date(1969, 12, 31), None],
    [Decimal("1.50"), Decimal("-20.10"), None],
    ["a", "", None],
    [1.0, None, 2.5],
    [2**60 + 1, -(2**62) - 3, 2**53 + 1],
]


def test_schema_is_one_binary_field_and_layout_is_typed():
    buf = stateful.RowState(FIELDS, extra=[StructField("__n", LongType())], ttl=True)
    assert buf.schema == StructType([StructField("__state", BinaryType())])
    assert [f.name for f in buf.layout.fields] == [f.name for f in FIELDS] + ["__n", "__updated"]
    assert buf.layout["big"].dataType.elementType == LongType()


def test_round_trip_keeps_values_and_python_types():
    buf = stateful.RowState(FIELDS)
    state = _State()
    pdf = _batch()
    buf.write(state, [pdf[c].tolist() for c in buf.names])
    got = buf.read(state)
    assert got == WANT
    for gcol, wcol in zip(got, WANT):
        assert [type(v) for v in gcol] == [type(v) for v in wcol]
    # a batch frame reads as the state does
    assert buf.batch(pdf) == WANT


def test_interval_column_comes_back_as_timedelta():
    buf = stateful.RowState([StructField("gap", DayTimeIntervalType())])
    state = _State()
    pdf = pd.DataFrame({"gap": pd.to_timedelta(["1 days 00:00:01.5", None])})
    buf.write(state, [pdf["gap"].tolist()])
    assert buf.read(state) == [[dt.timedelta(days=1, seconds=1, microseconds=500000), None]]
    assert type(buf.read(state)[0][0]) is dt.timedelta


def test_integral_decimal_and_float_come_back_as_exact_ints():
    # _side_cols sends integral columns as DECIMAL(20,0); a nullable
    # integral column arrives as float64
    buf = stateful.RowState([StructField("big", LongType()), StructField("k", IntegerType())])
    state = _State()
    buf.write(state, [[Decimal(2**60 + 1), None], [3.0, float("nan")]])
    assert buf.read(state) == [[2**60 + 1, None], [3, None]]
    assert type(buf.read(state)[0][0]) is int


def test_extras_are_plain_python_recursively():
    buf = stateful.RowState(
        [FIELDS[1]],
        extra=[
            StructField("__watermark", TimestampType()),
            StructField("__trigger_state", MapType(TimestampType(), StringType())),
            StructField("__fp", StructType().add("a", LongType()).add("b", DoubleType())),
            StructField("__dates", DateType()),
            StructField("__dec", DecimalType(10, 2)),
        ],
    )
    state = _State()
    start = pd.Timestamp("2024-01-01 10:00")
    buf.write(
        state, [[start]],
        start, {start: "{}"}, (np.int64(7), [np.float64(0.5), pd.NaT]),
        np.array([np.int64(1), np.int64(2)]), Decimal("3.10"),
    )
    ts, wm, tstate, fp, arr, dec = buf.read(state)
    py = start.to_pydatetime()
    assert ts == [py] and type(ts[0]) is dt.datetime
    assert wm == py and type(wm) is dt.datetime
    assert tstate == {py: "{}"} and type(next(iter(tstate))) is dt.datetime
    assert fp == [7, [0.5, None]] and type(fp[0]) is int
    assert arr == [1, 2] and type(arr[0]) is int
    assert dec == Decimal("3.10")


def test_ttl_expires_on_read():
    buf = stateful.RowState([FIELDS[0]], ttl=True)
    state = _State()
    buf.write(state, [[1]])
    assert buf.read(state, ttl_ms=60_000) == [[1]]
    v = pickle.loads(state.get[0])
    v[-1] -= 120.0  # written two minutes ago
    state.update((pickle.dumps(v, protocol=5),))
    assert buf.read(state, ttl_ms=60_000) is None
    assert buf.read(state) == [[1]]


class _Payload:
    def __init__(self, path):
        self.path = path

    def __reduce__(self):
        return os.system, (f"touch {self.path}",)


@pytest.mark.parametrize("value", [
    lambda path: [[_Payload(path)]],
    lambda path: [[pd.Timestamp("2024-01-01")]],
    lambda path: [[np.int64(1)]],
    lambda path: [[Decimal("1")], [pd.DataFrame({"a": [1]})]],
])
def test_unpickler_refuses_other_classes_without_running_them(tmp_path, value):
    marker = tmp_path / "ran"
    blob = pickle.dumps(value(marker), protocol=5)
    buf = stateful.RowState([FIELDS[0]])
    with pytest.raises(pickle.UnpicklingError, match="state may not reference"):
        buf.read(_State((blob,)))
    assert not marker.exists()
