"""Custom stateful streaming operators — the Flink-only semantics Spark
has no builtin for (SURVEY.md §2 "custom" rows), on
``applyInPandasWithState`` (per-key managed state + Arrow batches, the
Spark analog of Flink's keyed ValueState).

Reference parity:
- streaming Top-N: StreamExecRank.java:83, AppendOnlyTopNFunction.java
  → :func:`streaming_topn` (state = current top-k rows per key).
- keep-last deduplicate: StreamExecDeduplicate.java:85,
  ProcTimeDeduplicateKeepLastRowFunction.java:32 → :func:`keep_last_dedup`.
- streaming OVER (unbounded preceding): StreamExecOverAggregate.java:91,
  ProcTimeUnboundedPrecedingFunction.java → :func:`streaming_over_unbounded`.
- changelog normalize: StreamExecChangelogNormalize.java:74 →
  :func:`changelog_normalize` (emits explicit ``__rowkind`` +I/-U/+U/-D
  — Spark has no retraction rows, so the changelog is a visible column,
  SURVEY.md §7.3 risk 1).
- upsert sink materialization: SinkUpsertMaterializer.java:62 →
  :func:`foreach_batch_upsert` (keyed MERGE per micro-batch).
- temporal/as-of join: StreamExecTemporalJoin.java:77,
  TemporalRowTimeJoinOperator.java → :func:`streaming_asof_join`
  (union-tag both sides, per-key sorted version store).

State layout: every Python-state operator of the library (here, in
``dedup``, ``joins``, ``late``, ``triggers`` and ``windows``, the
streaming CEP matchers and the streaming statement set's SESSION
branch) that buffers rows stores its per-key state through one codec,
:class:`RowState`; the two that keep only scalars
(:func:`keyed_inactivity_timer`, :func:`changelog_group_aggregate`) use
a plain ``StructType``. The codec's declared layout is one
``ArrayType(field.dataType)`` per buffered column, for any Spark type,
then an operator's own scalar, array or map fields, then an optional
trailing ``__updated`` wall-clock second for the lazy TTL. Spark holds
the layout's values as one BINARY field, pickled (protocol 5) from
Python natives and read back through a restricted unpickler that admits
only the ``datetime`` and ``decimal`` classes, so a row reads back with
the types it was stored with (Flink's one typed serializer per state
descriptor) and Spark's state encoder is the same class in every
micro-batch. :func:`_frame` builds every output frame from columns in
one constructor call.

Scale: every op keys its state (state size = O(k) / O(1) / O(versions)
per key, never O(stream)); Arrow moves batches, no per-row Python; the
shuffle is the single groupBy on the key — the same asymptotics as the
reference's keyed-state operators.
"""

from __future__ import annotations

import bisect
import io
import os
import pickle
import time
from decimal import Decimal
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _py(v, integral: bool = False):
    """Normalize one value for the state pickle, whose reader admits no
    numpy/pandas class: Python natives, NaN/NaT → None, and floats or
    Decimals back to ints for an integral field (a nullable integer
    column arrives in pandas as float64; :func:`_side_cols` sends one as
    DECIMAL(20,0))."""
    if integral and isinstance(v, Decimal):
        return int(v)
    if isinstance(v, (float, np.floating)):
        if v != v:
            return None
        return int(v) if integral else float(v)
    if v is pd.NaT:
        return None
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime()
    if hasattr(v, "to_pytimedelta"):
        return v.to_pytimedelta()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return v.tolist()
    return v


def _side_cols(df: DataFrame, cols: list[str]) -> list:
    """One side's columns for a two-input operator's
    ``unionByName(..., allowMissingColumns=True)``. The other side's
    rows are NULL in them, so pandas would read an integral column as
    float64, exact only up to 2^53; it travels as DECIMAL(20,0) instead
    and ``_py(v, integral=True)`` turns it back into an int."""
    return [
        F.col(c).cast("decimal(20,0)").alias(c)
        if isinstance(df.schema[c].dataType, IntegralType)
        else F.col(c)
        for c in cols
    ]


def _ints(values) -> np.ndarray:
    """Integral output values as an object array: a list of ints with a
    None in it would become float64 in a pandas frame."""
    return np.array([_py(v, True) for v in values], dtype=object)


def _null_low(v):
    """Sort key that orders NULL (None/NaN/NaT) below every value, the
    reference's default null collation (ASC NULLS FIRST, DESC NULLS
    LAST)."""
    return (False, 0) if v is None or v != v else (True, v)


def _plain(v):
    """An operator's own state value as Python natives, recursively
    through lists and dicts: numpy scalars and arrays, pandas Timestamps
    and Timedeltas (the conversions ``GroupState.update`` applies at the
    top level), NaT → None, tuples → lists."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {_plain(k): _plain(x) for k, x in v.items()}
    if v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        return v.tolist()
    if hasattr(v, "to_pytimedelta"):
        return v.to_pytimedelta()
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime()
    return v


# The only classes a state pickle may name: the Python types of the
# typed layout's DATE, TIMESTAMP, INTERVAL and DECIMAL values. Every
# other value is a pickle primitive (int, float, str, bytes, bool,
# None, list, dict).
_STATE_CLASSES = {
    ("datetime", "date"), ("datetime", "datetime"), ("datetime", "timedelta"),
    ("decimal", "Decimal"),
}


class _StateUnpickler(pickle.Unpickler):
    """Reads state bytes without running code from them: a pickle that
    names any other class or function, ``os.system`` say, raises
    ``UnpicklingError`` before it is called."""

    def find_class(self, module, name):
        if (module, name) in _STATE_CLASSES:
            return super().find_class(module, name)
        raise pickle.UnpicklingError(f"state may not reference {module}.{name}")


class RowState:
    """The state codec of a per-key row buffer. Its declared layout
    (``layout``) is one ``ArrayType(field.dataType)`` per buffered
    column, then ``extra`` fields (an operator's own accumulators), then
    — with ``ttl`` — the wall-clock second of the last write. Spark
    stores it as one BINARY field (``schema``): the layout's values
    pickled as one list, read back through :class:`_StateUnpickler`.
    With the typed layout as the state schema, Spark would build its
    state encoder with ``MapObjects``, whose lambda variables get fresh
    ids in every micro-batch, so the encoder would compile anew in each;
    one binary field compiles once. The arrays of one buffer need not
    share a length, so two buffers (the sides of a join) can share one
    state."""

    def __init__(self, fields, extra=(), ttl: bool = False):
        self.names = [f.name for f in fields]
        self.integral = [isinstance(f.dataType, IntegralType) for f in fields]
        self._ttl = ttl
        self.layout = StructType(
            [StructField(f.name, ArrayType(f.dataType)) for f in fields]
            + list(extra)
            + ([StructField("__updated", DoubleType())] if ttl else [])
        )
        self.schema = StructType([StructField("__state", BinaryType())])

    def read(self, state, ttl_ms: int | None = None) -> list | None:
        """Per-column value lists followed by the extra fields; None when
        the key has no state or more than ``ttl_ms`` passed since the
        last write (expiry on access — Flink's StateTtlConfig
        OnReadAndWrite visibility)."""
        if not state.exists:
            return None
        v = _StateUnpickler(io.BytesIO(state.get[0])).load()
        if self._ttl:
            if ttl_ms is not None and (time.time() - v[-1]) * 1000.0 > ttl_ms:
                return None
            v.pop()
        return v

    def write(self, state, cols, *extra) -> None:
        v = [[_py(x, i) for x in c] for c, i in zip(cols, self.integral)]
        v += [_plain(e) for e in extra]
        if self._ttl:
            v.append(time.time())
        state.update((pickle.dumps(v, protocol=5),))

    def frame(self, cols) -> pd.DataFrame:
        """The buffered rows as a pandas frame."""
        return pd.DataFrame(dict(zip(self.names, cols)))

    def rows(self, cols, names=None) -> list[dict]:
        """The buffered rows as dicts keyed by ``names`` (default: the
        buffered columns) — the row view of every row-oriented
        operator."""
        return [dict(zip(names or self.names, r)) for r in zip(*cols)]

    def batch(self, pdf: pd.DataFrame) -> list[list]:
        """A batch frame's buffered columns as :meth:`read` returns them:
        Python values, NULL as None, exact ints. A batch row and a row
        restored from state then compare, sort, hash and reach user
        callbacks alike."""
        return [[_py(v, i) for v in pdf[c].tolist()] for c, i in zip(self.names, self.integral)]


def _frame(names, cols: dict, keys=(), key=()) -> pd.DataFrame:
    """One group's output: a single dict-of-arrays constructor call with
    the group key broadcast into ``keys``. Inserting columns one by one
    pays several pandas block-manager operations per group, and with
    thousands of groups per batch that per-group constant is the cost
    of an operator."""
    n = len(next(iter(cols.values())))
    for kc, kv in zip(keys, key):
        cols[kc] = [kv] * n
    return pd.DataFrame({c: cols[c] for c in names})


def _split(sdf: DataFrame, keys: list[str]):
    """(key fields, value fields) of ``sdf`` in schema order."""
    fields = sdf.schema.fields
    return [f for f in fields if f.name in keys], [f for f in fields if f.name not in keys]


def streaming_topn(
    sdf: DataFrame,
    partition_keys: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Continuous per-key top-k (AppendOnly strategy): state holds the
    current top-k rows; every batch emits the refreshed top-k with
    ``rank_num``. Run in update output mode. ``ttl_ms`` expires a
    key's state on next access after the idle period — the same
    visibility semantics as Flink's default StateTtlConfig
    (OnReadAndWrite cleanup, flink-core/.../state/StateTtlConfig.java).
    NB: Spark's ProcessingTimeTimeout (eager background eviction)
    crashes Python workers in this build, so expiry is lazy-on-access;
    at 100 TB cap total state via watermark-scoped operators where
    possible."""
    key_fields, vals = _split(sdf, partition_keys)
    out_schema = StructType(key_fields + vals + [StructField("rank_num", IntegerType())])
    buf = RowState(vals, ttl=True)
    carry, names = buf.names, out_schema.fieldNames()
    oi = carry.index(order_col)

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        cols = buf.read(state, ttl_ms)
        rows = list(zip(*cols)) if cols else []
        for pdf in pdfs:
            rows.extend(pdf[carry].itertuples(index=False, name=None))
        if not rows:
            return
        rows.sort(key=lambda r: _null_low(r[oi]), reverse=descending)
        cols = [list(c) for c in zip(*rows[:k])]
        buf.write(state, cols)
        out = dict(zip(carry, cols))
        out["rank_num"] = range(1, len(cols[0]) + 1)
        yield _frame(names, out, partition_keys, key)

    return sdf.groupBy(*partition_keys).applyInPandasWithState(
        fn, out_schema, buf.schema, "update", GroupStateTimeout.NoTimeout
    )


def _dedup(sdf: DataFrame, keys: list[str], order_col: str | None, ttl_ms, last: bool):
    """keep_last_dedup / keep_first_dedup: the state is the kept row."""
    key_fields, vals = _split(sdf, keys)
    out_schema = StructType(key_fields + vals)
    buf = RowState(vals, ttl=True)
    carry, names = buf.names, out_schema.fieldNames()
    oi = carry.index(order_col) if order_col else None

    def replaces(cand, kept) -> bool:
        if kept is None:
            return True
        if oi is None:  # proctime: arrival order decides
            return last
        a, b = cand[oi], kept[oi]
        # a NULL order value never supersedes, nor is superseded
        return a is not None and b is not None and (a >= b if last else a < b)

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        cols = buf.read(state, ttl_ms)
        kept = [c[0] for c in cols] if cols else None
        changed = False
        for pdf in pdfs:
            if len(pdf):
                p = pdf.sort_values(order_col, kind="stable") if order_col else pdf
                # per-column extraction: row-wise p[carry].iloc[i] upcasts
                # mixed numeric dtypes to float64
                i = -1 if last else 0
                cand = [_py(p[c].iloc[i]) for c in carry]
                if replaces(cand, kept):
                    kept, changed = cand, True
        if kept is None:
            return
        buf.write(state, [[v] for v in kept])
        if changed or last:
            yield _frame(names, {c: [v] for c, v in zip(carry, kept)}, keys, key)

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, buf.schema, "update", GroupStateTimeout.NoTimeout
    )


def keep_last_dedup(
    sdf: DataFrame, keys: list[str], order_col: str | None = None, ttl_ms: int | None = None
) -> DataFrame:
    """Last row per key wins (emits the refreshed last row each batch —
    update semantics). ``order_col`` breaks intra-batch order by that
    column (rowtime dedup); None keeps arrival order (proctime).
    ``ttl_ms`` expires state lazily on next access (StateTtlConfig
    OnReadAndWrite semantics — see streaming_topn note)."""
    return _dedup(sdf, keys, order_col, ttl_ms, last=True)


def keep_first_dedup(
    sdf: DataFrame, keys: list[str], order_col: str | None = None, ttl_ms: int | None = None
) -> DataFrame:
    """First row per key wins (DeduplicateKeepFirstRowFunction /
    FirstRowFunction parity — the reference's
    flink-table-runtime deduplicate keep-first path). ``order_col``
    picks the MIN-order row within a batch and allows a later batch to
    supersede with a smaller order value (rowtime semantics, update
    emission); ``order_col=None`` is proctime arrival order — once a
    key has state, later rows emit nothing. ``ttl_ms`` as keep_last."""
    return _dedup(sdf, keys, order_col, ttl_ms, last=False)


_OVER_STATS = (("COUNT", "cnt"), ("SUM", "sum"), ("AVG", "avg"), ("MIN", "min"), ("MAX", "max"))


def streaming_over_unbounded(
    sdf: DataFrame, keys: list[str], order_col: str, value_col: str
) -> DataFrame:
    """Per-key running aggregates over UNBOUNDED PRECEDING (every input
    row is emitted once, extended with running cnt/sum/avg/min/max).
    Rows are processed in ``order_col`` order within a batch and in
    arrival order across batches (same visible semantics as Flink's
    proctime OVER; rowtime OVER exactness requires ordered input)."""
    return streaming_over_multi(
        sdf, keys, order_col,
        [(fn, value_col, f"running_{al}") for fn, al in _OVER_STATS],
    )


def streaming_over_bounded(
    sdf: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    rows: int | None = None,
    range_interval: str | None = None,
) -> DataFrame:
    """Per-key OVER with a BOUNDED preceding frame — the reference's
    RowTimeRowsBoundedPrecedingFunction (``rows=n`` → ROWS BETWEEN n-1
    PRECEDING AND CURRENT ROW) and RowTimeRangeBoundedPrecedingFunction
    (``range_interval='10 minutes'`` → RANGE BETWEEN interval PRECEDING
    AND CURRENT ROW), emitting bounded cnt/sum/avg/min/max. State
    carries only the tail that can still enter a future row's frame
    (see :func:`streaming_over_multi`)."""
    assert (rows is None) != (range_interval is None), "pass exactly one frame bound"
    return streaming_over_multi(
        sdf, keys, order_col,
        [(fn, value_col, f"bounded_{al}") for fn, al in _OVER_STATS],
        rows=rows, range_interval=range_interval,
    )


def changelog_normalize(
    sdf: DataFrame, keys: list[str], order_col: str | None = None, delete_col: str | None = None
) -> DataFrame:
    """Collapse an upsert stream into an explicit changelog: first value
    per key → ``+I``; change → ``-U`` (old) then ``+U`` (new); a row
    with ``delete_col`` true → ``-D``. The ``__rowkind`` column is the
    Spark-visible stand-in for Flink's RowKind byte
    (flink-core/.../types/RowKind.java:31-52)."""
    key_fields, vals = _split(sdf, keys)
    vals = [f for f in vals if f.name != delete_col]
    out_schema = StructType(key_fields + vals + [StructField("__rowkind", StringType())])
    buf = RowState(vals)
    carry, names = buf.names, out_schema.fieldNames()
    # the order column sequences updates but is NOT part of the value —
    # two versions differing only in order_col are the same row
    cmp_idx = [i for i, c in enumerate(carry) if c != order_col]

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        cols = buf.read(state)
        last = tuple(c[0] for c in cols) if cols else None
        cmp = lambda t: tuple(t[i] for i in cmp_idx)  # noqa: E731
        out_rows = []
        for pdf in pdfs:
            p = pdf.sort_values(order_col, kind="stable") if order_col else pdf
            for d in p.to_dict("records"):
                vals = tuple(_py(d[c]) for c in carry)
                if delete_col and d.get(delete_col):
                    if last is not None:
                        out_rows.append(last + ("-D",))
                        last = None
                    continue
                if last is None:
                    out_rows.append(vals + ("+I",))
                elif cmp(vals) != cmp(last):
                    out_rows.append(last + ("-U",))
                    out_rows.append(vals + ("+U",))
                last = vals
        if last is not None:
            buf.write(state, [[v] for v in last])
        elif state.exists:
            state.remove()
        if out_rows:
            out = dict(zip(carry + ["__rowkind"], map(list, zip(*out_rows))))
            yield _frame(names, out, keys, key)

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, buf.schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
) -> DataFrame:
    """FOR SYSTEM_TIME AS OF: each left row joins the latest right
    version with ``right_ts <= left_ts``. Both streams are tagged with
    ``__side`` and unioned by name (each side keeps its own typed
    columns, see :func:`_side_cols`), then keyed; state keeps the right
    side's versions sorted by time. Left rows that precede every
    version, or have a NULL time, emit null right columns; a version
    with a NULL time never matches. Timestamps order as unix micros on
    both sides (TemporalRowTimeJoinOperator.java orders raw epoch
    longs)."""
    from pyspark.sql.types import TimestampType

    def _ts(df: DataFrame, col: str):
        if isinstance(df.schema[col].dataType, TimestampType):
            return F.unix_micros(F.col(col)).alias("__ts")
        return F.col(col).alias("__ts")

    lcols = [c for c in left.columns if c != key]
    both = left.select(
        F.col(key).alias("__k"), F.lit(0).alias("__side"), _ts(left, left_ts),
        *_side_cols(left, lcols),
    ).unionByName(
        right.select(
            F.col(key).alias("__k"), F.lit(1).alias("__side"), _ts(right, right_ts),
            *_side_cols(right, right_vals),
        ),
        allowMissingColumns=True,
    )
    key_field = [f for f in left.schema.fields if f.name == key]
    left_fields = [f for f in left.schema.fields if f.name != key]
    right_fields = [f for f in right.schema.fields if f.name in right_vals]
    out_schema = StructType(key_field + left_fields + right_fields)
    buf = RowState([both.schema["__ts"]] + right_fields)
    names = out_schema.fieldNames()
    vnames = buf.names
    lints = {f.name for f in left_fields if isinstance(f.dataType, IntegralType)}

    def fn(k, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        versions = buf.read(state) or [[] for _ in vnames]
        lparts = []
        for pdf in pdfs:
            side = pdf["__side"].to_numpy()
            new = (side == 1) & pdf["__ts"].notna().to_numpy()
            for col, c, i in zip(versions, vnames, buf.integral):
                col.extend(_py(v, i) for v in pdf[c][new].tolist())
            lparts.append(pdf[side == 0])
        order = sorted(range(len(versions[0])), key=versions[0].__getitem__)
        versions = [[col[i] for i in order] for col in versions]
        buf.write(state, versions)
        lrows = pd.concat(lparts, ignore_index=True).sort_values("__ts", kind="stable")
        if not len(lrows):
            return
        at = [
            bisect.bisect_right(versions[0], t) - 1 if t == t else -1
            for t in lrows["__ts"].tolist()
        ]
        out = {c: _ints(lrows[c]) if c in lints else lrows[c].to_numpy() for c in lcols}
        for col, c, i in zip(versions[1:], vnames[1:], buf.integral[1:]):
            v = [col[j] if j >= 0 else None for j in at]
            out[c] = _ints(v) if i else v
        yield _frame(names, out, [key], k)

    return both.groupBy("__k").applyInPandasWithState(
        fn, out_schema, buf.schema, "append", GroupStateTimeout.NoTimeout
    )


def foreach_batch_upsert(
    target_path: str, keys: list[str], order_col: str, delete_col: str | None = None
):
    """SinkUpsertMaterializer parity: returns a foreachBatch function
    that MERGEs each micro-batch into a keyed parquet table — last write
    (by ``order_col``) per key wins. ``delete_col`` (a boolean column,
    e.g. ``__rowkind = '-D'`` from a CDC decode) makes this a full
    changelog materializer: a key whose LATEST image is a delete is
    removed from the table (the MERGE ... WHEN MATCHED AND op='d' THEN
    DELETE branch). On a transactional table format this is a real
    MERGE INTO; plain parquet does read-union-rewrite, which is correct
    but O(table) per batch — fine for sinks that are periodically
    compacted dimension tables, documented limitation otherwise."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        from pyspark.sql.window import Window

        spark = batch_df.sparkSession
        w = F.row_number().over(Window.partitionBy(*keys).orderBy(F.col(order_col).desc()))
        if os.path.exists(target_path):
            existing = spark.read.parquet(target_path)
            merged = existing.unionByName(batch_df.select(existing.columns))
        else:
            merged = batch_df
        result = merged.withColumn("__rn", w).where(F.col("__rn") == 1).drop("__rn")
        if delete_col is not None:
            result = result.where(~F.coalesce(F.col(delete_col), F.lit(False)))
        tmp = target_path + ".tmp"
        result.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target_path):
            shutil.rmtree(target_path)
        os.rename(tmp, target_path)

    return apply


def keyed_inactivity_timer(
    sdf: DataFrame,
    keys: list[str],
    ts_col: str,
    timeout: str,
) -> DataFrame:
    """Per-key EVENT-TIME TIMERS — KeyedProcessFunction parity
    (DS/api/functions/KeyedProcessFunction.java:52 +
    SimpleTimerService.registerEventTimeTimer): every event re-arms the
    key's timer at last_seen + ``timeout``; when the watermark passes
    the armed time with no newer event, the timer FIRES and emits one
    alert row (key, last_seen, n_events) and clears the key's state —
    the inactivity-detection pattern from the reference's
    ProcessFunction docs. Input must carry ``withWatermark`` on
    ``ts_col`` (the harness's stream_table(watermark=...) does).

    Spark mapping: ``GroupStateTimeout.EventTimeTimeout`` — the timer
    callback is the ``state.hasTimedOut`` branch; watermark granularity
    is the micro-batch boundary (documented skew, SURVEY §7.3 risk 3).
    Scale: state is (last_seen, count) per key — O(1); one shuffle on
    the key columns."""
    import re as _re

    m = _re.match(r"(\d+)\s*(ms|milliseconds?|s|seconds?|m|minutes?|h|hours?)$", timeout.strip())
    if not m:
        raise ValueError(f"unsupported timeout literal: {timeout!r}")
    u = m.group(2)
    if u in ("ms",) or u.startswith("milli"):
        unit_ms = 1
    else:
        unit_ms = {"s": 1000, "m": 60000, "h": 3600000}[u[0]]
    timeout_ms = int(m.group(1)) * unit_ms

    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [
            StructField("last_seen", next(f.dataType for f in sdf.schema.fields if f.name == ts_col)),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType([StructField("last_ms", LongType()), StructField("n", LongType())])

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            last_ms, n = state.get
            state.remove()
            out = pd.DataFrame(
                [tuple(key) + (pd.Timestamp(last_ms, unit="ms"), n)],
                columns=[f.name for f in out_schema.fields],
            )
            yield out
            return
        last_ms, n = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_ms = (
                pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]").astype("int64") // 1_000_000
            )
            mx = int(ts_ms.max())
            last_ms = mx if last_ms is None else max(last_ms, mx)
            n += len(pdf)
        if last_ms is not None:
            state.update((int(last_ms), int(n)))
            # a timer armed at-or-before the watermark would be rejected;
            # clamp to wm+1 so it fires on the next batch (same behavior
            # as Flink registering an already-elapsed event-time timer)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms + timeout_ms, wm + 1))
        # non-firing groups yield NOTHING — an empty frame per group per
        # batch pays one Arrow round-trip per key (windows.window_topn
        # r13 lesson), and append mode emits the same either way

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def changelog_group_aggregate(
    sdf: DataFrame,
    keys: list[str],
    cents_col: str,
    rowkind_col: str = "__rowkind",
) -> DataFrame:
    """RETRACT-MODE group aggregate — the reference's update-stream
    aggregation (AggregateFunction.retract(),
    flink-table/flink-table-common/.../functions/AggregateFunction.java;
    StreamExecGroupAggregate wires retract() when the input produces
    UPDATE_BEFORE): consumes a ``__rowkind``-stamped changelog; +I/+U
    ACCUMULATE the row, -U/-D RETRACT it, so an updated entity never
    double-counts (the r2-ADVICE motivation for emitting -U from CDC
    decodes). State per key = (row_count, sum) — O(1); emits the
    refreshed aggregate per touched key each batch (update mode).

    ``cents_col`` must be an integer-scaled measure (e.g. value*100 as
    BIGINT): retraction arithmetic must cancel EXACTLY, and float
    add/subtract orders don't — the same determinism rule as the
    decimal k-means means."""
    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [
            StructField("alive_cnt", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    state_schema = StructType([StructField("cnt", LongType()), StructField("s", LongType())])

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        cnt, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            for d in pdf.to_dict("records"):
                sign = -1 if d[rowkind_col] in ("-U", "-D") else 1
                cnt += sign
                v = d[cents_col]
                # NULL measure: row counts as alive, contributes 0 to the
                # sum (SQL aggregate null semantics) — and its retraction
                # symmetrically contributes 0
                if v is not None and not (isinstance(v, float) and v != v):
                    s += sign * int(v)
        state.update((int(cnt), int(s)))
        out = pd.DataFrame([tuple(key) + (cnt, s)], columns=[f.name for f in out_schema.fields])
        yield out

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


_ROLLING = {"COUNT": "count", "SUM": "sum", "AVG": "mean", "MIN": "min", "MAX": "max"}


def streaming_over_multi(
    sdf: DataFrame,
    keys: list[str],
    order_col: str,
    aggs: list[tuple[str, str | None, str]],
    rows: int | None = None,
    range_interval: str | None = None,
) -> DataFrame:
    """Generic per-key streaming OVER — the multi-aggregate form the
    SQL lowering needs (Flink's StreamExecOverAggregate plans ONE over
    window per node but lets its aggregates target DIFFERENT columns:
    ``SUM(a) OVER w, MAX(b) OVER w`` is one exec node). ``aggs`` is
    ``[(fn, col | None, out_alias[, offset]), ...]`` with fn in
    COUNT/SUM/AVG/MIN/MAX (col None = COUNT(*)) plus — UNBOUNDED frame
    only — the offset/value aggregates LAG/LEAD/FIRST_VALUE/LAST_VALUE
    (LeadLagAggFunction.java / FirstValueAggFunction.java, planned by
    the same StreamExecOverAggregate.java:91 node): LAG(c, n) is the
    value n rows earlier in the per-key event-time order (NULL before
    n rows exist — SQL default), LEAD is offset-0 only (a positive
    offset needs future rows; the reference's append-mode runtime
    emits each row on arrival, so it cannot either), FIRST_VALUE /
    LAST_VALUE skip NULLs like the reference's agg functions. At most
    one frame of ``rows`` (ROWS n total) / ``range_interval`` (RANGE
    preceding, inclusive edge) / neither (UNBOUNDED PRECEDING).

    State: UNBOUNDED keeps per-column running accumulators
    (cnt/sum/min/max/first/last arrays indexed by referenced column)
    plus a row buffer of the last max-LAG-offset values per column;
    bounded frames keep a row buffer of the tail (order column and
    referenced columns, in their own types) that can still enter a
    future frame — the last n-1 rows / the rows within the interval of
    the newest timestamp, exactly like the reference's cleanup timers.
    Aggregation itself is vectorized pandas (cum*/rolling/shift) —
    per-batch, not per-row Python."""
    assert rows is None or range_interval is None, "pass at most one frame"
    aggs = [tuple(a) + (None,) * (4 - len(a)) for a in aggs]
    offset_fns = {"LAG", "LEAD", "FIRST_VALUE", "LAST_VALUE"}
    if (rows is not None or range_interval is not None) and any(
        fn in offset_fns for fn, _c, _al, _off in aggs
    ):
        raise ValueError(
            "LAG/LEAD/FIRST_VALUE/LAST_VALUE stream on the UNBOUNDED "
            "frame only (the offset is the navigation, not the frame)"
        )
    for fn, c, _al, off in aggs:
        # A missing LEAD offset means 1 (SQL / LeadLagAggFunction.java
        # default), NOT 0 — only an explicit LEAD(col, 0) may pass.
        if fn == "LEAD" and (1 if off is None else off) != 0:
            raise ValueError(
                "streaming LEAD needs future rows — append-mode OVER "
                "emits each row on arrival (the reference's streaming "
                "runtime cannot see ahead either); use LAG or a "
                "MATCH_RECOGNIZE NEXT pattern"
            )
        if fn in offset_fns and c is None:
            raise ValueError(f"{fn} requires a column argument")
    lag_depth = max(
        [off or 1 for fn, _c, _al, off in aggs if fn == "LAG"], default=0
    )
    val_cols = sorted({c for _fn, c, _al, _off in aggs if c is not None})
    key_fields, vals = _split(sdf, keys)
    out_type = {"COUNT": LongType()}
    out_schema = StructType(
        key_fields
        + vals
        + [
            StructField(al, out_type.get(fn, DoubleType()))
            for fn, _c, al, _off in aggs
        ]
    )
    names = out_schema.fieldNames()
    by_name = {f.name: f for f in sdf.schema.fields}
    delta = pd.Timedelta(range_interval) if range_interval else None

    if rows is not None or range_interval is not None:
        buf = RowState(
            [by_name[order_col]] + [by_name[c] for c in val_cols if c != order_col]
        )
        tail_names = buf.names

        def fn_bounded(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
            tail = buf.read(state)
            hist = buf.frame(tail) if tail and tail[0] else None
            for pdf in pdfs:
                if not len(pdf):
                    continue
                p = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
                nhist = 0 if hist is None else len(hist)
                frame = p[tail_names]
                if hist is not None:
                    frame = pd.concat([hist, frame], ignore_index=True)
                # a late row (batch time < tail max) makes tail+batch
                # non-monotonic — time-based rolling would raise and ROWS
                # frames would mis-order; sort tail+batch JOINTLY (stable:
                # earlier-arrived rows precede on ties) and map results
                # back to batch positions. The reference reorders the same
                # way via MapState + event-time timers; rows older than
                # the retained tail horizon see a truncated frame (state
                # already cleaned, matching its watermark cleanup).
                t = pd.to_datetime(frame[order_col])
                order = np.argsort(t.to_numpy(), kind="stable")
                batch_pos = np.argsort(order, kind="stable")[nhist:]
                frame = frame.iloc[order].reset_index(drop=True)
                t = t.iloc[order].reset_index(drop=True)
                ones = pd.Series(1.0, index=frame.index)
                for fn_name, c, al, _off in aggs:
                    s = ones if c is None else frame[c].astype(float)
                    if rows is not None:
                        r = s.rolling(rows, min_periods=1)
                    else:
                        # closed="both": Flink's RANGE x PRECEDING frame is
                        # [cur - x, cur] INCLUSIVE on both ends
                        # (RowTimeRangeBoundedPrecedingFunction retracts
                        # rows strictly older than cur - x) — pandas'
                        # default right-closed window would drop the row
                        # sitting exactly x before the current one
                        r = pd.Series(s.to_numpy(), index=pd.DatetimeIndex(t)).rolling(
                            delta, min_periods=1, closed="both"
                        )
                    res = getattr(r, _ROLLING[fn_name])()
                    if fn_name == "COUNT":
                        res = res.astype("int64")
                    p[al] = res.to_numpy()[batch_pos]
                yield p[names]
                # retain only the tail a future frame can reference
                if rows is not None:
                    keep = min(len(t), rows - 1)
                else:
                    keep = int((t >= t.iloc[-1] - delta).sum())
                hist = frame.iloc[len(frame) - keep:] if keep else None
            cols = [[] for _ in tail_names] if hist is None else [hist[c].tolist() for c in tail_names]
            buf.write(state, cols)

        return sdf.groupBy(*keys).applyInPandasWithState(
            fn_bounded, out_schema, buf.schema, "append", GroupStateTimeout.NoTimeout
        )

    # UNBOUNDED PRECEDING: running accumulators per referenced column,
    # and the last lag_depth values of each for LAG
    buf = RowState(
        [StructField(c, DoubleType()) for c in val_cols],
        extra=[
            StructField("__rows_seen", LongType()),
            StructField("__cnt", ArrayType(LongType())),
            *(
                StructField(f"__{a}", ArrayType(DoubleType()))
                for a in ("sum", "min", "max", "first", "last")
            ),
        ],
    )

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        k = len(val_cols)
        st = buf.read(state)
        if st:
            lag_tails = dict(zip(val_cols, st[:k]))
            rows_seen = st[k]
            cnt, s_, mn, mx, first, last = (list(a) for a in st[k + 1:])
        else:
            lag_tails = {c: [] for c in val_cols}
            rows_seen = 0
            cnt, s_ = [0] * k, [0.0] * k
            mn, mx = [None] * k, [None] * k
            first, last = [None] * k, [None] * k
        for pdf in pdfs:
            if not len(pdf):
                continue
            p = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
            run = {}
            lag_map = {}
            for i, c in enumerate(val_cols):
                v = p[c].astype(float)
                rc = v.notna().cumsum() + cnt[i]
                rs = v.fillna(0).cumsum() + s_[i]
                rmn = v.cummin() if mn[i] is None else v.cummin().combine(mn[i], min)
                rmx = v.cummax() if mx[i] is None else v.cummax().combine(mx[i], max)
                # FIRST_VALUE / LAST_VALUE navigation (NULLs skipped —
                # FirstValueAggFunction / LastValueAggFunction parity)
                if first[i] is not None:
                    fv = pd.Series(first[i], index=v.index)
                else:
                    fv = pd.Series(np.nan, index=v.index)
                    fvi = v.first_valid_index()
                    if fvi is not None:
                        fv.iloc[int(fvi):] = float(v.iloc[int(fvi)])
                        first[i] = float(v.iloc[int(fvi)])
                lv = v.ffill()
                if last[i] is not None:
                    lv = lv.fillna(last[i])
                if len(lv) and not pd.isna(lv.iloc[-1]):
                    last[i] = float(lv.iloc[-1])
                if lag_depth:
                    prev = lag_tails[c]
                    s2 = pd.concat(
                        [pd.Series(prev, dtype=float), v], ignore_index=True
                    )
                    lag_map[c] = (s2, len(prev))
                    lag_tails[c] = [
                        None if pd.isna(x) else float(x)
                        for x in s2.iloc[max(0, len(s2) - lag_depth):]
                    ]
                run[c] = (rc, rs, rmn, rmx, fv, lv)
                cnt[i], s_[i] = int(rc.iloc[-1]), float(rs.iloc[-1])
                mn[i], mx[i] = float(rmn.iloc[-1]), float(rmx.iloc[-1])
            star = pd.Series(range(1, len(p) + 1)) + rows_seen
            rows_seen += len(p)
            for fn_name, c, al, off in aggs:
                if c is None:
                    p[al] = star.astype("int64")
                    continue
                rc, rs, rmn, rmx, fv, lv = run[c]
                if fn_name == "COUNT":
                    p[al] = rc.astype("int64")
                elif fn_name == "SUM":
                    p[al] = rs
                elif fn_name == "AVG":
                    p[al] = rs / rc
                elif fn_name == "MIN":
                    p[al] = rmn
                elif fn_name == "MAX":
                    p[al] = rmx
                elif fn_name == "LAG":
                    s2, npfx = lag_map[c]
                    p[al] = s2.shift(off or 1).to_numpy()[npfx:]
                elif fn_name == "LEAD":  # offset 0 = current row value
                    p[al] = p[c].astype(float).to_numpy()
                elif fn_name == "FIRST_VALUE":
                    p[al] = fv.to_numpy()
                else:  # LAST_VALUE
                    p[al] = lv.to_numpy()
            yield p[names]
        buf.write(state, [lag_tails[c] for c in val_cols], rows_seen, cnt, s_, mn, mx, first, last)

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, buf.schema, "append", GroupStateTimeout.NoTimeout
    )
