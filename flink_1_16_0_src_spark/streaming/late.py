"""Late-data handling: allowed lateness + side output of late rows,
and count-window / evictor analogs.

Reference parity (SURVEY.md §2.9 "Triggers / evictors / late data"):
- WindowedStream.allowedLateness / sideOutputLateData
  (DS/api/datastream/WindowedStream.java) — Flink routes rows whose
  timestamp is behind the watermark to a side output instead of
  silently dropping them.
- CountTumblingWindowAssigner / CountSlidingWindowAssigner
  (T-RUNTIME/operators/window/assigners/) — fire on element count, not
  time.
- CountEvictor / TimeEvictor (DS/api/windowing/evictors/) — trim a
  window's buffered contents before the window function runs.

Spark mapping: Structured Streaming exposes no per-row watermark hook
and no side outputs, so the late router lives in ``foreachBatch``: it
carries the bounded-out-of-orderness watermark across micro-batches
(exactly WatermarkStrategy.forBoundedOutOfOrderness,
flink-core/.../eventtime/BoundedOutOfOrdernessWatermarks.java:37) and
splits each batch into on-time/late before handing both to user sinks.
Late rows are detected at batch granularity — the documented timer
skew (SURVEY.md §7.3 risk 3).

Count windows buffer per key in ``applyInPandasWithState``; state is
bounded by window size (the leftover partial window only).
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from flink_1_16_0_src_spark.streaming.stateful import RowState, _frame


class LateRowRouter:
    """foreachBatch splitter: on-time rows → ``on_time``, rows behind
    the carried watermark → ``on_late`` (side output). Watermark =
    max event time seen so far − ``delay`` (bounded out-of-orderness),
    advancing monotonically across micro-batches; rows of the batch
    that advances the watermark are judged against the PREVIOUS
    watermark, matching Flink's emit-then-advance order."""

    def __init__(self, ts_col: str, delay, on_time, on_late):
        self.ts_col, self.delay = ts_col, delay
        self.on_time, self.on_late = on_time, on_late
        self.watermark = None  # no rows seen yet

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if self.watermark is None:
            late = batch_df.where(F.lit(False))
            on_time = batch_df
        else:
            late = batch_df.where(F.col(self.ts_col) < F.lit(self.watermark))
            on_time = batch_df.where(~(F.col(self.ts_col) < F.lit(self.watermark)))
        self.on_time(on_time, batch_id)
        self.on_late(late, batch_id)
        mx = batch_df.agg(F.max(self.ts_col)).collect()[0][0]
        if mx is not None:
            wm = mx - self.delay if not isinstance(self.delay, str) else None
            if wm is None:
                wm = (
                    batch_df.select(
                        (F.max(self.ts_col) - F.expr(f"INTERVAL {self.delay}")).alias("w")
                    ).collect()[0]["w"]
                )
            if self.watermark is None or wm > self.watermark:
                self.watermark = wm


def route_late_rows(
    sdf: DataFrame, ts_col: str, delay, on_time, on_late
):
    """Attach a LateRowRouter to a streaming DataFrame; returns the
    DataStreamWriter (caller starts/awaits it)."""
    return sdf.writeStream.foreachBatch(LateRowRouter(ts_col, delay, on_time, on_late))


def _evict(pdf: pd.DataFrame, evictor, ts_col: str | None) -> pd.DataFrame:
    """Apply a Flink-style evictor to one window's buffered rows."""
    if evictor is None:
        return pdf
    kind, arg = evictor
    if kind == "count":  # CountEvictor.of(n): keep the LAST n rows
        return pdf.iloc[-arg:]
    if kind == "time":  # TimeEvictor.of(t): keep rows within t of max ts
        mx = pdf[ts_col].max()
        return pdf[pdf[ts_col] >= mx - arg]
    raise ValueError(f"unknown evictor {kind!r}")


def streaming_count_window(
    sdf: DataFrame,
    keys: list[str],
    size: int,
    agg_fn: Callable[[pd.DataFrame], dict],
    output_schema: StructType,
    evictor: tuple | None = None,
    ts_col: str | None = None,
    order_col: str | list[str] | None = None,
) -> DataFrame:
    """CountTumblingWindowAssigner + optional evictor: per key, every
    ``size`` rows form a window; ``agg_fn(window_pdf) -> dict`` emits
    one output row per fired window (the window function). The
    under-full tail is carried in state — bounded by ``size`` rows per
    key. ``window_pdf`` has the input's types in every batch, rows
    restored from state included (``pd.Timestamp``, ``datetime.date``,
    ``Decimal``). Row order inside a key follows arrival order (same
    caveat as Flink's count windows, which are arrival-ordered too);
    Spark gives no per-key FIFO inside a micro-batch, so pass
    ``order_col`` to sort each batch's rows before buffering when
    window membership must be deterministic."""
    if isinstance(output_schema, str):
        output_schema = StructType.fromDDL(output_schema)
    buf = RowState(sdf.schema.fields)
    names = output_schema.fieldNames()

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        st = buf.read(state)
        parts = [buf.frame(st)] if st and st[0] else []
        for pdf in pdfs:
            if len(pdf):
                parts.append(pdf if order_col is None else pdf.sort_values(order_col, kind="stable"))
        if not parts:
            return
        rows = pd.concat(parts, ignore_index=True)
        fired = len(rows) // size
        out = []
        for i in range(fired):
            window = rows.iloc[i * size : (i + 1) * size].reset_index(drop=True)
            rec = dict(zip(keys, key))
            rec.update(agg_fn(_evict(window, evictor, ts_col)))
            out.append(rec)
        rest = rows.iloc[fired * size :]
        buf.write(state, [rest[c].tolist() for c in buf.names])
        if out:
            yield _frame(names, {c: [r.get(c) for r in out] for c in names})

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, buf.schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_delta_trigger_window(
    sdf: DataFrame,
    keys: list[str],
    delta_fn: Callable[[dict, dict], float],
    threshold: float,
    agg_fn: Callable[[pd.DataFrame], dict],
    output_schema: StructType,
    order_col: str | list[str] | None = None,
) -> DataFrame:
    """DeltaTrigger analog (DS/api/windowing/triggers/DeltaTrigger.java:
    onElement computes ``delta(lastTriggeringElement, current)`` and
    FIREs when it exceeds ``threshold``) over a GlobalWindows-style
    per-key buffer. Fire-and-purge: the fired window is the buffered
    rows up to and including the triggering row; the triggering row
    becomes the new delta anchor (DeltaTrigger keeps it in its
    ValueState the same way). The anchor + open buffer are carried
    across micro-batches; state is bounded by the rows accumulated
    between fires — the same bound as the reference's window contents.
    ``delta_fn`` receives row dicts and ``agg_fn`` a frame, both with
    the input's types in every batch, rows restored from state
    included (``pd.Timestamp``, ``datetime.date``, ``Decimal``).

    Row order inside a key follows arrival order (count/delta windows
    are arrival-ordered in Flink too), but Spark gives no per-key FIFO
    guarantee WITHIN a micro-batch (Flink's network stack does between
    operator instances) — pass ``order_col`` to sort each micro-batch's
    rows before the trigger loop when delta semantics depend on
    sequence."""
    if isinstance(output_schema, str):
        output_schema = StructType.fromDDL(output_schema)
    # state: the anchor row, unless it is the open buffer's first row,
    # then the open buffer; ``__open`` counts the open rows
    buf = RowState(sdf.schema.fields, extra=[StructField("__open", LongType())])
    cols, names = buf.names, output_schema.fieldNames()

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        st = buf.read(state)
        stored = buf.frame(st[:-1]).to_dict("records") if st else []
        anchor = stored[0] if stored else None
        window = stored[len(stored) - st[-1] :] if st else []
        parts = [pdf for pdf in pdfs if len(pdf)]
        if anchor is None and not parts:
            return
        batch = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=cols)
        if order_col is not None:
            batch = batch.sort_values(order_col, kind="stable")
        out = []
        for d in batch.to_dict("records"):
            window.append(d)
            if anchor is None:
                # first element seeds the delta anchor (DeltaTrigger
                # fires nothing until a delta can be computed)
                anchor = d
            elif delta_fn(anchor, d) > threshold:
                rec = dict(zip(keys, key))
                rec.update(agg_fn(pd.DataFrame(window, columns=cols)))
                out.append(rec)
                window = []
                anchor = d
        keep = window if window and window[0] is anchor else [anchor] + window
        buf.write(state, [[r[c] for r in keep] for c in cols], len(window))
        if out:
            yield _frame(names, {c: [r.get(c) for r in out] for c in names})

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, buf.schema, "append", GroupStateTimeout.NoTimeout
    )


def continuous_event_time_fire(sdf: DataFrame, ts_col: str, size: str, interval: str, keys: list[str], *aggs):
    """ContinuousEventTimeTrigger analog
    (DS/api/windowing/triggers/ContinuousEventTimeTrigger.java: fire the
    window every ``interval`` of event time until the window closes).
    Micro-batch reformulation: a CUMULATE slicing with step=interval,
    max=size — each slice [window_start, window_start + k·interval) is
    exactly the window's contents as of the k-th continuous firing, and
    the final slice equals the TUMBLE result. This is the same
    TVF-based replacement Flink's docs recommend over early-fire
    configs (SliceAssigners.java cumulate). Emits window_start /
    window_end (the firing boundary) / is_final + the aggregates;
    works identically on batch frames (test oracle) and streams."""
    from pyspark.sql import functions as F

    from flink_1_16_0_src_spark.operators.windows import cumulate

    sliced = cumulate(sdf, ts_col, interval, size)
    final_end = F.window(F.col(ts_col), size).getField("end")
    sliced = sliced.withColumn("is_final", F.col("window_end") == final_end)
    return sliced.groupBy("window_start", "window_end", "is_final", *keys).agg(*aggs)
