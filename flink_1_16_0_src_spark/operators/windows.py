"""Window table-valued functions (SURVEY.md §2.3/§2.9).

Reference parity:
- TUMBLE/HOP TVF: SqlTumbleTableFunction.java:37, SqlHopTableFunction.java:38
  → Spark ``F.window(ts, size[, slide])`` (built-in).
- CUMULATE TVF: SqlCumulateTableFunction.java:37 + slicing runtime
  (SliceAssigners.java:94) — **no Spark builtin**: each cumulative
  window is the HOP window ``F.window(ts, size, step)`` with the same
  end, cut down to the rows of that end's own size-span (JVM-side, no
  Python in the hot path, append-capable in streaming).
- SESSION windows: SessionWindowAssigner.java:36 →
  ``F.session_window`` (built-in, batch + streaming).

All helpers return the input with ``window_start`` / ``window_end``
columns appended — the TVF contract (reference
WindowTableFunctionOperator.java adds the same three columns; we skip
window_time — the TVF contract's three
columns; window_time = window_end - 1ms = TimeWindow.maxTimestamp,
the rowtime attribute cascading window aggregations group on).

Scale: tumble/hop/session group-bys shuffle once on (window, keys);
HOP and CUMULATE fan-out is bounded by size/slide (a small constant),
so data volume grows by that factor pre-shuffle — same cost shape as
Flink's sliced execution without shared-pane state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Spark's watermark never falls below the epoch, so a streaming window
# ending at or before 1970-01-01 is late on arrival. A watermarked stream
# therefore windows on SHIFTED_TS, its event time moved SHIFT_US forward
# (0001-01-01 -> 1970-01-01): the assigners below keep every window grid
# where the unshifted time has it, the flat window columns they add are
# moved back, and a caller grouping on the ``__w`` struct moves its bounds
# back with :func:`unshift_sql`.
SHIFTED_TS = "__ets"
SHIFT_US = 62_135_596_800_000_000


def shift_event_time(df: DataFrame, ts: str, delay: str) -> DataFrame:
    """``df`` with SHIFTED_TS = ``ts`` + SHIFT_US, watermarked ``delay``
    behind."""
    ets = F.timestamp_micros(F.unix_micros(F.col(ts)) + F.lit(SHIFT_US))
    return df.withColumn(SHIFTED_TS, ets).withWatermark(SHIFTED_TS, delay)


def unshift_sql(expr: str) -> str:
    """SQL for the SHIFTED_TS timestamp ``expr`` moved back."""
    return f"timestamp_micros(unix_micros({expr}) - {SHIFT_US})"


def _start_time(ts: str, offset: str | None, slide: str) -> str | None:
    """window()'s startTime for a grid of ``slide`` moved by ``offset``
    (any offset: window() takes one in [0, slide)); on SHIFTED_TS the
    grid moves by SHIFT_US as well."""
    shift = SHIFT_US if ts == SHIFTED_TS else 0
    us = ((_micros(offset) if offset else 0) + shift) % _micros(slide)
    return f"{us} microseconds" if us else None


def tumble(
    df: DataFrame, ts: str, size: str, offset: str | None = None,
    keep_struct: bool = False,
) -> DataFrame:
    """TUMBLE(ts, size [, offset]) — the optional offset shifts window
    boundaries (SqlTumbleTableFunction.java:37 third operand;
    TumblingWindowAssigner.withOffset). Spark: window()'s startTime."""
    start = _start_time(ts, offset, size)
    if start is None:
        return _with_window(df, ts, F.window(ts, size), keep_struct)
    return _with_window(df, ts, F.window(ts, size, size, start), keep_struct)


def hop(
    df: DataFrame, ts: str, slide: str, size: str, offset: str | None = None,
    keep_struct: bool = False,
) -> DataFrame:
    if _duration_seconds(slide) > _duration_seconds(size):
        # rows between windows would fall in no window at all
        raise ValueError("HOP's slide must not exceed its size")
    start = _start_time(ts, offset, slide)
    if start is None:
        return _with_window(df, ts, F.window(ts, size, slide), keep_struct)
    return _with_window(df, ts, F.window(ts, size, slide, start), keep_struct)


def _with_window(
    df: DataFrame, ts: str, w: Column, keep_struct: bool = False
) -> DataFrame:
    # materialize the window struct ONCE — a sliding window expression
    # explodes rows where it is evaluated, so referencing it twice
    # (start + end) would square the fan-out. keep_struct retains the
    # raw ``__w`` TimeWindow column: STREAMING aggregation must group
    # by the struct itself (only it carries the event-time attribute —
    # extracted start/end columns lose the watermark linkage).
    back = (lambda c: F.expr(unshift_sql(c))) if ts == SHIFTED_TS else F.col
    out = (
        df.withColumn("__w", w)
        .withColumn("window_start", back("__w.start"))
        .withColumn("window_end", back("__w.end"))
        .withColumn("window_time", F.col("window_end") - F.expr("INTERVAL '0.001' SECOND"))
    )
    return out if keep_struct else out.drop("__w")


def cumulate_start_sql(end: str, max_size: str) -> str:
    """SQL for the start of the CUMULATE window that ends at ``end``:
    the start of the max_size span holding ``end`` − 1 µs, floored
    toward minus infinity so pre-1970 spans come out right."""
    last = f"(unix_micros({end}) - 1)"
    return f"timestamp_micros({last} - pmod({last}, {_micros(max_size)}))"


def cumulate(
    df: DataFrame, ts: str, step: str, max_size: str, keep_struct: bool = False,
) -> DataFrame:
    """CUMULATE(ts, step, max_size): within each max_size span the
    window start is pinned to the span start and the end advances in
    ``step`` increments; a row belongs to every window whose end is
    strictly after its timestamp (Flink's CumulativeSliceAssigner:
    expanding windows [start, start+k*step]).

    The window [S, e) is the HOP window ``F.window(ts, max_size, step)``
    ending at e, cut down to the rows of e's own span, so the assigner
    keeps the HOP rows whose span equals the span of ``e`` − 1 µs and
    sets window_start to that span's start. ``keep_struct`` retains the
    HOP struct ``__w``: a streaming aggregation grouped on it closes
    each window at e in append mode (select window_start as
    :func:`cumulate_start_sql` of ``__w.end``, moved back first on
    SHIFTED_TS)."""
    size_us, step_us = _micros(max_size), _micros(step)
    if step_us > size_us:
        raise ValueError("CUMULATE's step must not exceed its size")
    if size_us % step_us:
        raise ValueError(
            "CUMULATE's size must be an integral multiple of its step"
        )
    # span arithmetic on the unshifted time, so spans stay epoch-aligned
    base = F.lit(SHIFT_US if ts == SHIFTED_TS else 0)
    tsu = F.unix_micros(F.col(ts)) - base
    last = F.unix_micros(F.col("__w.end")) - F.lit(1) - base
    size = F.lit(size_us)
    start = _start_time(ts, None, step)
    hop_w = (F.window(ts, max_size, step) if start is None
             else F.window(ts, max_size, step, start))
    out = (
        df.withColumn("__w", hop_w)
        .where(tsu - F.pmod(tsu, size) == last - F.pmod(last, size))
        .withColumn("window_start", F.timestamp_micros(last - F.pmod(last, size)))
        .withColumn("window_end", F.timestamp_micros(last + F.lit(1)))
        .withColumn("window_time", F.col("window_end") - F.expr("INTERVAL '0.001' SECOND"))
    )
    return out if keep_struct else out.drop("__w")


def session(df: DataFrame, ts: str, gap: str, *keys: str | Column) -> DataFrame:
    """Session windows via the builtin session_window aggregate helper —
    use inside groupBy: ``df.groupBy(F.session_window(ts, gap), *keys)``.
    This helper provides the batch gaps-and-islands equivalent that
    also yields per-row session assignment (window_start/end appended),
    which the TVF form requires."""
    from pyspark.sql import Window as W

    gap_i = F.expr(f"INTERVAL {gap}")
    gap_us = int(_duration_seconds(gap) * 1_000_000)
    w = W.partitionBy(*keys).orderBy(F.col(ts))
    # gap test on microsecond longs; first row per key (lag null) starts a session
    flagged = df.withColumn(
        "__new_session",
        F.coalesce(
            (
                F.unix_micros(F.col(ts)) - F.unix_micros(F.lag(F.col(ts)).over(w)) > gap_us
            ).cast("int"),
            F.lit(1),
        ),
    )
    sess = flagged.withColumn(
        "__session_id", F.sum("__new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    bounds = W.partitionBy(*keys, "__session_id")
    return (
        sess.withColumn("window_start", F.min(ts).over(bounds))
        .withColumn("window_end", F.max(F.col(ts)).over(bounds) + gap_i)
        .withColumn(
            "window_time", F.col("window_end") - F.expr("INTERVAL '0.001' SECOND")
        )
        .drop("__new_session", "__session_id")
    )


def _duration_seconds(s: str) -> float:
    qty, unit = s.split()
    unit = unit.rstrip("s").lower()
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}[unit]
    return float(qty) * mult


def _micros(s: str) -> int:
    return round(_duration_seconds(s) * 1_000_000)
