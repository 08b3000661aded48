"""Streaming deduplication.

Reference parity (SURVEY.md §2.6):
- StreamExecDeduplicate.java:85 keep-FIRST-row per key →
  ``dropDuplicates`` (state kept forever) or
  ``dropDuplicatesWithinWatermark`` (state freed by watermark — the
  production form at 100 TB/day: state is bounded by the watermark
  horizon, exactly like Flink's dedup state TTL).
- keep-LAST-row per key emits updates on every arrival → stateful.py
  (keep_last_dedup) since it needs update semantics.
- window dedup (StreamExecWindowDeduplicate.java:69) → dedupe on
  (window, keys): state dropped at window close.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_keep_first(sdf: DataFrame, keys: list[str], within_watermark: bool = True) -> DataFrame:
    """First row per key wins; later duplicates are dropped.
    ``within_watermark=True`` bounds state by the watermark horizon
    (requires ``withWatermark`` upstream)."""
    if within_watermark:
        return sdf.dropDuplicatesWithinWatermark(keys)
    return sdf.dropDuplicates(keys)


def window_dedup_keep_first(sdf: DataFrame, ts: str, size: str, keys: list[str]) -> DataFrame:
    """First row per key within each tumbling window; state freed when
    the watermark passes the window. The raw ``ts`` column is replaced
    by window_start/window_end — streams allow only ONE event-time
    column, and the window struct inherits it from ``ts``."""
    return (
        sdf.withColumn("__w", F.window(ts, size))
        .drop(ts)  # the window struct is now the sole event-time column
        .dropDuplicates(["__w", *keys])
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def temporal_sort(
    sdf: DataFrame, ts: str, delay: str, keys: list[str]
) -> DataFrame:
    """Event-time-ordered emission (StreamExecTemporalSort.java:64 /
    RowTimeSortOperator.java): rows are buffered per key and released
    in timestamp order only once the carried bounded-out-of-orderness
    watermark (max seen ts − ``delay``, advancing monotonically across
    micro-batches) passes them — late-but-within-delay rows are
    re-ordered into place, exactly what the reference's operator uses
    its event-time timers for.

    Row order is guaranteed within each emitted per-key batch (Spark
    gives no cross-partition ordering downstream — same restriction the
    reference has across parallel subtasks). State = the not-yet-final
    tail per key, bounded by ``delay``."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import StructField

    from flink_1_16_0_src_spark.streaming.stateful import RowState, _py

    # the buffered rows plus the per-key event clock (max ts seen)
    buf = RowState(
        sdf.schema.fields, extra=[StructField("__clock", sdf.schema[ts].dataType)]
    )
    names = buf.names
    delay_td = pd.Timedelta(delay)

    def fn(key, pdfs, state):
        st = buf.read(state)
        parts = [pdf for pdf in pdfs if len(pdf)]
        clock = None
        if st:
            clock = st[-1]
            if st[0]:
                parts.insert(0, buf.frame(st[:-1]))
        if not parts:
            return
        rows = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        mx = rows[ts].max()
        clock = mx if clock is None else max(pd.Timestamp(clock), mx)
        due = rows[ts] <= clock - delay_td
        rest = rows[~due]
        buf.write(state, [rest[c].tolist() for c in names], _py(clock))
        if due.any():
            yield rows[due].sort_values(ts, kind="stable")[names]

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, sdf.schema, buf.schema, "append", GroupStateTimeout.NoTimeout
    )
