"""Generic Trigger execution tests (streaming/triggers.py — Trigger.java
/ TriggerResult.java / WindowOperator.java parity): built-in triggers
AND an arbitrary user subclass, multi-batch state carry, late-row drop.
"""

from __future__ import annotations

import datetime as dt
import tempfile

import pandas as pd

from flink_1_16_0_src_spark.streaming import sources
from flink_1_16_0_src_spark.streaming.triggers import (
    CountTrigger,
    EventTimeTrigger,
    PurgingTrigger,
    Trigger,
    TriggerResult,
    Window,
    triggered_tumble_window,
)

BASE = dt.datetime(2024, 1, 1)
SCHEMA = "k string, window_start timestamp, window_end timestamp, n bigint, sum_v double"


def _write_stream(spark, rows, groups):
    """Sequential coalesce(1) writes = deterministic arrival batches."""
    d = tempfile.mkdtemp()
    at = 0
    for g in groups:
        spark.createDataFrame(
            rows[at : at + g], "k string, ts timestamp, v double"
        ).coalesce(1).write.mode("append").parquet(d)
        at += g
    return (
        spark.readStream.schema("k string, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def _run(spark, sdf, trigger, name, delay="10 minutes"):
    # agg as a local closure: cloudpickle ships it by value (the tests
    # package is not importable on executors)
    def agg(w: pd.DataFrame) -> dict:
        return {"n": len(w), "sum_v": round(float(w["v"].sum()), 2)}

    out = triggered_tumble_window(
        sdf, ["k"], "ts", "1 hour", delay, trigger, agg, SCHEMA, order_col="ts"
    )
    return sources.run_to_memory(out, name, "append").collect()


def _rows_one_key(vals):
    return [("a", BASE + dt.timedelta(minutes=m), float(v)) for m, v in vals]


def test_event_time_trigger_fires_once_per_closed_window(spark):
    rows = _rows_one_key([(0, 1), (10, 2), (70, 4), (200, 8)])
    got = _run(spark, _write_stream(spark, rows, [4]), EventTimeTrigger(), "trig_et")
    # wm = 200-10=190min: windows [0,60) and [60,120) closed, [180,240) open
    panes = {(r.window_start.minute + 60 * r.window_start.hour, r.n, r.sum_v) for r in got}
    assert panes == {(0, 2, 3.0), (60, 1, 4.0)}


def test_count_trigger_early_fires_accumulating(spark):
    # CountTrigger(2) without purge: panes re-aggregate all rows so far
    rows = _rows_one_key([(0, 1), (5, 2), (10, 4), (15, 8), (200, 0)])
    got = _run(spark, _write_stream(spark, rows, [5]), CountTrigger(2), "trig_cnt")
    panes = sorted((r.n, r.sum_v) for r in got)
    assert panes == [(2, 3.0), (4, 15.0)]


def test_purging_count_trigger_tumbling_count_panes(spark):
    rows = _rows_one_key([(0, 1), (5, 2), (10, 4), (15, 8), (200, 0)])
    got = _run(
        spark, _write_stream(spark, rows, [5]), PurgingTrigger(CountTrigger(2)),
        "trig_purge",
    )
    panes = sorted((r.n, r.sum_v) for r in got)
    assert panes == [(2, 3.0), (2, 12.0)]


def test_custom_user_trigger_value_threshold(spark):
    """Arbitrary Trigger subclass: fire when the running v-sum since the
    last fire reaches 10 (a user-defined policy neither Flink nor Spark
    ships) — the 'arbitrary per-window Trigger subclasses' gap."""

    class ValueThresholdTrigger(Trigger):
        def on_element(self, row, window: Window, state: dict) -> TriggerResult:
            state["acc"] = state.get("acc", 0.0) + float(row["v"])
            if state["acc"] >= 10.0:
                state["acc"] = 0.0
                return TriggerResult.FIRE_AND_PURGE
            return TriggerResult.CONTINUE

        def on_event_time(self, wm, window, state) -> TriggerResult:
            return TriggerResult.CONTINUE

    rows = _rows_one_key([(0, 6), (5, 5), (10, 3), (15, 9), (20, 1), (200, 0)])
    got = _run(
        spark,
        _write_stream(spark, rows, [6]),
        ValueThresholdTrigger(),
        "trig_custom",
    )
    panes = sorted((r.n, r.sum_v) for r in got)
    # 6+5=11 fires+purges; 3+9=12 fires+purges; trailing 1 never reaches 10
    assert panes == [(2, 11.0), (2, 12.0)]


def test_state_carries_across_batches_and_late_rows_drop(spark):
    # batch1 advances wm to 190min (closing [0,60)); batch2's 30min row
    # is behind the carried watermark -> dropped, pane stays (1, 1.0)
    rows = _rows_one_key([(0, 1), (200, 2)]) + _rows_one_key([(30, 99), (210, 4)])
    got = _run(
        spark, _write_stream(spark, rows, [2, 2]), EventTimeTrigger(), "trig_late"
    )
    panes = {(r.window_start.minute + 60 * r.window_start.hour, r.n, r.sum_v) for r in got}
    assert panes == {(0, 1, 1.0)}


def test_behind_watermark_row_in_open_window_is_kept(spark):
    """ADVICE r4 (medium): Flink drops an element only when its WINDOW
    is late (WindowOperator.java:590 isWindowLate), not whenever the
    element is behind the watermark. batch1: rows at 185min and 200min
    -> wm = 190min; window [180,240) has end 240 > 190, so it is open.
    batch2's 186min row is BEHIND wm=190 but belongs to that open
    window -> it must be KEPT (the old element-level rule dropped it)."""
    rows = _rows_one_key([(185, 1), (200, 2)]) + _rows_one_key([(186, 99), (260, 4)])
    got = _run(
        spark, _write_stream(spark, rows, [2, 2]), EventTimeTrigger(), "trig_openlate"
    )
    # batch2 wm = 250: [180,240) closes containing 185, 200 AND the
    # behind-watermark-but-window-open 186 row
    panes = {(r.window_start.minute + 60 * r.window_start.hour, r.n, r.sum_v) for r in got}
    assert panes == {(180, 3, 102.0)}


def test_closed_window_row_still_drops(spark):
    # the window-level rule still drops rows whose window closed
    rows = _rows_one_key([(0, 1), (200, 2)]) + _rows_one_key([(30, 99), (210, 4)])
    got = _run(
        spark, _write_stream(spark, rows, [2, 2]), EventTimeTrigger(), "trig_closed"
    )
    panes = {(r.window_start.minute + 60 * r.window_start.hour, r.n, r.sum_v) for r in got}
    assert panes == {(0, 1, 1.0)}


def test_null_event_time_row_is_skipped(spark):
    # a row with a NULL ts belongs to no window; the others still fire
    rows = _rows_one_key([(0, 1), (10, 2)]) + [("a", None, 50.0)] + _rows_one_key([(200, 4)])
    got = _run(
        spark, _write_stream(spark, rows, [2, 2]), EventTimeTrigger(), "trig_null_ts"
    )
    panes = {(r.window_start.minute + 60 * r.window_start.hour, r.n, r.sum_v) for r in got}
    assert panes == {(0, 2, 3.0)}


def test_continuous_event_time_trigger_interval_panes(spark):
    """Timer-registration path (TriggerContext.registerEventTimeTimer):
    ContinuousEventTimeTrigger('20 minutes') fires speculative panes at
    each 20-min event-time boundary the watermark passes, then the
    on-time pane at window close."""
    from flink_1_16_0_src_spark.streaming.triggers import (
        ContinuousEventTimeTrigger,
    )

    # all in window [0,60); watermark advances across batches:
    # batch1: rows 0,5 -> wm=-5 (none due); batch2: row 35 -> wm=25min
    #   -> timer 20min due: pane(n=2? rows 0,5,35 all buffered before
    #      wm advance -> pane has 3 rows)
    # batch3: row 75 -> wm=65 -> timer 40min fires (4 rows), 60min timer
    #   is >= window end -> close fires final pane (4 rows)
    rows = _rows_one_key([(0, 1), (5, 2), (35, 4), (75, 0)])
    got = _run(
        spark,
        _write_stream(spark, rows, [2, 1, 1]),
        ContinuousEventTimeTrigger("20 minutes"),
        "trig_cont",
    )
    w0 = sorted((r.n, r.sum_v) for r in got if r.window_start.minute == 0
                and r.window_start.hour == 0)
    # speculative pane at the 20-min boundary (3 rows so far), the
    # 40-min boundary pane (same 3 rows), then the close pane (3 rows)
    assert (3, 7.0) in w0 and len(w0) >= 2


def test_allowed_lateness_late_pane_refire_and_expiry(spark):
    """WindowedStream.allowedLateness parity: a late element within
    end+lateness RE-FIRES an updated pane (EventTimeTrigger.onElement's
    late branch); an element past end+lateness drops; state is cleaned
    at end+lateness."""
    def agg(w: pd.DataFrame) -> dict:
        return {"n": len(w), "sum_v": round(float(w["v"].sum()), 2)}

    from flink_1_16_0_src_spark.streaming import sources as ssrc
    # batch1: rows 0min,200min -> wm=190: [0,60) fires on time (1 row).
    # batch2: row 30min — late, window closed, but end(60)+150min
    #   lateness=210 > 190 -> kept, re-fires updated pane (2 rows).
    # batch3: row 420min -> wm=410 >= 210: window expired; row 40min
    #   then DROPS (batch4) and no further pane appears.
    rows = (_rows_one_key([(0, 1), (200, 2)]) + _rows_one_key([(30, 4)])
            + _rows_one_key([(420, 8)]) + _rows_one_key([(40, 16)]))
    sdf = _write_stream(spark, rows, [2, 1, 1, 1])
    out = triggered_tumble_window(
        sdf, ["k"], "ts", "1 hour", "10 minutes", EventTimeTrigger(), agg,
        SCHEMA, order_col="ts", allowed_lateness="150 minutes",
    )
    got = sources.run_to_memory(out, "trig_lateness", "append").collect()
    w0 = sorted((r.n, r.sum_v) for r in got
                if r.window_start.minute == 0 and r.window_start.hour == 0)
    assert (1, 1.0) in w0          # on-time pane
    assert (2, 5.0) in w0          # late re-fired updated pane
    assert (3, 21.0) not in w0     # post-expiry row dropped
