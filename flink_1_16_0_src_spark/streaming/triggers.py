"""Generic per-window Trigger execution — arbitrary user Trigger
subclasses over keyed event-time tumbling windows.

Reference parity (SURVEY.md §2.9): flink-streaming-java
DS/api/windowing/triggers/Trigger.java (onElement / onEventTime →
TriggerResult) + TriggerResult.java (CONTINUE / FIRE / PURGE /
FIRE_AND_PURGE), executed the way
DS/runtime/operators/windowing/WindowOperator.java does: buffer window
contents per key, consult the trigger per element, fire the window
function on FIRE, clear contents on PURGE, run the event-time timer
path when the watermark passes a window's max timestamp, and clean the
window up afterward. Built-ins mirror EventTimeTrigger.java,
CountTrigger.java and PurgingTrigger.java; anything else is a user
subclass — the per-window trigger state is a plain dict the runner
persists, so custom triggers carry state exactly like Flink's
ReducingState-backed ones.

Spark mapping: Structured Streaming's built-in windowed aggregation
exposes no trigger hook, so the runner is an ``applyInPandasWithState``
operator (the same execution strategy as the repo's CEP / Top-N /
count-window operators): state = open windows' buffered rows (through
``stateful.RowState``, one typed array per column) + each window's
trigger-state dict keyed by the window start + the carried per-key
watermark (bounded-out-of-orderness, max ts − delay — Flink's
BoundedOutOfOrdernessWatermarks, evaluated at micro-batch granularity;
the documented timer skew of SURVEY §7.3 risk 3). Early FIREs emit
speculative per-window rows exactly like Flink's early-firing windows —
downstream treats repeated (key, window) rows as updates. State is
bounded: open windows only (cleanup when the watermark passes the
window end), each holding at most its own rows (less after PURGE).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from enum import Enum
from typing import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import MapType, StringType, StructField, StructType, TimestampType

from flink_1_16_0_src_spark.streaming.stateful import RowState


class TriggerResult(Enum):
    """TriggerResult.java: what the window does after a trigger call."""

    CONTINUE = "continue"
    FIRE = "fire"
    PURGE = "purge"
    FIRE_AND_PURGE = "fire_and_purge"

    @property
    def is_fire(self) -> bool:
        return self in (TriggerResult.FIRE, TriggerResult.FIRE_AND_PURGE)

    @property
    def is_purge(self) -> bool:
        return self in (TriggerResult.PURGE, TriggerResult.FIRE_AND_PURGE)


@dataclass(frozen=True)
class Window:
    """One tumbling window pane: [start, end)."""

    start: pd.Timestamp
    end: pd.Timestamp


class Trigger:
    """Trigger.java contract. Subclass and override either hook;
    ``state`` is a JSON-serializable per-(key, window) dict persisted
    across micro-batches (the analog of the trigger's partitioned
    state). Default: never fires on elements, fires exactly once when
    the watermark passes the window end (EventTimeTrigger behavior).

    Intermediate event-time firings (TriggerContext.
    registerEventTimeTimer, Trigger.java:141) are supported via
    ``register_event_time_timer``: the runner invokes ``on_event_time``
    once per due timer — with the TIMER's timestamp, matching Flink's
    ``onEventTime(time, ...)`` — as the watermark passes it, in
    timestamp order, before the final window-close call (which passes
    the watermark itself). ContinuousEventTimeTrigger below is the
    built-in exercising this path.

    ``on_element``'s ``row`` holds Python values of the input's types
    in every micro-batch: ``datetime``, ``date``, ``Decimal``, exact
    ints, NULL as None."""

    @staticmethod
    def register_event_time_timer(state: dict, ts: pd.Timestamp) -> None:
        """TriggerContext.registerEventTimeTimer analog: ask the runner
        to call ``on_event_time(ts, ...)`` once the watermark ≥ ts.
        Idempotent per timestamp (Flink timers coalesce identically)."""
        timers = state.setdefault("__timers", [])
        iso = pd.Timestamp(ts).isoformat()
        if iso not in timers:
            timers.append(iso)

    def on_element(self, row: dict, window: Window, state: dict) -> TriggerResult:
        return TriggerResult.CONTINUE

    def on_event_time(
        self, watermark: pd.Timestamp, window: Window, state: dict
    ) -> TriggerResult:
        if watermark >= window.end and not state.get("fired_on_time"):
            state["fired_on_time"] = True
            return TriggerResult.FIRE
        return TriggerResult.CONTINUE


class EventTimeTrigger(Trigger):
    """EventTimeTrigger.java: FIRE once when the watermark passes the
    window's max timestamp (the base-class default), and — the late
    branch of ``onElement`` (EventTimeTrigger.java:59) — FIRE
    immediately for an element arriving AFTER the window closed but
    within allowed lateness, emitting an updated pane per late element.
    The runner exposes the current watermark to ``on_element`` as
    ``state['__watermark']``."""

    def on_element(self, row: dict, window: Window, state: dict) -> TriggerResult:
        wm = state.get("__watermark")
        if wm is not None and pd.Timestamp(wm) >= window.end:
            return TriggerResult.FIRE  # late element in a closed window
        return TriggerResult.CONTINUE


class CountTrigger(Trigger):
    """CountTrigger.java: FIRE every ``n`` elements (count state clears
    on fire, window contents stay — pair with PurgingTrigger for
    tumbling-count semantics); never fires on time."""

    def __init__(self, n: int) -> None:
        self.n = n

    def on_element(self, row: dict, window: Window, state: dict) -> TriggerResult:
        state["count"] = state.get("count", 0) + 1
        if state["count"] >= self.n:
            state["count"] = 0
            return TriggerResult.FIRE
        return TriggerResult.CONTINUE

    def on_event_time(self, watermark, window, state) -> TriggerResult:
        return TriggerResult.CONTINUE


class PurgingTrigger(Trigger):
    """PurgingTrigger.java: wraps another trigger, upgrading its FIRE
    to FIRE_AND_PURGE (emitted panes don't re-aggregate old rows)."""

    def __init__(self, inner: Trigger) -> None:
        self.inner = inner

    def _wrap(self, res: TriggerResult) -> TriggerResult:
        return TriggerResult.FIRE_AND_PURGE if res == TriggerResult.FIRE else res

    def on_element(self, row, window, state) -> TriggerResult:
        return self._wrap(self.inner.on_element(row, window, state))

    def on_event_time(self, watermark, window, state) -> TriggerResult:
        return self._wrap(self.inner.on_event_time(watermark, window, state))


class ContinuousEventTimeTrigger(Trigger):
    """ContinuousEventTimeTrigger.java: FIRE at every ``interval``
    boundary of event time while the window is open (speculative
    partial panes), plus the final on-time pane at window close.
    ``ts_col`` names the event-time field in the row dict (Flink gets
    the timestamp as an onElement argument; rows here carry it).
    Exercises the runner's timer-registration path: the first element
    registers a timer at the next interval boundary after its
    timestamp; each firing re-registers interval later — exactly the
    nextFireTimestamp state of the reference."""

    def __init__(self, interval: str, ts_col: str = "ts") -> None:
        self.interval = pd.Timedelta(interval)
        self.ts_col = ts_col

    def on_element(self, row, window, state) -> TriggerResult:
        if state.get("fire_ts") is None:
            ts = pd.Timestamp(row[self.ts_col])
            start = pd.Timestamp(
                (ts.value // self.interval.value) * self.interval.value
            )
            nxt = start + self.interval
            state["fire_ts"] = nxt.isoformat()
            self.register_event_time_timer(state, nxt)
        return TriggerResult.CONTINUE

    def on_event_time(self, time, window, state) -> TriggerResult:
        ft = state.get("fire_ts")
        if ft is not None and time == pd.Timestamp(ft) and time < window.end:
            nxt = pd.Timestamp(ft) + self.interval
            state["fire_ts"] = nxt.isoformat()
            self.register_event_time_timer(state, nxt)
            return TriggerResult.FIRE
        if time >= window.end and not state.get("fired_on_time"):
            state["fired_on_time"] = True
            return TriggerResult.FIRE
        return TriggerResult.CONTINUE


def triggered_tumble_window(
    sdf: DataFrame,
    keys: list[str],
    ts_col: str,
    size: str,
    delay: str,
    trigger: Trigger,
    agg_fn: Callable[[pd.DataFrame], dict],
    output_schema: StructType | str,
    order_col: str | list[str] | None = None,
    allowed_lateness: str = "0 seconds",
) -> DataFrame:
    """WindowOperator.java analog: tumbling ``size`` windows per key,
    firing policy = ``trigger`` (any Trigger subclass), window function
    = ``agg_fn(window_pdf) -> dict``. Output rows carry the key columns
    + window_start/window_end + the agg fields; a window may emit
    several times (early fires) — the final on-time pane is the one the
    watermark closes.

    Late rows drop only when their WINDOW is late — window end +
    ``allowed_lateness`` ≤ the carried per-key watermark at arrival
    (WindowOperator.java:590 isWindowLate); a behind-watermark row
    whose window is still open is kept, as in Flink. With a non-zero
    ``allowed_lateness`` (WindowedStream.allowedLateness) the window's
    state is retained past the on-time fire until end + lateness, and
    a late element re-consults the trigger — EventTimeTrigger fires an
    updated pane per late element, WindowOperator's late-firing path.
    ``order_col`` sorts each
    batch before processing so on_element order (and therefore count /
    delta trigger firings) is arrival-independent within a batch.

    ``agg_fn``'s frame holds the pane's rows with the input's types in
    every micro-batch (TIMESTAMP as ``datetime64``, ``date`` and
    ``Decimal`` objects). A row with a NULL ``ts_col`` is skipped."""
    if isinstance(output_schema, str):
        output_schema = StructType.fromDDL(output_schema)
    # state: the open windows' rows, the carried watermark, and each
    # open window's trigger-state dict keyed by the window's start
    buf = RowState(sdf.schema.fields, extra=[
        StructField("__watermark", TimestampType()),
        StructField("__trigger_state", MapType(TimestampType(), StringType())),
    ])
    size_td = pd.Timedelta(size)
    delay_td = pd.Timedelta(delay)
    late_td = pd.Timedelta(allowed_lateness)
    cols = output_schema.fieldNames()
    sort_by = order_col if order_col is not None else ts_col

    def window_of(ts: pd.Timestamp) -> Window:
        start = pd.Timestamp((ts.value // size_td.value) * size_td.value)
        return Window(start, start + size_td)

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        st = buf.read(state) or [[]] * len(buf.names) + [None, {}]
        wm = None if st[-2] is None else pd.Timestamp(st[-2])
        # window start -> {"rows": [...], "ts": trigger state}
        windows = {pd.Timestamp(s): {"rows": [], "ts": json.loads(t)} for s, t in st[-1].items()}
        for r in buf.rows(st[:-2]):
            windows[window_of(pd.Timestamp(r[ts_col])).start]["rows"].append(r)
        out: list[dict] = []

        def emit(wslot: dict, window: Window) -> None:
            if not wslot["rows"]:
                return
            rec = dict(zip(keys, key))
            rec["window_start"] = window.start
            rec["window_end"] = window.end
            rec.update(agg_fn(pd.DataFrame(wslot["rows"], columns=buf.names)))
            out.append(rec)

        def apply(res: TriggerResult, wslot: dict, window: Window) -> None:
            if res.is_fire:
                emit(wslot, window)
            if res.is_purge:
                wslot["rows"] = []

        max_ts = wm
        for pdf in pdfs:
            for d in buf.rows(buf.batch(pdf.sort_values(sort_by, kind="stable"))):
                if d[ts_col] is None:
                    continue  # no event time, no window to assign
                ts = pd.Timestamp(d[ts_col])
                window = window_of(ts)
                # WindowOperator.java:590 isWindowLate — drop only when
                # the element's WINDOW is expired (end + allowedLateness
                # ≤ watermark), not whenever the element itself is
                # behind the watermark: a behind-watermark row whose
                # window is still open (or within lateness) joins the
                # pane, as in Flink.
                if wm is not None and window.end + late_td <= wm:
                    continue  # late: window already expired
                slot = windows.setdefault(window.start, {"rows": [], "ts": {}})
                slot["rows"].append(d)
                # expose the current watermark to on_element (the
                # TriggerContext.getCurrentWatermark analog) so
                # EventTimeTrigger's late-firing branch can fire
                slot["ts"]["__watermark"] = wm.isoformat() if wm is not None else None
                apply(trigger.on_element(d, window, slot["ts"]), slot, window)
                max_ts = ts if max_ts is None or ts > max_ts else max_ts
        if max_ts is not None:
            new_wm = max_ts - delay_td
            wm = new_wm if wm is None or new_wm > wm else wm
        if wm is not None:
            for start in sorted(windows):
                window = Window(start, start + size_td)
                slot = windows[start]
                # user-registered event-time timers due at/before the
                # watermark fire first, in timestamp order, each passing
                # the TIMER's time (Flink onEventTime(time, ...)); a
                # handler may re-register, so loop until no new timer is
                # due — the fired set stops same-timestamp livelock.
                fired: set[str] = set()
                while True:
                    timers = slot["ts"].get("__timers", [])
                    due = sorted(
                        t for t in timers
                        if pd.Timestamp(t) <= wm and t not in fired
                    )
                    if not due:
                        break
                    slot["ts"]["__timers"] = [t for t in timers if t not in due]
                    for t in due:
                        fired.add(t)
                        apply(
                            trigger.on_event_time(
                                pd.Timestamp(t), window, slot["ts"]
                            ),
                            slot, window,
                        )
                if window.end <= wm and not slot["ts"].get("__closed"):
                    # on-time close fire (once); with allowed lateness
                    # the window's state is RETAINED for late re-fires
                    slot["ts"]["__closed"] = True
                    apply(trigger.on_event_time(wm, window, slot["ts"]), slot, window)
                if window.end + late_td <= wm:
                    # cleanup timer (end + allowedLateness): drop state;
                    # the trigger already fired at close, Flink's
                    # clearAllState fires nothing further here
                    windows.pop(start)
        rows = [r for start in sorted(windows) for r in windows[start]["rows"]]
        tstate = {start: json.dumps(w["ts"]) for start, w in windows.items()}
        buf.write(state, [[r[c] for r in rows] for c in buf.names], wm, tstate)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, buf.schema, "append", GroupStateTimeout.NoTimeout
    )
