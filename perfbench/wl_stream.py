"""stream_backlog: a generated event log drained with ``availableNow`` at
``maxFilesPerTrigger=1``, one micro-batch per file, through three
operator graphs over the same input:

- ``tumble``: ``streaming.windows.tumble_agg`` (state in the JVM store);
- ``topn``: ``streaming.windows.window_topn`` (Python state through
  ``applyInPandasWithState``);
- ``keep_first``: ``streaming.stateful.keep_first_dedup`` (Python state).

Each iteration drains the three graphs in turn into memory sinks. The
log has Zipf-skewed users, out-of-order rows inside the watermark delay
and a planted set of late rows that both windowed graphs must drop.
Oracle: DuckDB over the same files, windows closed by the final
watermark, input minus the planted late rows for the windowed graphs.
"""

from __future__ import annotations

import os
import time

import pandas as pd

import gen
from common import Iteration, Workload, compare, latency_metrics, reset_dir

FILES = 3
EVENTS_PER_FILE = 800
WARMUP_FILES, WARMUP_EVENTS = 1, 200
GRAPHS = ("tumble", "topn", "keep_first")
WINDOWED = ("tumble", "topn")
TOPN_K = 3


def _oracle_sql(events_dir: str) -> dict[str, str]:
    src = f"read_parquet('{events_dir}/events.parquet/*.parquet')"
    late = f"(SELECT event_id FROM read_parquet('{events_dir}/late.parquet'))"
    w = f"INTERVAL '{gen.STREAM_WINDOW}'"
    head = f"""WITH events AS (SELECT * FROM {src}),
ev AS (SELECT *, time_bucket({w}, ts) AS window_start,
              time_bucket({w}, ts) + {w} AS window_end
       FROM events WHERE event_id NOT IN {late}),
wm AS (SELECT max(ts) - INTERVAL '{gen.STREAM_DELAY}' AS w FROM events)
"""
    return {
        "tumble": head + """SELECT window_start, window_end, event_type, count(*) AS n,
  round(sum(value), 2) AS sum_value
FROM ev GROUP BY window_start, window_end, event_type
HAVING window_end <= (SELECT w FROM wm)""",
        "topn": head + f"""SELECT window_start, window_end, event_type, rank_num, value, event_id FROM (
  SELECT window_start, window_end, event_type, value, event_id,
    row_number() OVER (PARTITION BY window_start, event_type
                       ORDER BY value DESC, event_id DESC) AS rank_num
  FROM ev) t
WHERE rank_num <= {TOPN_K} AND window_end <= (SELECT w FROM wm)""",
        "keep_first": f"""SELECT user_id, event_type, ts, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rk FROM {src}) t
WHERE rk = 1""",
    }


def _duration(progress, key: str) -> float:
    return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3


def _state_sum(progress, key: str) -> float:
    return sum(so.get(key, 0) for p in progress for so in p["stateOperators"])


class StreamBacklog(Workload):
    name = "stream_backlog"

    def generate(self) -> None:
        self.events = gen.cached(
            self.cache_dir, f"events{FILES}", self.seed, EVENTS_PER_FILE,
            lambda out, s, n: gen.build_events(out, s, n, FILES),
        )
        self.warm_events = gen.cached(
            self.cache_dir, f"events{WARMUP_FILES}", self.seed, WARMUP_EVENTS,
            lambda out, s, n: gen.build_events(out, s, n, WARMUP_FILES),
        )
        self.n_late = (FILES - 2) * gen.LATE_PER_FILE
        self.n_events = FILES * EVENTS_PER_FILE + self.n_late
        self.outputs: list[tuple[str, pd.DataFrame]] = []
        self.dropped: list[tuple[str, int]] = []  # (graph, late rows dropped) per windowed drain
        self.progress: list[tuple[str, list]] = []  # this loop's drains
        self._views: list[str] = []

    def open(self, spark, lib) -> None:
        import flink_1_16_0_src_spark.streaming.sources  # noqa: F401
        import flink_1_16_0_src_spark.streaming.stateful  # noqa: F401
        import flink_1_16_0_src_spark.streaming.windows  # noqa: F401
        from pyspark.sql import functions

        super().open(spark, lib)
        self.F = functions

    def _graph(self, name: str, events_dir: str):
        st, F = self.lib.streaming, self.F
        sdf = st.sources.stream_table(
            self.spark, events_dir, "events",
            watermark=("ts", gen.STREAM_DELAY), max_files_per_trigger=1,
        )
        if name == "tumble":
            return st.windows.tumble_agg(
                sdf, "ts", gen.STREAM_WINDOW, ["event_type"],
                F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"),
            ), "append"
        if name == "topn":
            return st.windows.window_topn(
                sdf.select("ts", "event_type", "event_id", "value"),
                "ts", gen.STREAM_WINDOW, ["event_type"], "value", TOPN_K, ["event_id"],
            ), "append"
        return st.stateful.keep_first_dedup(
            sdf.select("user_id", "event_type", "ts", "value"), ["user_id"], order_col="ts"
        ), "update"

    def _start(self, graph: str, events_dir: str, tag: str):
        out, mode = self._graph(graph, events_dir)
        view = f"bench_{graph}_{tag}"
        cp = reset_dir(os.path.join(self.scratch, "checkpoints", view))
        self._views.append(view)
        return (out.writeStream.format("memory").queryName(view).outputMode(mode)
                .option("checkpointLocation", cp).trigger(availableNow=True).start())

    def _drain(self, graph: str, events_dir: str, tag: str) -> list:
        q = self._start(graph, events_dir, tag)
        q.awaitTermination()
        return q.recentProgress

    def warmup(self) -> None:
        """One drain of every graph over a one-file log, all three at once."""
        for q in [self._start(g, self.warm_events, "warmup") for g in GRAPHS]:
            q.awaitTermination()
        self.end_iteration(keep=False)

    def begin_loop(self) -> None:
        self.progress = []

    def iteration(self, index: int, spans, counters) -> Iteration:
        it = Iteration()
        for g in GRAPHS:
            it.ops += 1
            t0 = time.perf_counter()
            try:
                with spans.span("streaming.drain", graph=g):
                    progress = self._drain(g, self.events, str(index))
            except Exception as e:  # noqa: BLE001 — a failed drain is counted, the loop goes on
                it.errors += 1
                print(f"# error in {g}: {type(e).__name__}: {str(e)[:300]}", flush=True)
                it.seconds += time.perf_counter() - t0
                continue
            it.seconds += time.perf_counter() - t0
            it.items += self.n_events
            batches = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
            it.by_kind.setdefault(f"batch.{g}", []).extend(batches)
            self.progress.append((g, progress))
            if g in WINDOWED:
                self.dropped.append((g, int(_state_sum(progress, "numRowsDroppedByWatermark"))))
        return it

    def end_iteration(self, keep: bool = True) -> None:
        for view in self._views:
            if keep:
                graph = view[len("bench_"):].rsplit("_", 1)[0]
                self.outputs.append((graph, self.spark.table(view).toPandas()))
            self.spark.catalog.dropTempView(view)
        self._views = []
        reset_dir(os.path.join(self.scratch, "checkpoints"))
        self.spark.catalog.clearCache()

    def verify(self) -> tuple[int, list[str]]:
        import duckdb

        con = duckdb.connect()
        want = {g: con.execute(sql).fetchdf() for g, sql in _oracle_sql(self.events).items()}
        problems: list[str] = []
        for graph, got in self.outputs:
            if graph == "keep_first":
                # update-mode emissions: a user's smallest-ts emission is its final row
                got = got.sort_values("ts").groupby("user_id", as_index=False).first()
            problems += compare(self.lib, graph, got, want[graph])
        for graph, n in self.dropped:
            if n != self.n_late:
                problems.append(f"{graph}: dropped {n} late rows, planted {self.n_late}")
        return len(self.outputs) + len(self.dropped), problems

    def named_metrics(self, timed) -> list[tuple[str, float, str]]:
        return ([("stream_events_per_s", timed.items / timed.seconds, "1/s")]
                + latency_metrics("stream_batch", timed.latencies("batch."))
                + [("planted_late_rows", self.n_late, "count")])

    def layer_metrics(self, spans, counters, loop) -> dict[str, float]:
        drains = [p for _, p in self.progress]
        nd = max(len(drains), 1)
        batches = [b for p in drains for b in p]
        data = [b for b in batches if b["numInputRows"] > 0]
        last_state = [so for p in drains if p for so in p[-1]["stateOperators"]]
        windowed = [_state_sum(p, "numRowsDroppedByWatermark")
                    for g, p in self.progress if g in WINDOWED]
        return {
            "streaming.batches": len(batches) / nd,
            "streaming.rows_per_batch": sum(b["numInputRows"] for b in data) / max(len(data), 1),
            "streaming.add_batch_s": sum(_duration(p, "addBatch") for p in drains) / nd,
            "streaming.overhead_s": sum(
                _duration(p, "triggerExecution") - _duration(p, "addBatch") for p in drains
            ) / nd,
            "streaming.query_planning_s": sum(_duration(p, "queryPlanning") for p in drains) / nd,
            "streaming.shuffle_partitions": max(
                (so.get("numShufflePartitions", 0) for b in batches for so in b["stateOperators"]),
                default=0,
            ),
            "streaming.state_rows": sum(so.get("numRowsTotal", 0) for so in last_state) / nd,
            "streaming.state_mem_mb": sum(so.get("memoryUsedBytes", 0) for so in last_state) / nd / 1e6,
            "streaming.state_update_s": sum(
                _state_sum(p, "allUpdatesTimeMs") + _state_sum(p, "allRemovalsTimeMs") for p in drains
            ) / nd / 1e3,
            "streaming.state_commit_s": sum(_state_sum(p, "commitTimeMs") for p in drains) / nd / 1e3,
            "streaming.dropped_late_rows": sum(windowed) / max(len(windowed), 1),
        }
