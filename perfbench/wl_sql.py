"""sql_mix: the batch workload. A seeded sequence of Flink-dialect SQL
statements through ``TableEnvironment`` over the TPC-H-shaped star
schema, plus the curation pipelines of ``wl_curation``.

Each iteration is one round of 15 operations in a seeded order, 80%
of them reads:
- 10 reads: q1/q3/q5/q6/q9-style aggregates and joins, an EXISTS /
  NOT EXISTS pair, ROLLUP + RANK, an OVER frame and a Top-N;
- 3 ``INSERT INTO`` a ``PARTITIONED BY`` filesystem sink, so writes run
  beside reads;
- the registry's ``dedup_minhash_lsh`` and ``pipeline_e2e_curation`` over
  a seeded document corpus.
The seed sets the order and the predicate constants; the tables are a
fixed seed-42 fixture. DuckDB runs the same statement text as the
oracle; the sink is read back from its files after every round; the
pipelines face the registry's oracle SQL.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import gen
from common import Iteration, Workload, compare, latency_metrics, planted_wrong, reset_dir, temp_views
from wl_curation import DOCS, QUERIES, Curation

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
FIXTURE_SEED = 42
MILLI_SF = 50  # sf0.05: 75k orders, 300k lineitems
WARMUP_ROUND = 999_999  # the warm-up pass draws its own constants

SINK_DDL = (
    "CREATE TABLE rev_sink (l_returnflag STRING, l_linestatus STRING, ship_month INT, "
    "revenue DOUBLE, n BIGINT, ship_year INT) PARTITIONED BY (ship_year) "
    "WITH ('connector' = 'filesystem', 'path' = '{path}', 'format' = 'parquet')"
)


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def _day(rng, lo: dt.date, hi: dt.date) -> dt.date:
    return lo + dt.timedelta(days=int(rng.integers(0, (hi - lo).days)))


def _reads(rng) -> list[tuple[str, str]]:
    d = dt.date
    y = int(rng.integers(1995, 2001))
    q1 = _day(rng, d(1998, 6, 1), d(1998, 10, 1))
    q3 = _day(rng, d(1995, 3, 1), d(1996, 4, 1))
    q4 = d(int(rng.integers(1995, 2001)), int(rng.integers(1, 10)), 1)
    top = _day(rng, d(1999, 1, 1), d(2001, 1, 1))
    disc = int(rng.integers(2, 10)) / 100
    return [
        ("q1", f"""SELECT l_returnflag, l_linestatus, count(*) AS n,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_discount), 4) AS avg_disc
FROM lineitem WHERE l_shipdate <= {_ts(q1)}
GROUP BY l_returnflag, l_linestatus"""),
        ("q3", f"""SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{gen.SEGMENTS[int(rng.integers(0, 5))]}'
  AND o_orderdate < {_ts(q3)} AND l_shipdate > {_ts(q3)}
GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
        ("q5", f"""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{gen.REGIONS[int(rng.integers(0, 5))]}'
  AND o_orderdate >= {_ts(d(y, 1, 1))} AND o_orderdate < {_ts(d(y + 1, 1, 1))}
GROUP BY n_name"""),
        ("q6", f"""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= {_ts(d(y, 1, 1))} AND l_shipdate < {_ts(d(y + 1, 1, 1))}
  AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f}
  AND l_quantity < {int(rng.integers(20, 30))}"""),
        ("q9", f"""SELECT n_name AS nation, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS amount
FROM part JOIN lineitem ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%{gen.PART_WORDS[int(rng.integers(0, 10))]}%'
GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)"""),
        ("exists", f"""SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= {_ts(q4)} AND o_orderdate < {_ts(d(q4.year, q4.month + 3, 1))}
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_returnflag = 'R' AND l_quantity > {int(rng.integers(30, 46))})
GROUP BY o_orderpriority"""),
        ("not_exists", f"""SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
FROM customer
WHERE c_acctbal > {int(rng.integers(0, 5000))}
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= {_ts(d(y, 1, 1))} AND o_orderdate < {_ts(d(y + 1, 1, 1))})
GROUP BY c_mktsegment"""),
        ("rollup_rank", f"""SELECT l_returnflag, l_linestatus, count(*) AS n,
  round(sum(l_extendedprice), 2) AS total,
  RANK() OVER (ORDER BY sum(l_extendedprice) DESC) AS rk
FROM lineitem
WHERE l_shipdate >= {_ts(d(y, 1, 1))} AND l_shipdate < {_ts(d(y + 1, 1, 1))}
GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),
        ("over", f"""SELECT o_custkey, o_orderkey,
  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS run3
FROM orders WHERE o_custkey % 53 = {int(rng.integers(0, 53))}"""),
        ("topn", f"""SELECT c_mktsegment, o_orderkey, o_totalprice, rownum FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rownum
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderdate >= {_ts(top)}) t
WHERE rownum <= {int(rng.integers(3, 11))}"""),
    ]


def _insert(rng) -> str:
    start = _day(rng, dt.date(1995, 1, 1), dt.date(2000, 1, 1))
    end = start + dt.timedelta(days=int(rng.integers(270, 540)))
    return f"""INSERT INTO rev_sink
SELECT l_returnflag, l_linestatus, CAST(EXTRACT(MONTH FROM l_shipdate) AS INT) AS ship_month,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n,
  CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year
FROM lineitem
WHERE l_shipdate >= {_ts(start)} AND l_shipdate < {_ts(end)} AND l_quantity <= {int(rng.integers(20, 51))}
GROUP BY l_returnflag, l_linestatus, CAST(EXTRACT(MONTH FROM l_shipdate) AS INT),
  CAST(EXTRACT(YEAR FROM l_shipdate) AS INT)"""


def statements(seed: int, round_no: int) -> list[tuple[str, str]]:
    """Round ``round_no`` of the seeded sequence: (kind, text) for 10 SQL
    reads, 3 SQL inserts and the 2 curation pipelines (kind "pipeline",
    text = registry query name), in a seeded order."""
    rng = np.random.default_rng([seed, round_no])
    ops = (_reads(rng) + [("insert", _insert(rng)) for _ in range(3)]
           + [("pipeline", q) for q in QUERIES])
    return [ops[i] for i in rng.permutation(len(ops))]


class SqlMix(Workload):
    name = "sql_mix"

    def generate(self) -> None:
        self.tables = gen.cached(self.cache_dir, "tpch", FIXTURE_SEED, MILLI_SF, gen.build_tpch)
        self.cur = Curation(self.cache_dir, self.seed)
        self.sink = os.path.join(self.scratch, "rev_sink")
        self.reads: list[tuple[str, str, pd.DataFrame]] = []  # (kind, sql, result)
        self.rounds: list[tuple[list[str], pd.DataFrame]] = []  # (inserts, sink readback)
        self._round_inserts: list[str] = []
        self.sink_files = 0

    def open(self, spark, lib) -> None:
        super().open(spark, lib)
        self.tenv = lib.session.TableEnvironment(spark)
        self.cur.open(spark, lib)
        reset_dir(self.sink)
        self.tenv.execute_sql(SINK_DDL.format(path=self.sink))
        lib.tables.register_views(spark, self.tables, TABLES)
        self.base_views = temp_views(spark)

    def warmup(self) -> None:
        """One pass over every operation shape on the measured inputs,
        with constants of its own: the reads and pipelines from one thread
        per core, then one insert."""
        ops = statements(self.seed, WARMUP_ROUND)
        jobs = [lambda s=sql: self.tenv.sql_query(s).toPandas()
                for kind, sql in ops if kind not in ("insert", "pipeline")]
        jobs += self.cur.warmup_ops()
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as ex:
            for f in [ex.submit(j) for j in jobs]:
                f.result()
        self.tenv.execute_sql(next(sql for kind, sql in ops if kind == "insert"))
        reset_dir(self.sink)

    def begin_loop(self) -> None:
        self.sink_files = 0
        self.cur.begin_loop()

    def iteration(self, index: int, spans, counters) -> Iteration:
        it = Iteration()
        for j, (kind, text) in enumerate(statements(self.seed, index)):
            it.ops += 1
            t0 = time.perf_counter()
            try:
                if kind == "pipeline":
                    with spans.span("pipeline.call", query=text):
                        self.cur.run(text, spans, counters)
                elif kind == "insert":
                    with counters.group(f"sql/sink/{index}/{j}"), spans.span("sources.sink_write"):
                        self.tenv.execute_sql(text)
                    self._round_inserts.append(text)
                else:
                    with counters.group(f"sql/read/{index}/{j}"), spans.span("statement", kind=kind):
                        with spans.span("session.plan"):
                            df = self.tenv.sql_query(text)
                        pdf = df.toPandas()
                    self.reads.append((kind, text, pdf))
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                it.errors += 1
                print(f"# error in {kind}: {type(e).__name__}: {str(e)[:300]}", flush=True)
            dt_ = time.perf_counter() - t0
            it.record(f"pipeline.{text}" if kind == "pipeline" else f"sql.{kind}", dt_)
        return it

    def end_iteration(self) -> None:
        import duckdb

        files = [os.path.join(r, f) for r, _, fs in os.walk(self.sink) for f in fs
                 if f.endswith(".parquet")]
        self.sink_files += len(files)
        back = (
            duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{self.sink}/**/*.parquet', hive_partitioning = true)"
            ).fetchdf()
            if files else pd.DataFrame()
        )
        self.rounds.append((self._round_inserts, back))
        self._round_inserts = []
        reset_dir(self.sink)
        for view in temp_views(self.spark) - self.base_views:
            self.spark.catalog.dropTempView(view)
        self.spark.catalog.clearCache()

    def verify(self) -> tuple[int, list[str]]:
        con = self.lib.oracle.duckdb_connection(self.tables)
        problems: list[str] = []
        memo: dict[str, pd.DataFrame] = {}
        for kind, sql, got in self.reads:
            if sql not in memo:
                memo[sql] = con.execute(sql).fetchdf()
            problems += compare(self.lib, kind, got, memo[sql])
        for inserts, back in self.rounds:
            if not inserts:
                continue
            selects = [s.split("\n", 1)[1] for s in inserts]
            want = con.execute("\nUNION ALL\n".join(selects)).fetchdf()
            problems += compare(self.lib, "rev_sink", back, want)
        checked, cur_problems = self.cur.verify()
        return len(self.reads) + len(self.rounds) + checked, problems + cur_problems

    def plant_mismatch(self) -> None:
        kind, sql, pdf = self.reads[0]
        self.reads[0] = (kind, sql, planted_wrong(pdf))

    def named_metrics(self, timed) -> list[tuple[str, float, str]]:
        sql, pipe = timed.latencies("sql."), timed.latencies("pipeline.")
        out = [("sql_stmts_per_s", len(sql) / sum(sql), "1/s")]
        out += latency_metrics("sql", sql)
        if pipe:
            out.append(("curation_docs_per_s", DOCS * len(pipe) / len(QUERIES) / sum(pipe), "1/s"))
            out += latency_metrics("curation", pipe)
        out += [("dedup_recall", self.cur.recall(), f"ratio ({len(self.cur.planted)} planted pairs)")]
        return out

    def layer_metrics(self, spans, counters, loop) -> dict[str, float]:
        every = counters.collect(("sql/",))
        sink = counters.collect(("sql/sink/",))
        n_sql = max(len(loop.latencies("sql.")), 1)
        n_ins = max(spans.count("sources.sink_write"), 1)
        return {
            "session.plan_s": spans.total("session.plan") / max(spans.count("session.plan"), 1),
            "session.statements": n_sql,
            "session.errors": loop.errors,
            "sources.sink_write_s": spans.total("sources.sink_write") / n_ins,
            "sources.rows_written": sink["output_rows"] / n_ins,
            "sources.files_written": self.sink_files / n_ins,
            "sources.input_mb": every["input_mb"] / n_sql,
            **{f"queries.{k}": every[k] / n_sql for k in
               ("jobs", "tasks", "run_s", "cpu_s", "shuffle_mb", "spill_mb", "failed_tasks")},
            **self.cur.layer_metrics(spans, counters),
        }
