"""SQL-string surface queries: Flink-only clauses entered as SQL text.

These exercise ``sql_clauses.rewrite_flink_clauses`` end-to-end — the
same path ``TableEnvironment.sql_query`` runs — so a user porting Flink
SQL *text* (not just semantics) gets driver-verified coverage:

- ``TUMBLE/HOP(TABLE t, DESCRIPTOR(ts), ...)`` window TVF calls
  (reference SqlTumbleTableFunction.java:37, SqlHopTableFunction.java:38,
  parsed by FlinkSqlOperatorTable / SqlWindowTableFunction in Calcite).
- ``MATCH_RECOGNIZE`` as a SQL clause (reference StreamExecMatch.java:59,
  MatchCodeGenerator.scala) lowered onto the CEP engine.

The oracle SQL mirrors the corresponding Python-API queries in
``window_tvf.py`` / ``cep.py`` — the point here is that the *SQL text*
round-trips, not new semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.registry import query
from flink_1_16_0_src_spark.sql_clauses import rewrite_flink_clauses
from flink_1_16_0_src_spark.tables import load


def _events_view(spark: SparkSession, sf_dir: str, name: str) -> None:
    load(spark, sf_dir, "events").createOrReplaceTempView(name)


@query(
    "tvf_sql_tumble",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
           time_bucket(INTERVAL '30 minutes', ts) + INTERVAL '30 minutes' AS window_end,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("window-tvf", "sql-surface"),
)
def tvf_sql_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUMBLE window TVF written as Flink SQL text and rewritten by
    sql_clauses.rewrite_window_tvfs (SqlTumbleTableFunction.java:37)."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT window_start, window_end, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM TABLE(TUMBLE(TABLE events_sqlsrc, DESCRIPTOR(ts), INTERVAL '30' MINUTES))
    GROUP BY window_start, window_end, event_type
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "tvf_sql_hop",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', e.ts) - (j.j * INTERVAL '15 minutes') AS window_start,
           count(*) AS n,
           round(sum(e.value), 2) AS sum_value
    FROM events e, generate_series(0, 3) j(j)
    GROUP BY 1
    """,
    tags=("window-tvf", "sql-surface"),
)
def tvf_sql_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOP TVF (slide 15min, size 1h → 4 slices/row) as SQL text with
    named arguments, the SqlHopTableFunction.java:38 operand forms."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT window_start, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM TABLE(HOP(DATA => TABLE events_sqlsrc, TIMECOL => DESCRIPTOR(ts),
                   SLIDE => INTERVAL '15' MINUTES, SIZE => INTERVAL '1' HOUR))
    GROUP BY window_start
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "cep_sql_match",
    oracle="""
    SELECT user_id, click_id, purchase_id, purchase_value FROM (
      SELECT user_id,
             event_id AS click_id,
             lead(event_id) OVER w AS purchase_id,
             event_type,
             lead(event_type) OVER w AS next_type,
             lead(value) OVER w AS purchase_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t
    WHERE event_type = 'click' AND next_type = 'purchase'
    """,
    tags=("cep", "match-recognize", "sql-surface"),
)
def cep_sql_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE as a SQL clause (StreamExecMatch.java:59) lowered
    onto the NFA by sql_clauses.lower_match_recognize. Same adjacent
    click→purchase pattern as cep_adjacent_click_purchase, so the SQL
    lowering is cross-checked against both the Python-API path and the
    DuckDB lead() rewrite."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT * FROM events_sqlsrc MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS click_id,
               FIRST(B.event_id) AS purchase_id,
               FIRST(B.value) AS purchase_value
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B)
      DEFINE A AS event_type = 'click',
             B AS event_type = 'purchase'
    )
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "cep_sql_match_crossvar",
    oracle="""
    SELECT user_id, click_id, round(click_value, 2) AS click_value,
           purchase_id, round(purchase_value, 2) AS purchase_value
    FROM (
      SELECT user_id,
             event_id AS click_id,
             value AS click_value,
             lead(event_id) OVER w AS purchase_id,
             lead(value) OVER w AS purchase_value,
             event_type,
             lead(event_type) OVER w AS next_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t
    WHERE event_type = 'click' AND next_type = 'purchase'
      AND purchase_value > click_value * 1.1
    """,
    tags=("cep", "match-recognize", "sql-surface"),
)
def cep_sql_match_crossvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-variable DEFINE in SQL MATCH_RECOGNIZE
    (MatchCodeGenerator.scala running-aggregate surface): B's DEFINE
    references LAST(A.value) — the NFA evaluates it from match state
    per row (mask hoisting can't express it; A keeps its mask). Pattern:
    a purchase immediately after a click whose value beats the click's
    by >10%; oracle = the adjacent-pair lead() rewrite with the same
    cross-row comparison."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT * FROM events_sqlsrc MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS click_id,
               FIRST(A.value) AS click_value,
               FIRST(B.event_id) AS purchase_id,
               FIRST(B.value) AS purchase_value
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B)
      DEFINE A AS event_type = 'click',
             B AS event_type = 'purchase' AND B.value > LAST(A.value) * 1.1
    )
    """
    out = spark.sql(rewrite_flink_clauses(spark, sql))
    return out.select(
        "user_id", "click_id", F.round("click_value", 2).alias("click_value"),
        "purchase_id", F.round("purchase_value", 2).alias("purchase_value"),
    )


_RUNSUM_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS vi,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    clicks AS (
      SELECT user_id, event_id, vi, rn,
             rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS isl
      FROM ordered WHERE event_type = 'click'
    ),
    cum AS (
      SELECT user_id, isl, rn, event_id, vi,
             sum(vi) OVER (PARTITION BY user_id, isl ORDER BY rn) AS cumvi,
             min(rn) OVER (PARTITION BY user_id, isl) AS first_rn
      FROM clicks
    ),
    runs AS (
      SELECT user_id, isl, min(first_rn) AS first_rn,
             CAST(count(*) AS BIGINT) AS n_clicks,
             CAST(sum(vi) AS BIGINT) AS sum_vi,
             arg_min(event_id, rn) AS first_click
      FROM cum WHERE cumvi < 10000
      GROUP BY user_id, isl
    )
    SELECT o.user_id, o.event_id AS anchor_id, r.first_click,
           r.n_clicks, r.sum_vi
    FROM ordered o
    JOIN runs r ON r.user_id = o.user_id AND r.first_rn = o.rn + 1
    WHERE o.event_type = 'purchase'
"""


@query(
    "cep_sql_running_sum",
    oracle=_RUNSUM_ORACLE,
    tags=("cep", "match-recognize", "sql-surface"),
)
def cep_sql_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate over the variable BEING defined (r12, VERDICT
    r11 #3): ``DEFINE A AS SUM(A.vi) < 10000`` takes clicks while the
    running sum INCLUDING the candidate stays under the threshold —
    the reference's MatchRecognizeITCase.scala:677-694 running-sum
    pattern (MatchCodeGenerator.scala:61-71,121). Anchored on each
    purchase (S A+, SKIP TO NEXT ROW) so the greedy run extent is
    per-anchor independent; the oracle replays it via gaps-and-islands
    on consecutive clicks + a monotone integer prefix-sum cut (vi =
    cents, so both sides sum exactly)."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    spark.sql("""
        SELECT user_id, event_id, ts, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS vi
        FROM events_sqlsrc
    """).createOrReplaceTempView("events_runsum")
    sql = """
    SELECT * FROM events_runsum MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(S.event_id) AS anchor_id,
               FIRST(A.event_id) AS first_click,
               COUNT(A.*) AS n_clicks,
               SUM(A.vi) AS sum_vi
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (S A+)
      DEFINE S AS event_type = 'purchase',
             A AS event_type = 'click' AND SUM(A.vi) < 10000
    )
    """
    out = spark.sql(rewrite_flink_clauses(spark, sql))
    return out.select(
        "user_id", "anchor_id", "first_click",
        F.col("n_clicks").cast("bigint").alias("n_clicks"),
        F.col("sum_vi").cast("bigint").alias("sum_vi"),
    )


@query(
    "cep_sql_agg_measures",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS vi,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    clicks AS (
      SELECT user_id, event_id, vi, rn,
             rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS isl
      FROM ordered WHERE event_type = 'click'
    ),
    islands AS (
      SELECT user_id, isl, min(rn) AS first_rn, max(rn) AS last_rn,
             arg_min(event_id, rn) AS first_click,
             CAST(count(*) AS BIGINT) AS n_clicks,
             CAST(sum(vi * 2) AS BIGINT) AS s2,
             CAST(max(vi) AS BIGINT) AS mx,
             CAST(sum(vi) AS DOUBLE) / count(*) AS av
      FROM clicks GROUP BY user_id, isl
    )
    SELECT i.user_id, i.first_click, i.n_clicks, i.s2, i.mx, i.av,
           o.event_id AS purchase_id
    FROM islands i
    JOIN ordered o ON o.user_id = i.user_id AND o.rn = i.last_rn + 1
    WHERE o.event_type = 'purchase'
    """,
    tags=("cep", "match-recognize", "sql-surface"),
)
def cep_sql_agg_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURES aggregates over EXPRESSIONS of one variable's matched
    rows (r12; MatchRecognizeITCase.scala:677-694 — the
    SUM(B.price * B.rate) surface): a maximal click run immediately
    followed by a purchase reports SUM(A.vi * 2), MAX(A.vi), AVG(A.vi),
    COUNT(A.vi). Greedy A+ under strict contiguity consumes the whole
    island, so the oracle is gaps-and-islands + island aggregates with
    the island's successor row required to be a purchase. Integer cents
    make SUM/MAX exact; AVG is the same two-integer division on both
    sides."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    spark.sql("""
        SELECT user_id, event_id, ts, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS vi
        FROM events_sqlsrc
    """).createOrReplaceTempView("events_aggm")
    sql = """
    SELECT * FROM events_aggm MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS first_click,
               COUNT(A.*) AS n_clicks,
               SUM(A.vi * 2) AS s2,
               MAX(A.vi) AS mx,
               AVG(A.vi) AS av,
               FIRST(B.event_id) AS purchase_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ B)
      DEFINE A AS event_type = 'click',
             B AS event_type = 'purchase'
    )
    """
    out = spark.sql(rewrite_flink_clauses(spark, sql))
    return out.select(
        "user_id", "first_click",
        F.col("n_clicks").cast("bigint").alias("n_clicks"),
        F.col("s2").cast("bigint").alias("s2"),
        F.col("mx").cast("bigint").alias("mx"),
        "av", "purchase_id",
    )


@query(
    "cep_sql_classifier",
    oracle="""
    SELECT user_id, event_id AS start_id,
           CASE WHEN next_type = 'purchase' THEN next_id END AS purchase_id,
           CASE WHEN next_type = 'purchase' THEN 'B' ELSE 'A' END AS matched_var
    FROM (
      SELECT user_id, event_id, event_type,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t
    WHERE event_type = 'click'
    """,
    tags=("cep", "match-recognize", "sql-surface", "conformance"),
)
def cep_sql_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER() + RUNNING/FINAL measure prefixes under ONE ROW PER
    MATCH — BEYOND reference parity: Flink 1.16 lists CLASSIFIER() and
    non-FINAL MEASURES semantics as not yet supported
    (docs/content/docs/dev/table/sql/queries/match_recognize.md:1120-1124);
    here CLASSIFIER() returns the variable of the match's last row
    (ISO 9075-2 §9.7) and FINAL/RUNNING prefixes parse and coincide,
    which under ONE ROW PER MATCH is exactly the standard's semantics
    (output is produced only at match completion, where the running
    state IS the final state). Pattern (A B?): every click anchors a
    match; a directly-following purchase is greedily consumed, so
    CLASSIFIER() alternates between 'B' (consumed) and 'A' (bare
    click) — the oracle is the lead() rewrite of the same rule."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT * FROM events_sqlsrc MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FINAL FIRST(A.event_id) AS start_id,
               RUNNING LAST(B.event_id) AS purchase_id,
               CLASSIFIER() AS matched_var
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B?)
      DEFINE A AS event_type = 'click',
             B AS event_type = 'purchase'
    )
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "tvf_sql_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '1 hour' OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS window_start,
           max(ts) + INTERVAL '1 hour' AS window_end,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("window-tvf", "session", "sql-surface"),
)
def tvf_sql_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION TVF as Flink SQL text, incl. the `TABLE t PARTITION BY
    key` operand form (SqlSessionTableFunction; FLIP-234 session TVF) —
    rewritten onto the session_window operator; oracle =
    gaps-and-islands with a 1-hour gap."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT user_id, window_start, window_end,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM TABLE(SESSION(TABLE events_sqlsrc PARTITION BY user_id,
                       DESCRIPTOR(ts), INTERVAL '1' HOUR))
    GROUP BY user_id, window_start, window_end
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "join_sql_temporal",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey, round(o.o_totalprice, 2) AS last_order_price
    FROM events e
    ASOF JOIN (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                   ORDER BY o_orderkey DESC) = 1
    ) o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    tags=("join", "temporal", "sql-surface"),
)
def join_sql_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal join written as Flink SQL text — ``JOIN v FOR
    SYSTEM_TIME AS OF l.ts`` (SqlSnapshot / StreamExecTemporalJoin.java:77)
    lowered by sql_clauses.plan_batch_temporal_join onto the as-of
    operator. The versioned side is deduplicated to one version per
    (key, date) like the Python-API query, and the DuckDB oracle is
    DuckDB's native ASOF JOIN."""
    from pyspark.sql import Window as W

    load(spark, sf_dir, "events").select("event_id", "user_id", "ts").createOrReplaceTempView(
        "tj_events"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    o.withColumn("__rn", F.row_number().over(w)).where("__rn = 1").drop(
        "__rn"
    ).createOrReplaceTempView("tj_orders")
    sql = """
    SELECT event_id, user_id, ts, o_orderkey,
           round(o_totalprice, 2) AS last_order_price
    FROM tj_events AS e JOIN tj_orders FOR SYSTEM_TIME AS OF e.ts AS o
      ON e.user_id = o.o_custkey
    """
    out = spark.sql(
        rewrite_flink_clauses(spark, sql, time_attrs={"tj_orders": "o_orderdate"})
    )
    return out


@query(
    "lateral_sql_table_udtf",
    oracle="""
    SELECT d.doc_id, t.word, CAST(t.pos AS INT) AS pos
    FROM (SELECT doc_id, text FROM documents WHERE doc_id < 40) d,
         (SELECT doc_id, unnest(str_split_regex(trim(text), '\\s+')) AS word,
                 CAST(generate_subscripts(str_split_regex(trim(text), '\\s+'), 1) - 1 AS INT) AS pos
          FROM documents WHERE doc_id < 40) t
    WHERE d.doc_id = t.doc_id
    """,
    tags=("correlate", "udtf", "sql-surface"),
)
def lateral_sql_table_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's ``LATERAL TABLE(udtf(...)) AS T(...)`` SQL text
    (Correlate / StreamExecCorrelate.java:53) rewritten onto Spark's
    native lateral Python-UDTF join; tokens + ordinals cross-checked
    against DuckDB unnest WITH ORDINALITY."""
    from flink_1_16_0_src_spark.functions.udf import register, udtf

    @udtf("word string, pos int")
    def sql_tokenize(text: str):
        for i, w in enumerate(str(text).strip().split()):
            yield w, i

    register(spark, "sql_tokenize", sql_tokenize)
    load(spark, sf_dir, "documents").select("doc_id", "text").where(
        "doc_id < 40"
    ).createOrReplaceTempView("lat_docs")
    sql = """
    SELECT doc_id, word, pos
    FROM lat_docs, LATERAL TABLE(sql_tokenize(text)) AS T(word, pos)
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "join_temporal_table_fn",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           r.o_orderkey, round(r.o_totalprice, 2) AS rate_price
    FROM events e
    ASOF JOIN (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                   ORDER BY o_orderkey DESC) = 1
    ) r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    tags=("join", "temporal", "sql-surface"),
)
def join_temporal_table_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEGACY TemporalTableFunction surface (TableImpl.
    createTemporalTableFunction + ``LATERAL TABLE (rates(o.ts))`` —
    TemporalTableFunctionImpl.java, planner rule
    LogicalCorrelateToJoinFromTemporalTableFunctionRule): the same
    as-of semantics as ``FOR SYSTEM_TIME AS OF`` entered through the
    function-call API+SQL pair, with the key predicate in WHERE as the
    reference requires. Oracle: DuckDB's native ASOF JOIN."""
    from pyspark.sql import Window as W

    from flink_1_16_0_src_spark.session import TableEnvironment

    tenv = TableEnvironment(spark)
    load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("ttf_events")
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    versions = o.withColumn("__rn", F.row_number().over(w)).where("__rn = 1").drop("__rn")
    tenv.create_temporal_table_function(
        "order_rates", versions, time_attr="o_orderdate", primary_key="o_custkey"
    )
    return tenv.sql_query(
        """
        SELECT e.event_id, e.user_id, e.ts, r.o_orderkey,
               round(r.o_totalprice, 2) AS rate_price
        FROM ttf_events AS e, LATERAL TABLE (order_rates(e.ts)) AS r
        WHERE r.o_custkey = e.user_id
        """
    ).select("event_id", "user_id", "ts", "o_orderkey", "rate_price")


@query(
    "cep_sql_quantifier_exact",
    oracle="""
    SELECT user_id, click_id, first_view_id, last_view_id, purchase_id
    FROM (
      SELECT user_id,
             event_id AS click_id,
             event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             lead(event_type, 3) OVER w AS t3,
             lead(event_id, 1) OVER w AS first_view_id,
             lead(event_id, 2) OVER w AS last_view_id,
             lead(event_id, 3) OVER w AS purchase_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t
    WHERE event_type = 'click' AND t1 = 'view' AND t2 = 'view'
      AND t3 = 'purchase'
    """,
    tags=("cep", "match-recognize", "sql-surface", "conformance"),
)
def cep_sql_quantifier_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count quantifier PATTERN (A B{2} C) — SqlParser quantifier
    surface (match_recognize.md quantifier table; NFA exact {n} =
    (var, n, n) in sql_clauses._parse_quant): a click, exactly two
    contiguous views, then a purchase. Oracle = the three-lead window
    rewrite; AFTER MATCH SKIP TO NEXT ROW makes every click an anchor,
    so both sides enumerate identical anchors."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT * FROM events_sqlsrc MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS click_id,
               FIRST(B.event_id) AS first_view_id,
               LAST(B.event_id) AS last_view_id,
               FIRST(C.event_id) AS purchase_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B{2} C)
      DEFINE A AS event_type = 'click',
             B AS event_type = 'view',
             C AS event_type = 'purchase'
    )
    """
    return spark.sql(rewrite_flink_clauses(spark, sql)).select(
        "user_id", "click_id", "first_view_id", "last_view_id", "purchase_id"
    )


@query(
    "cep_sql_optional_greedy",
    oracle="""
    SELECT user_id, click_id, view_id, purchase_id
    FROM (
      SELECT user_id,
             event_id AS click_id,
             event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             lead(event_id, 1) OVER w AS i1,
             lead(event_id, 2) OVER w AS i2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t,
    LATERAL (
      SELECT CASE WHEN t1 = 'view' AND t2 = 'purchase' THEN i1 END AS view_id,
             CASE WHEN t1 = 'view' AND t2 = 'purchase' THEN i2
                  WHEN t1 = 'purchase' THEN i1 END AS purchase_id
    ) x
    WHERE event_type = 'click' AND purchase_id IS NOT NULL
    """,
    tags=("cep", "match-recognize", "sql-surface", "conformance"),
)
def cep_sql_optional_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optional quantifier PATTERN (A B? C) with GREEDY preference
    (match_recognize.md: single `?` is greedy — the with-B match wins
    when both parses exist): click, optionally one view, then a
    contiguous purchase. view_id is NULL exactly when the match took
    the empty-B parse. Oracle = two-lead CASE on the same anchors."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT * FROM events_sqlsrc MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS click_id,
               FIRST(B.event_id) AS view_id,
               FIRST(C.event_id) AS purchase_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B? C)
      DEFINE A AS event_type = 'click',
             B AS event_type = 'view',
             C AS event_type = 'purchase'
    )
    """
    return spark.sql(rewrite_flink_clauses(spark, sql)).select(
        "user_id", "click_id", "view_id", "purchase_id"
    )


@query(
    "cep_sql_reluctant_plus",
    oracle="""
    WITH pos AS (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    clicks AS (
      SELECT user_id, event_id AS click_id, rn AS p FROM pos
      WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, event_id AS purchase_id, rn AS q FROM pos
      WHERE event_type = 'purchase'
    ),
    best AS (
      SELECT c.user_id, c.click_id, c.p, min(pu.q) AS q
      FROM clicks c
      JOIN purch pu ON pu.user_id = c.user_id AND pu.q >= c.p + 2
      GROUP BY c.user_id, c.click_id, c.p
    )
    SELECT b.user_id, b.click_id, pu.purchase_id,
           CAST(b.q - b.p - 1 AS BIGINT) AS n_between
    FROM best b
    JOIN purch pu ON pu.user_id = b.user_id AND pu.q = b.q
    """,
    tags=("cep", "match-recognize", "sql-surface", "conformance"),
)
def cep_sql_reluctant_plus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELUCTANT quantifier PATTERN (A B+? C) — match_recognize.md
    quantifier table (`+?` = one-or-more reluctant; Quantifier.java
    ConsumingStrategy): B is undefined (matches any row, Calcite
    default), so the reluctant parse closes at the EARLIEST purchase at
    least two rows after each click — a greedy B+ would close at the
    LAST viable purchase instead. n_between = COUNT(B.*) counts the
    consumed gap rows. Oracle = min-position purchase join on the same
    row numbering."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT * FROM events_sqlsrc MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS click_id,
               FIRST(C.event_id) AS purchase_id,
               COUNT(B.*) AS n_between
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B+? C)
      DEFINE A AS event_type = 'click',
             C AS event_type = 'purchase'
    )
    """
    return spark.sql(rewrite_flink_clauses(spark, sql)).select(
        "user_id", "click_id", "purchase_id", "n_between"
    )


@query(
    "groupwin_sql_tumble",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
             - INTERVAL '1 millisecond' AS rowtime,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
    tags=("window-tvf", "group-window", "sql-surface"),
)
def groupwin_sql_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEGACY group-window syntax: ``GROUP BY TUMBLE(ts, INTERVAL)``
    with all three event-time auxiliary properties (pre-FLIP-145
    StreamExecGroupWindowAggregate.java:88; TUMBLE_ROWTIME = window
    end − 1 ms, TimeWindow.maxTimestamp())."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT event_type,
           TUMBLE_START(ts, INTERVAL '1' HOUR) AS window_start,
           TUMBLE_END(ts, INTERVAL '1' HOUR) AS window_end,
           TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) AS rowtime,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events_sqlsrc
    GROUP BY event_type, TUMBLE(ts, INTERVAL '1' HOUR)
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "groupwin_sql_hop",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', e.ts) - (j.j * INTERVAL '15 minutes') AS window_start,
           time_bucket(INTERVAL '15 minutes', e.ts) - (j.j * INTERVAL '15 minutes')
             + INTERVAL '1 hour' AS window_end,
           count(*) AS n,
           round(sum(e.value), 2) AS sum_value
    FROM events e, generate_series(0, 3) j(j)
    GROUP BY 1, 2
    """,
    tags=("window-tvf", "group-window", "sql-surface"),
)
def groupwin_sql_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEGACY ``GROUP BY HOP(ts, slide, size)`` (slide 15 min, size 1 h
    → 4 slices per row) with HOP_START/HOP_END auxiliaries."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT HOP_START(ts, INTERVAL '15' MINUTE, INTERVAL '1' HOUR) AS window_start,
           HOP_END(ts, INTERVAL '15' MINUTE, INTERVAL '1' HOUR) AS window_end,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events_sqlsrc
    GROUP BY HOP(ts, INTERVAL '15' MINUTE, INTERVAL '1' HOUR)
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "groupwin_sql_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes' OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS window_start,
           max(ts) + INTERVAL '30 minutes' AS window_end,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("window-tvf", "group-window", "session", "sql-surface"),
)
def groupwin_sql_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEGACY ``GROUP BY SESSION(ts, gap), key`` — the session window
    is scoped to the remaining grouping keys exactly like
    SessionWindowAssigner merging per key; 30-minute gap, oracle =
    gaps-and-islands."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT user_id,
           SESSION_START(ts, INTERVAL '30' MINUTE) AS window_start,
           SESSION_END(ts, INTERVAL '30' MINUTE) AS window_end,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events_sqlsrc
    GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


_LKSEQ = iter(range(10_000))


@query(
    "join_lookup_hint_sql",
    oracle="""
    SELECT e.event_id, e.user_id, n.n_name
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    WHERE e.event_id % 13 = 0
    """,
    tags=("join", "lookup", "sql-surface"),
)
def join_lookup_hint_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOOKUP join as SQL text (joins.md "Lookup Join";
    StreamExecLookupJoin.java): probe table with a ``pt AS PROCTIME()``
    computed column, ``JOIN dim FOR SYSTEM_TIME AS OF e.pt``, plus the
    FLINK-28779 ``LOOKUP(...)`` hint with async/output-mode/capacity/
    timeout options (LookupJoinHintOptions.java — validated, then
    absorbed: the Spark lowering joins the current dim snapshot
    set-oriented, so the mid-query I/O knobs have no result effect).
    Processing-time semantics = current version of the dim."""
    import os as _os

    from flink_1_16_0_src_spark.session import TableEnvironment

    t = TableEnvironment(spark)
    k = next(_LKSEQ)
    t.execute_sql(
        f"CREATE TABLE lk_events_{k} (event_id BIGINT, ts TIMESTAMP(3),"
        f" user_id BIGINT, event_type STRING, value DOUBLE,"
        f" pt AS PROCTIME())"
        f" WITH ('connector'='filesystem',"
        f"'path'='{_os.path.join(sf_dir, 'events.parquet')}',"
        f"'format'='parquet')"
    )
    load(spark, sf_dir, "nation").createOrReplaceTempView(f"lk_nation_{k}")
    return t.sql_query(f"""
        SELECT /*+ LOOKUP('table'='n', 'async'='true',
                          'output-mode'='allow_unordered',
                          'capacity'='100', 'timeout'='180s') */
               e.event_id, e.user_id, n.n_name
        FROM lk_events_{k} AS e
        JOIN lk_nation_{k} FOR SYSTEM_TIME AS OF e.pt AS n
          ON e.user_id % 25 = n.n_nationkey
        WHERE e.event_id % 13 = 0
    """)


@query(
    "join_sql_window_tvf",
    oracle="""
    WITH lw AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, user_id,
             count(*) AS n_click
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    rw AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, user_id,
             count(*) AS n_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT l.window_start, l.user_id, l.n_click, r.n_purchase
    FROM lw l LEFT JOIN rw r
      ON l.window_start = r.window_start AND l.user_id = r.user_id
    """,
    tags=("join", "window-tvf", "sql-surface"),
)
def join_sql_window_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window join as SQL text (window-join.md; StreamExecWindowJoin):
    two window-TVF relations joined on window_start/window_end equality
    plus the key — written entirely as Flink SQL with TWO TABLE(TUMBLE)
    calls in one statement (the rewrite materializes each occurrence).
    Final-result-only emission holds by construction in batch; the
    streaming twin is stream_window_join_drain."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    WITH lw AS (
      SELECT window_start, window_end, user_id, count(*) AS n_click
      FROM TABLE(TUMBLE(TABLE events_sqlsrc, DESCRIPTOR(ts), INTERVAL '1' HOUR))
      WHERE event_type = 'click'
      GROUP BY window_start, window_end, user_id
    ),
    rw AS (
      SELECT window_start, window_end, user_id, count(*) AS n_purchase
      FROM TABLE(TUMBLE(TABLE events_sqlsrc, DESCRIPTOR(ts), INTERVAL '1' HOUR))
      WHERE event_type = 'purchase'
      GROUP BY window_start, window_end, user_id
    )
    SELECT l.window_start, l.user_id, l.n_click, r.n_purchase
    FROM lw l LEFT JOIN rw r
      ON l.window_start = r.window_start AND l.window_end = r.window_end
     AND l.user_id = r.user_id
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))


@query(
    "topn_sql_window_tvf",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             user_id, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, user_id, sum_value, rownum FROM (
      SELECT window_start, user_id, sum_value,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY sum_value DESC, user_id) AS rownum
      FROM agg
    ) WHERE rownum <= 3
    """,
    tags=("window-tvf", "topn", "sql-surface"),
)
def topn_sql_window_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window Top-N as SQL text (window-topn.md; StreamExecWindowRank):
    ROW_NUMBER over (window_start, window_end) partitions of a window
    TVF aggregate, rownum <= 3 — the whole statement is Flink SQL,
    the TVF rewrite materializes the windowed relation and Catalyst
    plans the rank with WindowGroupLimit. user_id tiebreak keeps the
    rank deterministic (repo float rule for ranking surfaces)."""
    _events_view(spark, sf_dir, "events_sqlsrc")
    sql = """
    SELECT window_start, user_id, sum_value, rownum FROM (
      SELECT window_start, user_id, sum_value,
             ROW_NUMBER() OVER (PARTITION BY window_start, window_end
                                ORDER BY sum_value DESC, user_id) AS rownum
      FROM (
        SELECT window_start, window_end, user_id,
               round(sum(value), 2) AS sum_value
        FROM TABLE(TUMBLE(TABLE events_sqlsrc, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start, window_end, user_id
      )
    ) WHERE rownum <= 3
    """
    return spark.sql(rewrite_flink_clauses(spark, sql))
