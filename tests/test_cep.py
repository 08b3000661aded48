"""CEP / MATCH_RECOGNIZE tests (SURVEY.md §2.8).

NFA core is exercised pure-Python (the reference's NFATest analog);
the DataFrame wrappers are checked batch vs streaming and batch vs a
lead()-based SQL rewrite for the quantifier-free pattern.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import cep_reference as ref
from flink_1_16_0_src_spark import tables
from flink_1_16_0_src_spark.operators import cep

SF_DIR = "/root/testdata/sf0.001"


def _rows(vals):
    return [{"v": v, "i": i} for i, v in enumerate(vals)]


class TestNFACore:
    def test_simple_sequence(self):
        steps = [
            cep.Step("A", lambda r, m: r["v"] == 1),
            cep.Step("B", lambda r, m: r["v"] == 2),
        ]
        ms = cep.match_sequence(_rows([1, 2, 3, 1, 2]), steps)
        assert len(ms) == 2
        assert [cep.first(m, "A", "i") for m in ms] == [0, 3]

    def test_plus_greedy(self):
        steps = [
            cep.Step("A", lambda r, m: r["v"] == 0),
            cep.Step.plus("B", lambda r, m: r["v"] > 0),
            cep.Step("C", lambda r, m: r["v"] == -1),
        ]
        ms = cep.match_sequence(_rows([0, 5, 7, 9, -1, 0, -1]), steps)
        assert len(ms) == 1
        assert cep.count_of(ms[0], "B") == 3
        # second candidate 0,-1 has no B rows → no match

    def test_star_and_optional(self):
        steps = [
            cep.Step("A", lambda r, m: r["v"] == 0),
            cep.Step.star("B", lambda r, m: r["v"] == 1),
            cep.Step.opt("C", lambda r, m: r["v"] == 2),
            cep.Step("D", lambda r, m: r["v"] == 9),
        ]
        ms = cep.match_sequence(_rows([0, 9, 0, 1, 1, 2, 9]), steps)
        assert len(ms) == 2
        assert cep.count_of(ms[0], "B") == 0 and cep.count_of(ms[0], "C") == 0
        assert cep.count_of(ms[1], "B") == 2 and cep.count_of(ms[1], "C") == 1

    def test_range_quantifier(self):
        steps = [
            cep.Step("A", lambda r, m: r["v"] == 1, min=2, max=3),
            cep.Step("B", lambda r, m: r["v"] == 0),
        ]
        ms = cep.match_sequence(_rows([1, 1, 1, 0, 1, 0]), steps)
        assert len(ms) == 1 and cep.count_of(ms[0], "A") == 3
        ms2 = cep.match_sequence(_rows([1, 1, 0]), steps)
        assert len(ms2) == 1 and cep.count_of(ms2[0], "A") == 2

    def test_backtracking_greedy_gives_up_rows(self):
        # B+ greedy would eat the 5 that C needs — backtracking must yield it
        steps = [
            cep.Step("A", lambda r, m: r["v"] == 0),
            cep.Step.plus("B", lambda r, m: r["v"] > 0),
            cep.Step("C", lambda r, m: r["v"] == 5),
        ]
        ms = cep.match_sequence(_rows([0, 3, 4, 5]), steps)
        assert len(ms) == 1
        assert cep.count_of(ms[0], "B") == 2 and cep.first(ms[0], "C", "i") == 3

    def test_define_referencing_matched(self):
        # DEFINE B AS B.v > FIRST(A.v) — predicates see matched-so-far
        steps = [
            cep.Step("A", lambda r, m: True),
            cep.Step("B", lambda r, m: r["v"] > cep.first(m, "A", "v")),
        ]
        ms = cep.match_sequence(_rows([3, 5, 2, 1, 4]), steps)
        assert [(cep.first(m, "A", "v"), cep.first(m, "B", "v")) for m in ms] == [(3, 5), (1, 4)]

    def test_after_match_modes(self):
        steps = [
            cep.Step("A", lambda r, m: r["v"] == 1),
            cep.Step("B", lambda r, m: r["v"] == 1),
        ]
        assert len(cep.match_sequence(_rows([1, 1, 1, 1]), steps, "past_last_row")) == 2
        assert len(cep.match_sequence(_rows([1, 1, 1, 1]), steps, "to_next_row")) == 3

    def test_partial_detection(self):
        steps = [
            cep.Step("A", lambda r, m: r["v"] == 1),
            cep.Step("B", lambda r, m: r["v"] == 2),
        ]
        assert cep._NFA(_rows([3, 1]), steps).partial_at(1)  # A matched, B pending
        assert not cep._NFA(_rows([3, 3]), steps).partial_at(0)
        assert not cep._NFA(_rows([1, 3]), steps).partial_at(0)  # B failed on a real row


OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
        StructField("n_clicks", IntegerType()),
        StructField("purchase_value", DoubleType()),
    ]
)

STEPS = [
    cep.Step.plus("A", lambda r, m: r["event_type"] == "click"),
    cep.Step("B", lambda r, m: r["event_type"] == "purchase"),
]

MEASURES = {
    "start_ts": lambda m: cep.first(m, "A", "ts"),
    "end_ts": lambda m: cep.last(m, "B", "ts"),
    "n_clicks": lambda m: cep.count_of(m, "A"),
    "purchase_value": lambda m: cep.last(m, "B", "value"),
}


def test_match_recognize_batch_clicks_then_purchase(spark):
    ev = tables.load(spark, SF_DIR, "events").select("user_id", "ts", "event_type", "value")
    got = cep.match_recognize(ev, ["user_id"], "ts", STEPS, MEASURES, OUT_SCHEMA)
    rows = got.orderBy("user_id", "start_ts").collect()
    assert len(rows) > 0
    assert all(r.n_clicks >= 1 for r in rows)
    assert all(r.end_ts >= r.start_ts for r in rows)
    # cross-check one key against a pure-python scan
    uid = rows[0].user_id
    pdf = (
        ev.where(F.col("user_id") == uid).orderBy("ts").toPandas().to_dict("records")
    )
    expected = cep.match_sequence(pdf, STEPS)
    assert len([r for r in rows if r.user_id == uid]) == len(expected)


def test_match_recognize_stream_matches_batch(spark):
    from flink_1_16_0_src_spark.streaming import sources

    ev = tables.load(spark, SF_DIR, "events").select("user_id", "ts", "event_type", "value")
    exp = cep.match_recognize(ev, ["user_id"], "ts", STEPS, MEASURES, OUT_SCHEMA)

    sev = sources.stream_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    sgot = cep.match_recognize_stream(sev, ["user_id"], "ts", STEPS, MEASURES, OUT_SCHEMA)
    got = sources.run_to_memory(sgot, "cep_stream", "append")

    cols = ["user_id", "start_ts", "n_clicks", "purchase_value"]
    g = [tuple(r) for r in got.select(*cols).orderBy(*cols).collect()]
    e = [tuple(r) for r in exp.select(*cols).orderBy(*cols).collect()]
    # streaming holds matches whose greedy tail reaches the buffer end —
    # with one availableNow batch the only divergence is a possible
    # still-open final match per key
    assert len(g) >= len(e) - exp.select("user_id").distinct().count()
    assert set(g) <= set(e)
    assert len(g) > 0


def test_within_bounds_match_span():
    steps = [
        cep.Step("A", lambda r, m: r["v"] == 1),
        cep.Step.plus("B", lambda r, m: r["v"] == 2),
    ]
    rows = [
        {"v": 1, "t": 0},
        {"v": 2, "t": 5},
        {"v": 2, "t": 100},  # outside the 10-tick window
        {"v": 1, "t": 200},
        {"v": 2, "t": 205},
    ]
    unbounded = cep.match_sequence(rows, steps)
    bounded = cep.match_sequence(rows, steps, within=("t", 10))
    assert cep.count_of(unbounded[0], "B") == 2
    assert cep.count_of(bounded[0], "B") == 1  # t=100 row pruned
    assert len(bounded) == 2


def test_compiled_match_with_within_equals_nfa(spark):
    """The lead()-window compiled plan and the NFA must agree on a
    quantifier-free pattern WITH a WITHIN bound."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    rows = [
        # uid, ts, kind — pair at 10:00→10:02 inside 5m; pair at
        # 11:00→11:20 outside; adjacent pair 12:00→12:01 inside
        (1, dt.datetime(2024, 1, 1, 10, 0), "a"),
        (1, dt.datetime(2024, 1, 1, 10, 2), "b"),
        (1, dt.datetime(2024, 1, 1, 11, 0), "a"),
        (1, dt.datetime(2024, 1, 1, 11, 20), "b"),
        (2, dt.datetime(2024, 1, 1, 12, 0), "a"),
        (2, dt.datetime(2024, 1, 1, 12, 1), "b"),
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, kind string")
    steps = [
        cep.Step("A", lambda r, m: r["kind"] == "a", expr="kind = 'a'",
                 vec=lambda pdf: (pdf["kind"] == "a").to_numpy()),
        cep.Step("B", lambda r, m: r["kind"] == "b", expr="kind = 'b'",
                 vec=lambda pdf: (pdf["kind"] == "b").to_numpy()),
    ]
    schema = StructType(
        [StructField("uid", LongType()), StructField("start_ts", TimestampType())]
    )
    measures = {"start_ts": lambda m: cep.first(m, "A", "ts")}
    kw = dict(
        partition_by=["uid"], order_by="ts", steps=steps, measures=measures,
        output_schema=schema, after_match="to_next_row",
        within=("ts", "5 minutes"),
    )
    compiled = cep.match_recognize(df, measures_cols={"start_ts": ("A", "ts")}, **kw)
    # NFA path: same args minus measures_cols, but within delta as a
    # timedelta (the dict/mask matchers compare timestamps directly)
    kw_nfa = dict(kw, within=("ts", dt.timedelta(minutes=5)))
    nfa = cep.match_recognize(df, **kw_nfa)
    got_c = sorted((r.uid, r.start_ts) for r in compiled.collect())
    got_n = sorted((r.uid, r.start_ts) for r in nfa.collect())
    assert got_c == got_n
    assert got_c == [
        (1, pd.Timestamp("2024-01-01 10:00")),
        (2, pd.Timestamp("2024-01-01 12:00")),
    ]


def test_after_match_skip_to_var():
    """AfterMatchSkipStrategy SKIP TO FIRST/LAST <var> (NFA.java):
    pattern A B+ C over a b b c b c — skip-to-last-B resumes at the
    last B of the previous match, producing the overlapping second
    match that PAST LAST ROW misses."""
    rows = [{"i": i, "c": c} for i, c in enumerate("abbcbc")]
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step.plus("B", lambda r, m: r["c"] == "b"),
        cep.Step("C", lambda r, m: r["c"] == "c"),
    ]
    past = cep.match_sequence(rows, steps, "past_last_row")
    assert len(past) == 1  # a bb c consumed; remaining "bc" has no A
    first = cep.match_sequence(rows, steps, "skip_to_first_B")
    # resumes at index 1 (first B) — no A there, so still one match,
    # but the scan provably restarted inside the previous match
    assert len(first) == 1
    last = cep.match_sequence(rows, steps, "skip_to_last_B")
    assert len(last) == 1
    # the kernel answering from masks agrees with the row-dict reference
    import numpy as np

    masks = [
        np.array([c == "a" for c in "abbcbc"]),
        np.array([c == "b" for c in "abbcbc"]),
        np.array([c == "c" for c in "abbcbc"]),
    ]
    for mode in ("past_last_row", "skip_to_first_B", "skip_to_last_B"):
        d = ref.match_sequence(rows, steps, mode)
        m = cep.match_sequence(pd.DataFrame(rows), ref.with_masks(steps, masks), mode)
        assert d == m


def test_after_match_skip_overlapping_matches():
    """With pattern A+ B over 'a a b a b', skip_to_last_A lets the
    second 'a b' re-match from inside... verify against hand result."""
    rows = [{"i": i, "c": c} for i, c in enumerate("aabab")]
    steps = [
        cep.Step.plus("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b"),
    ]
    past = cep.match_sequence(rows, steps, "past_last_row")
    assert [(m["A"][0]["i"], m["B"][0]["i"]) for m in past] == [(0, 2), (3, 4)]
    last = cep.match_sequence(rows, steps, "skip_to_last_A")
    # first match A=[0,1] B=2 → resume at last A (index 1):
    # match A=[1] B=2 → resume at 1... no-progress guard bumps to 2;
    # then A=[3] B=4
    assert [(m["A"][-1]["i"], m["B"][0]["i"]) for m in last] == [(1, 2), (1, 2), (3, 4)]


def test_match_recognize_stream_relaxed_crosses_batches(spark, tmp_path):
    """followedBy (relaxed contiguity) in the STREAMING NFA: the open
    prefix must be retained across micro-batches while skippable noise
    arrives, and the match completes when the B row shows up two
    batches later."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from flink_1_16_0_src_spark.streaming import sources

    batches = [
        [("k1", 1, "a"), ("k2", 1, "a")],          # anchors
        [("k1", 2, "x"), ("k2", 2, "x")],          # skippable noise
        [("k1", 3, "b"), ("k2", 3, "x"), ("k2", 4, "b")],  # completions
    ]
    d = str(tmp_path / "relaxed_src")
    for b in batches:
        spark.createDataFrame(b, "k string, seq long, c string").coalesce(1).write.mode(
            "append"
        ).parquet(d)
    sdf = (
        spark.readStream.schema("k string, seq long, c string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    out = cep.match_recognize_stream(
        sdf,
        ["k"],
        "seq",
        steps,
        {
            "a_seq": lambda m: cep.first(m, "A", "seq"),
            "b_seq": lambda m: cep.first(m, "B", "seq"),
        },
        StructType(
            [
                StructField("k", StringType()),
                StructField("a_seq", LongType()),
                StructField("b_seq", LongType()),
            ]
        ),
    )
    got = sources.run_to_memory(out, "cep_relaxed_stream", "append")
    rows = {(r.k, r.a_seq, r.b_seq) for r in got.collect()}
    assert rows == {("k1", 1, 3), ("k2", 1, 4)}


def test_match_recognize_stream_null_order_sorts_last(spark, tmp_path):
    """A NULL order value sorts last in the streaming buffer, as
    ``sort_values`` puts it in the batch path: both return the same
    matches."""
    from flink_1_16_0_src_spark.streaming import sources

    rows = [("k", None, "b"), ("k", 3, "a"), ("k", 1, "a"), ("k", 2, "b")]
    ddl = "k string, seq long, c string"
    d = str(tmp_path / "null_order_src")
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(d)
    steps = [cep.Step("A", lambda r, m: r["c"] == "a"), cep.Step("B", lambda r, m: r["c"] == "b")]
    measures = {"a_seq": lambda m: cep.first(m, "A", "seq"), "b_seq": lambda m: cep.first(m, "B", "seq")}
    schema = StructType.fromDDL("k string, a_seq long, b_seq long")
    batch = cep.match_recognize(spark.read.parquet(d), ["k"], "seq", steps, measures, schema)
    stream = cep.match_recognize_stream(
        spark.readStream.schema(ddl).parquet(d), ["k"], "seq", steps, measures, schema
    )
    got = sources.run_to_memory(stream, "cep_null_order", "append").collect()
    exp = {(1, 2), (3, None)}
    assert {(r.a_seq, r.b_seq) for r in batch.collect()} == exp
    assert {(r.a_seq, r.b_seq) for r in got} == exp


def test_match_recognize_stream_emits_after_until_stop_row(spark, tmp_path):
    """A looping step's until() row also ends the open partial in the
    stream buffer's retention check, so the stream drains the match
    batch finds instead of holding the buffer as a live partial."""
    from flink_1_16_0_src_spark.streaming import sources

    ddl = "k string, i long, v long"
    d = str(tmp_path / "until_src")
    rows = [("k", i, v) for i, v in enumerate([1, 9, 5, 2])]
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(d)
    steps = (
        cep.Pattern.begin("A").where(lambda r, m: r["v"] > 0).one_or_more()
        .until(lambda r, m: r["v"] == 9)
        .next("B").where(lambda r, m: r["v"] == 2)
        .build()
    )
    measures = {"a_i": lambda m: cep.first(m, "A", "i"), "b_i": lambda m: cep.first(m, "B", "i")}
    schema = StructType.fromDDL("k string, a_i long, b_i long")
    batch = cep.match_recognize(spark.read.parquet(d), ["k"], "i", steps, measures, schema)
    stream = cep.match_recognize_stream(
        spark.readStream.schema(ddl).parquet(d), ["k"], "i", steps, measures, schema
    )
    got = sources.run_to_memory(stream, "cep_until_stop", "append").collect()
    assert {(r.a_i, r.b_i) for r in batch.collect()} == {(2, 3)}
    assert {(r.a_i, r.b_i) for r in got} == {(2, 3)}


def test_match_recognize_until_on_alternation_branch(spark):
    """until() on an alternation BRANCH stops that branch's loop in batch
    match_recognize although every step carries ``vec``: the stop row is
    neither taken nor skipped as a gap of the relaxed quantifier."""
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate([1, 9, 1, 2])], "k string, i long, v long"
    )
    eq = lambda x: lambda r, m: r["v"] == x  # noqa: E731
    veq = lambda x: lambda p: (p["v"] == x).to_numpy()  # noqa: E731
    steps = [
        cep.Step.alternation(
            cep.Step("A", eq(1), 1, None, vec=veq(1), internal="relaxed", until=eq(9)),
            cep.Step("Z", eq(7), vec=veq(7)),
        ),
        cep.Step("B", eq(2), vec=veq(2), contiguity="relaxed"),
    ]
    measures = {
        "a_i": lambda m: cep.first(m, "A", "i"),
        "n_a": lambda m: cep.count_of(m, "A"),
        "b_i": lambda m: cep.first(m, "B", "i"),
    }
    schema = StructType.fromDDL("k string, a_i long, n_a long, b_i long")
    out = cep.match_recognize(df, ["k"], "i", steps, measures, schema)
    assert [(r.a_i, r.n_a, r.b_i) for r in out.collect()] == [(0, 1, 3)]


def test_match_recognize_stream_within_prunes_stale_partials(spark, tmp_path):
    """WITHIN in streaming CEP: an expired open partial (relaxed B
    never arrives inside the span) is pruned instead of retained, so
    later matches still emit and state stays bounded. Without the
    bound, the stale a@00:00 partial would block the scan forever."""
    import datetime as dt

    import pyspark.sql.functions as F  # noqa: F401
    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    from flink_1_16_0_src_spark.streaming import sources

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    batches = [
        [("k", t(0), "a")],                 # anchor that will expire
        [("k", t(10), "x")],                # span now > 5 min — stale
        [("k", t(20), "a"), ("k", t(22), "b")],  # fresh pair: must match
    ]
    d = str(tmp_path / "within_src")
    for b in batches:
        spark.createDataFrame(b, "k string, ts timestamp, c string").coalesce(1).write.mode(
            "append"
        ).parquet(d)
    sdf = (
        spark.readStream.schema("k string, ts timestamp, c string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    out = cep.match_recognize_stream(
        sdf, ["k"], "ts", steps,
        {"a_ts": lambda m: cep.first(m, "A", "ts"),
         "b_ts": lambda m: cep.first(m, "B", "ts")},
        StructType([
            StructField("k", StringType()),
            StructField("a_ts", TimestampType()),
            StructField("b_ts", TimestampType()),
        ]),
        within="5 minutes",
    )
    got = sources.run_to_memory(out, "cep_within_stream", "append")
    rows = {(r.a_ts, r.b_ts) for r in got.collect()}
    # only the fresh pair; the expired a@00:00 never matches b@00:22
    assert rows == {(t(20), t(22))}


def _any_steps():
    return [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed_any"),
    ]


def _any_measures():
    return {
        "a_seq": lambda m: cep.first(m, "A", "seq"),
        "b_seq": lambda m: cep.first(m, "B", "seq"),
    }


_ANY_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("a_seq", LongType()),
        StructField("b_seq", LongType()),
    ]
)


def test_match_recognize_stream_followed_by_any_matches_batch(spark, tmp_path):
    """Streaming followedByAny == batch followedByAny on a drained
    stream (VERDICT r2 #7 parity): every (anchor, continuation) pair
    emits its own match, across micro-batch boundaries."""
    from flink_1_16_0_src_spark.streaming import sources

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("k1", base + dt.timedelta(minutes=i), i, c)
        for i, c in enumerate("abxbaxbb")
    ]
    batches = [rows[:3], rows[3:5], rows[5:]]
    d = str(tmp_path / "fba_src")
    for b in batches:
        spark.createDataFrame(b, "k string, ts timestamp, seq long, c string").coalesce(
            1
        ).write.mode("append").parquet(d)
    sdf = (
        spark.readStream.schema("k string, ts timestamp, seq long, c string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = cep.match_recognize_stream(
        sdf, ["k"], "ts", _any_steps(), _any_measures(), _ANY_SCHEMA,
        after_match="to_next_row", within="1 hour",
    )
    got = {
        (r.k, r.a_seq, r.b_seq)
        for r in sources.run_to_memory(out, "cep_fba_stream", "append").collect()
    }
    batch = cep.match_recognize(
        spark.createDataFrame(rows, "k string, ts timestamp, seq long, c string"),
        ["k"], "ts", _any_steps(), _any_measures(), _ANY_SCHEMA,
        after_match="to_next_row", within=("ts", pd.Timedelta("1 hour")),
    )
    exp = {(r.k, r.a_seq, r.b_seq) for r in batch.collect()}
    assert got == exp and len(exp) > 0


def test_match_recognize_stream_followed_by_any_anchor_stays_live(spark, tmp_path):
    """The SKIP_TILL_ANY property the deterministic buffer can't give:
    an anchor that already matched keeps matching continuations that
    arrive in LATER batches — and already-emitted matches don't
    re-emit when the window re-scans."""
    from flink_1_16_0_src_spark.streaming import sources

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    b1 = [("k", base, 0, "a"), ("k", base + dt.timedelta(minutes=1), 1, "b")]
    b2 = [("k", base + dt.timedelta(minutes=2), 2, "b")]
    d = str(tmp_path / "fba_live")
    for b in (b1, b2):
        spark.createDataFrame(b, "k string, ts timestamp, seq long, c string").coalesce(
            1
        ).write.mode("append").parquet(d)
    sdf = (
        spark.readStream.schema("k string, ts timestamp, seq long, c string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = cep.match_recognize_stream(
        sdf, ["k"], "ts", _any_steps(), _any_measures(), _ANY_SCHEMA,
        after_match="to_next_row", within="1 hour",
    )
    got = sorted(
        (r.a_seq, r.b_seq)
        for r in sources.run_to_memory(out, "cep_fba_live", "append").collect()
    )
    # batch 1 emits (0,1); batch 2 re-pairs the SAME anchor with the new
    # b (0,2) without re-emitting (0,1)
    assert got == [(0, 1), (0, 2)]


def test_match_recognize_stream_followed_by_any_requires_within(spark):
    import pytest

    from flink_1_16_0_src_spark.streaming import sources as _s  # noqa: F401

    sdf = spark.readStream.format("rate").load()
    with pytest.raises(NotImplementedError, match="within"):
        cep.match_recognize_stream(
            sdf, ["value"], "timestamp", _any_steps(), _any_measures(), _ANY_SCHEMA,
            after_match="to_next_row",
        )


def test_allow_combinations_enumerates_subsets():
    """allowCombinations (Quantifier SKIP_TILL_ANY internals): A{2}
    with combinations may SKIP a matching row between takes — rows
    a0 a1 a2 b yield {a0,a1}, {a0,a2}, {a1,a2}, while the
    deterministic relaxed internal yields only the earliest take-sets
    {a0,a1} and {a1,a2}."""
    rows = [
        {"c": "a", "i": 0}, {"c": "a", "i": 1}, {"c": "a", "i": 2}, {"c": "b", "i": 3},
    ]

    def steps(internal):
        return [
            cep.Step("A", lambda r, m: r["c"] == "a", 2, 2, internal=internal),
            cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
        ]

    comb = cep.match_sequence(rows, steps("combinations"), "to_next_row")
    got = sorted(tuple(r["i"] for r in m["A"]) for m in comb)
    assert got == [(0, 1), (0, 2), (1, 2)]

    det = cep.match_sequence(rows, steps("relaxed"), "to_next_row")
    got_det = sorted(tuple(r["i"] for r in m["A"]) for m in det)
    assert got_det == [(0, 1), (1, 2)]


def test_allow_combinations_pattern_api_and_skip_mode():
    import pytest

    p = (
        cep.Pattern.begin("A")
        .where(lambda r, m: r["c"] == "a")
        .one_or_more()
        .allow_combinations()
        .followed_by("B")
        .where(lambda r, m: r["c"] == "b")
    )
    rows = [{"c": "a", "i": 0}, {"c": "a", "i": 1}, {"c": "b", "i": 2}]
    out = cep.match_sequence(rows, p._steps, "to_next_row")
    # subsets of the a-run: {0}, {0,1}, {1} — each completing with b
    assert sorted(tuple(r["i"] for r in m["A"]) for m in out) == [(0,), (0, 1), (1,)]
    with pytest.raises(ValueError, match="to_next_row"):
        cep.match_sequence(rows, p._steps, "past_last_row")


def test_allow_combinations_streaming_matches_batch(spark, tmp_path):
    """Streaming allowCombinations rides the all-anchors streaming path
    (windowed re-enumeration + fingerprint dedup): equals batch on a
    drained two-batch stream."""
    import datetime as dt

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from flink_1_16_0_src_spark.streaming import sources

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("k", base + dt.timedelta(minutes=i), i, c) for i, c in enumerate("aaab")
    ]
    d = str(tmp_path / "comb_src")
    for b in (rows[:2], rows[2:]):
        spark.createDataFrame(b, "k string, ts timestamp, seq long, c string").coalesce(
            1
        ).write.mode("append").parquet(d)
    sdf = (
        spark.readStream.schema("k string, ts timestamp, seq long, c string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a", 2, 2, internal="combinations"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    measures = {
        "a0": lambda m: cep.first(m, "A", "seq"),
        "a1": lambda m: cep.last(m, "A", "seq"),
    }
    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("a0", LongType()),
            StructField("a1", LongType()),
        ]
    )
    out = cep.match_recognize_stream(
        sdf, ["k"], "ts", steps, measures, schema,
        after_match="to_next_row", within="1 hour",
    )
    got = sorted(
        (r.a0, r.a1)
        for r in sources.run_to_memory(out, "cep_comb_stream", "append").collect()
    )
    assert got == [(0, 1), (0, 2), (1, 2)]


class TestTimedOutPartials:
    """TimedOutPartialMatchHandler parity (flink-libraries/flink-cep/
    .../functions/TimedOutPartialMatchHandler.java:75, wired in
    cep/operator/CepOperator.java): partials that expire on within()
    surface as a second output; the match stream and the timeout
    stream PARTITION the pattern's anchors."""

    STEPS = [
        cep.Step("A", lambda r, m: r["c"] == "order"),
        cep.Step("B", lambda r, m: r["c"] == "pay", contiguity="relaxed"),
    ]

    def test_kernel_partitions_anchors(self):
        rows = [
            {"ts": 0, "c": "order", "i": 0},   # pays at 5 -> match
            {"ts": 5, "c": "pay", "i": 1},
            {"ts": 10, "c": "order", "i": 2},  # no pay within 10 -> timeout at 20
            {"ts": 15, "c": "view", "i": 3},
            {"ts": 25, "c": "pay", "i": 4},    # too late for order@10
            {"ts": 28, "c": "order", "i": 5},  # end of input -> timeout at 38
            {"ts": 30, "c": "view", "i": 6},
        ]
        matches, touts = cep.match_sequence_with_timeouts(
            rows, self.STEPS, within=("ts", 10)
        )
        assert [cep.first(m, "A", "i") for m in matches] == [0]
        assert [(cep.first(p, "A", "i"), tts) for p, tts in touts] == [(2, 20), (5, 38)]
        # every order anchors exactly one of the two outputs
        anchors = {cep.first(m, "A", "i") for m in matches} | {
            cep.first(p, "A", "i") for p, _ in touts
        }
        assert anchors == {0, 2, 5}

    def test_kernel_requires_within(self):
        import pytest

        with pytest.raises(ValueError):
            cep.match_sequence_with_timeouts([], self.STEPS)

    def test_select_with_timeouts_requires_within_at_call_time(self, spark):
        # with or without vectorized DEFINEs, a timeout select on a
        # pattern with no .within() fails when called, not in the worker
        import pytest

        df = spark.createDataFrame([("k", 0, "order")], "k string, ts long, c string")
        schema = StructType.fromDDL("k string, n long")
        for vec in (None, lambda p: (p["c"] == "order").to_numpy()):
            pat = cep.Pattern.begin("A").where(lambda r, m: r["c"] == "order", vec=vec)
            with pytest.raises(ValueError, match="within"):
                cep.CEP.pattern(df, pat, ["k"], "ts").select(
                    {"n": lambda m: cep.count_of(m, "A")}, schema,
                    timeout_measures={"n": lambda m, t: cep.count_of(m, "A")},
                    timeout_schema=schema,
                )

    def test_longest_prefix_in_timeout(self):
        # partial carries the matched-so-far rows of the LONGEST prefix
        steps = [
            cep.Step("A", lambda r, m: r["c"] == "a"),
            cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
            cep.Step("C", lambda r, m: r["c"] == "c", contiguity="relaxed"),
        ]
        rows = [
            {"ts": 0, "c": "a", "i": 0},
            {"ts": 1, "c": "b", "i": 1},
            {"ts": 50, "c": "x", "i": 2},
        ]
        _, touts = cep.match_sequence_with_timeouts(rows, steps, within=("ts", 10))
        assert len(touts) == 1
        partial, tts = touts[0]
        assert set(partial) == {"A", "B"}
        assert cep.first(partial, "B", "i") == 1 and tts == 10

    def test_kernel_any_path_partitions_anchors(self):
        """followedByAny timeout partials (r12, VERDICT r11 #5,
        NFA.java:86 timeout branch): an anchor with NO completing
        enumeration but a viable prefix times out with its buffered
        partial; anchors with at least one match never time out even
        though the any-path keeps them live for more continuations."""
        steps = [
            cep.Step("A", lambda r, m: r["c"] == "order"),
            cep.Step("B", lambda r, m: r["c"] == "pay",
                     contiguity="relaxed_any"),
        ]
        rows = [
            {"ts": 0, "c": "order", "i": 0},   # pays at 5 AND 8 → 2 matches
            {"ts": 5, "c": "pay", "i": 1},
            {"ts": 8, "c": "pay", "i": 2},
            {"ts": 12, "c": "order", "i": 3},  # no pay in (12,22] → timeout 22
            {"ts": 30, "c": "order", "i": 4},  # end of input → timeout 40
            {"ts": 31, "c": "view", "i": 5},   # never anchors anything
        ]
        matches, touts = cep.match_sequence_with_timeouts(
            rows, steps, after_match="to_next_row", within=("ts", 10)
        )
        got = sorted(
            (cep.first(m, "A", "i"), cep.first(m, "B", "i")) for m in matches
        )
        assert got == [(0, 1), (0, 2)]
        assert [(cep.first(p, "A", "i"), tts) for p, tts in touts] == [
            (3, 22), (4, 40)
        ]
        # anchors partition: every order is in exactly one output
        assert {cep.first(m, "A", "i") for m in matches} == {0}
        assert {cep.first(p, "A", "i") for p, _ in touts} == {3, 4}

    def test_kernel_any_path_timeouts_require_to_next_row(self):
        import pytest

        steps = [
            cep.Step("A", lambda r, m: r["c"] == "order"),
            cep.Step("B", lambda r, m: r["c"] == "pay",
                     contiguity="relaxed_any"),
        ]
        with pytest.raises(ValueError, match="to_next_row"):
            cep.match_sequence_with_timeouts(
                [], steps, after_match="past_last_row", within=("ts", 10)
            )

    def test_streaming_any_path_timeouts(self, spark):
        """Streaming followedByAny with a timeout handler (r12): anchors
        pruning out of the within-window without a match emit
        __side='timeout' rows carrying the longest buffered partial;
        matched anchors (even multi-match ones) do not."""
        import datetime as dt
        import tempfile

        from flink_1_16_0_src_spark.streaming import sources

        base = dt.datetime(2024, 1, 1)
        rows = [
            ("u1", base, "order", 0),
            ("u1", base + dt.timedelta(minutes=5), "pay", 1),
            ("u1", base + dt.timedelta(minutes=10), "pay", 2),
            ("u1", base + dt.timedelta(minutes=40), "order", 3),
            ("u1", base + dt.timedelta(hours=3), "view", 4),  # expires order@40m
        ]
        d = tempfile.mkdtemp()
        for group in (rows[:3], rows[3:]):
            spark.createDataFrame(
                group, "k string, ts timestamp, c string, seq long"
            ).coalesce(1).write.mode("append").parquet(d)
        sdf = (
            spark.readStream.schema("k string, ts timestamp, c string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        steps = [
            cep.Step("A", lambda r, m: r["c"] == "order"),
            cep.Step("B", lambda r, m: r["c"] == "pay",
                     contiguity="relaxed_any"),
        ]
        schema = StructType(
            [StructField("k", StringType()), StructField("order_seq", LongType()),
             StructField("pay_seq", LongType())]
        )
        to_schema = StructType(
            [StructField("k", StringType()), StructField("order_seq", LongType()),
             StructField("timeout_ts", TimestampType())]
        )
        out = cep.match_recognize_stream(
            sdf, ["k"], "ts", steps,
            {"order_seq": lambda m: cep.first(m, "A", "seq"),
             "pay_seq": lambda m: cep.first(m, "B", "seq")},
            schema,
            after_match="to_next_row", within="30 minutes",
            secondary_order="seq",
            timeout_measures={
                "order_seq": lambda p, tts: cep.first(p, "A", "seq"),
                "timeout_ts": lambda p, tts: tts,
            },
            timeout_schema=to_schema,
        )
        got = sources.run_to_memory(out, "cep_any_timeout_stream", "append").collect()
        main = {(r.k, r.order_seq, r.pay_seq) for r in got if r["__side"] == "match"}
        touts = {(r.k, r.order_seq, r.timeout_ts)
                 for r in got if r["__side"] == "timeout"}
        # order@0 pairs with BOTH pays (any-path), never times out
        assert main == {("u1", 0, 1), ("u1", 0, 2)}
        # order@40m saw no pay inside 30m and pruned on the 3h view
        assert touts == {("u1", 3, base + dt.timedelta(minutes=70))}

    def test_pattern_stream_select_with_timeout_fn(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = [
            ("u1", base, "order", 0),
            ("u1", base + dt.timedelta(minutes=5), "pay", 1),
            ("u1", base + dt.timedelta(minutes=20), "order", 2),
            ("u1", base + dt.timedelta(hours=2), "view", 3),
            ("u2", base, "order", 4),
            ("u2", base + dt.timedelta(hours=3), "pay", 5),  # outside window
        ]
        df = spark.createDataFrame(rows, "k string, ts timestamp, c string, seq long")
        pat = (
            cep.Pattern.begin("A").where(lambda r, m: r["c"] == "order")
            .followed_by("B").where(lambda r, m: r["c"] == "pay")
            .within("30 minutes")
        )
        out_schema = StructType(
            [
                StructField("k", StringType()),
                StructField("order_seq", LongType()),
                StructField("pay_seq", LongType()),
            ]
        )
        to_schema = StructType(
            [
                StructField("k", StringType()),
                StructField("order_seq", LongType()),
                StructField("timeout_ts", TimestampType()),
            ]
        )
        main, touts = cep.CEP.pattern(df, pat, ["k"], "ts").select(
            {
                "order_seq": lambda m: cep.first(m, "A", "seq"),
                "pay_seq": lambda m: cep.first(m, "B", "seq"),
            },
            out_schema,
            timeout_measures={
                "order_seq": lambda p, tts: cep.first(p, "A", "seq"),
                "timeout_ts": lambda p, tts: tts,
            },
            timeout_schema=to_schema,
        )
        got_main = {(r.k, r.order_seq, r.pay_seq) for r in main.collect()}
        got_touts = {(r.k, r.order_seq, r.timeout_ts) for r in touts.collect()}
        assert got_main == {("u1", 0, 1)}
        assert got_touts == {
            ("u1", 2, base + dt.timedelta(minutes=50)),
            ("u2", 4, base + dt.timedelta(minutes=30)),
        }

    def test_streaming_drain_matches_batch(self, spark):
        """Streaming multiplexed side output == batch kernel over the
        same rows, except anchors whose window never expires (still
        open in state at drain end)."""
        import datetime as dt
        import tempfile

        from flink_1_16_0_src_spark.streaming import sources

        base = dt.datetime(2024, 1, 1)
        rows = [
            ("u1", base, "order", 0),
            ("u1", base + dt.timedelta(minutes=5), "pay", 1),
            ("u1", base + dt.timedelta(minutes=20), "order", 2),
            ("u1", base + dt.timedelta(hours=2), "view", 3),
            ("u2", base, "order", 4),          # no later u2 event beyond 30m+...
            ("u2", base + dt.timedelta(minutes=10), "view", 5),  # stays open
        ]
        d = tempfile.mkdtemp()
        # two sequential single-file writes = two deterministic arrival
        # batches (the file source orders by mtime; parallel part files
        # from one write land in random order)
        for group in (rows[:3], rows[3:]):
            spark.createDataFrame(
                group, "k string, ts timestamp, c string, seq long"
            ).coalesce(1).write.mode("append").parquet(d)
        sdf = (
            spark.readStream.schema("k string, ts timestamp, c string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        steps = [
            cep.Step("A", lambda r, m: r["c"] == "order"),
            cep.Step("B", lambda r, m: r["c"] == "pay", contiguity="relaxed"),
        ]
        schema = StructType(
            [StructField("k", StringType()), StructField("order_seq", LongType()),
             StructField("pay_seq", LongType())]
        )
        to_schema = StructType(
            [StructField("k", StringType()), StructField("order_seq", LongType()),
             StructField("timeout_ts", TimestampType())]
        )
        out = cep.match_recognize_stream(
            sdf, ["k"], "ts", steps,
            {"order_seq": lambda m: cep.first(m, "A", "seq"),
             "pay_seq": lambda m: cep.first(m, "B", "seq")},
            schema,
            after_match="to_next_row", within="30 minutes",
            timeout_measures={
                "order_seq": lambda p, tts: cep.first(p, "A", "seq"),
                "timeout_ts": lambda p, tts: tts,
            },
            timeout_schema=to_schema,
        )
        got = sources.run_to_memory(out, "cep_timeout_stream", "append").collect()
        main = {(r.k, r.order_seq, r.pay_seq) for r in got if r["__side"] == "match"}
        touts = {(r.k, r.order_seq, r.timeout_ts) for r in got if r["__side"] == "timeout"}
        assert main == {("u1", 0, 1)}
        # u1/order@20m expired (view at 2h); u2/order never expired -> open
        assert touts == {("u1", 2, base + dt.timedelta(minutes=50))}


def test_nfa_mask_path_equals_dict_path_with_timeouts():
    """The kernel's timeout scan, answering from masks over a frame,
    must reproduce the row-dict reference's matches AND timeouts exactly
    on a mixed stream (quantified middle step, relaxed contiguity)."""
    import numpy as np

    base = pd.Timestamp("2024-01-01")
    rows = []
    rng = np.random.default_rng(11)
    for i in range(400):
        c = rng.choice(["order", "view", "pay", "noise"], p=[0.2, 0.3, 0.2, 0.3])
        rows.append({"c": str(c), "ts": base + pd.Timedelta(minutes=i), "seq": i})
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "order",
                 vec=lambda pdf: (pdf["c"] == "order").to_numpy()),
        cep.Step.plus("B", lambda r, m: r["c"] == "view",
                      vec=lambda pdf: (pdf["c"] == "view").to_numpy()),
        cep.Step("C", lambda r, m: r["c"] == "pay",
                 vec=lambda pdf: (pdf["c"] == "pay").to_numpy(),
                 contiguity="relaxed"),
    ]
    within = ("ts", pd.Timedelta("15 minutes"))
    hits, touts = ref.match_sequence_with_timeouts(rows, steps, "past_last_row", within)
    mhits, mtouts = cep.match_sequence_with_timeouts(
        pd.DataFrame(rows), steps, "past_last_row", within
    )
    as_idx = lambda m: {v: [r["seq"] for r in rs] for v, rs in m.items()}
    assert [as_idx(m) for m in hits] == [as_idx(m) for m in mhits]
    assert [(as_idx(p), t) for p, t in touts] == [(as_idx(p), t) for p, t in mtouts]
    assert len(hits) > 0 and len(touts) > 0  # the fixture exercises both


def test_nfa_mask_speedup_over_dict_path():
    """The kernel answering from vectorized DEFINE masks (next-true
    jump tables + anchor skipping) is >=3x the row-dict reference's
    per-row-Python-predicate walk on a 60k-row stream, including the
    masks' own evaluation cost. Event mix: 5% anchors /
    2% terminals — the sparse-match regime real clickstream patterns
    live in, where gap skipping pays (at a dense 30% anchor mix the
    measured gain is ~1.6x, still never slower). min-of-3 per kernel —
    the minimum approximates unloaded time under host contention, the
    bench.py canary philosophy."""
    import time

    import numpy as np

    rng = np.random.default_rng(3)
    n = 60_000
    cats = rng.choice(["click", "view", "purchase", "noise"], size=n,
                      p=[0.05, 0.2, 0.02, 0.73])
    pdf = pd.DataFrame({"c": cats, "seq": np.arange(n)})
    rows = pdf.to_dict("records")
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "click",
                 vec=lambda p: (p["c"] == "click").to_numpy()),
        cep.Step.plus("B", lambda r, m: r["c"] == "view",
                      vec=lambda p: (p["c"] == "view").to_numpy()),
        cep.Step("C", lambda r, m: r["c"] == "purchase",
                 vec=lambda p: (p["c"] == "purchase").to_numpy(),
                 contiguity="relaxed"),
    ]

    def dict_path():
        return ref.match_sequence(rows, steps)

    def mask_path():
        return cep.match_sequence(pdf, steps)  # includes the masks' cost

    def best_of(fn, k=3):
        b = None
        for _ in range(k):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            b = dt if b is None else min(b, dt)
        return b

    # same match count first (correctness before speed)
    got = mask_path()
    want = dict_path()
    assert got == want and len(want) > 0
    t_dict = best_of(dict_path)
    t_mask = best_of(mask_path)
    assert t_dict / t_mask >= 3.0, (t_dict, t_mask)


def test_any_path_mask_equals_dict_path():
    """followedByAny / allowCombinations all-anchors enumeration: the
    kernel answering from masks must reproduce the row-dict reference's
    matches exactly (same order, same take-sets) on a mixed stream,
    including within-window pruning."""
    import numpy as np

    base = pd.Timestamp("2024-01-01")
    rng = np.random.default_rng(5)
    rows = []
    for i in range(250):
        c = rng.choice(["a", "b", "c", "x"], p=[0.2, 0.25, 0.15, 0.4])
        rows.append({"c": str(c), "ts": base + pd.Timedelta(minutes=i), "seq": i})
    for steps in (
        [  # followedByAny
            cep.Step("A", lambda r, m: r["c"] == "a",
                     vec=lambda p: (p["c"] == "a").to_numpy()),
            cep.Step("B", lambda r, m: r["c"] == "b",
                     vec=lambda p: (p["c"] == "b").to_numpy(),
                     contiguity="relaxed_any"),
        ],
        [  # allowCombinations on a quantified middle step
            cep.Step("A", lambda r, m: r["c"] == "a",
                     vec=lambda p: (p["c"] == "a").to_numpy()),
            cep.Step("B", lambda r, m: r["c"] == "b", min=1, max=2,
                     vec=lambda p: (p["c"] == "b").to_numpy(),
                     internal="combinations", contiguity="relaxed_any"),
            cep.Step("C", lambda r, m: r["c"] == "c",
                     vec=lambda p: (p["c"] == "c").to_numpy(),
                     contiguity="relaxed"),
        ],
    ):
        within = ("ts", pd.Timedelta("25 minutes"))
        want = ref.match_sequence(rows, steps, "to_next_row", within)
        got = cep.match_sequence(pd.DataFrame(rows), steps, "to_next_row", within)
        as_idx = lambda ms: [
            {v: [r["seq"] for r in rs] for v, rs in m.items()} for m in ms
        ]
        assert as_idx(want) == as_idx(got) and len(want) > 0


class TestReluctantQuantifiers:
    """Quantifier.java ConsumingStrategy: reluctant prefers the FEWEST
    takes that complete; greedy (the default here) the most. Feasible
    take-sets are identical — only selection priority flips."""

    def test_plus_reluctant_vs_greedy(self):
        # A=0 anchor, B+ consumes positives, C>=10 closes. Rows give TWO
        # viable closes (10 at i3 and 20 at i5): greedy closes at the
        # LAST viable take-count, reluctant at the FIRST.
        rows = _rows([0, 5, 7, 10, 8, 20])
        mk = lambda rel: [
            cep.Step("A", lambda r, m: r["v"] == 0),
            cep.Step("B", lambda r, m: r["v"] > 0, 1, None, reluctant=rel),
            cep.Step("C", lambda r, m: r["v"] >= 10),
        ]
        greedy = cep.match_sequence(rows, mk(False))
        rel = cep.match_sequence(rows, mk(True))
        assert len(greedy) == len(rel) == 1
        assert cep.first(greedy[0], "C", "i") == 5  # consumed 5,7,10,8 then C=20
        assert cep.first(rel[0], "C", "i") == 3     # consumed 5,7 then C=10

    def test_optional_reluctant_prefers_empty(self):
        # A=1 B?=2 C=2: with B greedy the 2 is taken by B and C fails ->
        # backtrack still matches (B empty, C takes the 2). Row tail
        # distinguishes: [1, 2, 2] has both parses; greedy takes B=2
        # C=2nd-2, reluctant takes B=empty C=1st-2.
        rows = _rows([1, 2, 2])
        mk = lambda rel: [
            cep.Step("A", lambda r, m: r["v"] == 1),
            cep.Step("B", lambda r, m: r["v"] == 2, 0, 1, reluctant=rel),
            cep.Step("C", lambda r, m: r["v"] == 2),
        ]
        g = cep.match_sequence(rows, mk(False))
        r = cep.match_sequence(rows, mk(True))
        assert cep.first(g[0], "C", "i") == 2 and cep.first(g[0], "B", "i") == 1
        assert cep.first(r[0], "C", "i") == 1 and r[0].get("B") in (None, [])

    def test_reluctant_mask_path_matches_dict_path(self):
        """The kernel answering from masks and the row-dict reference
        agree on reluctant semantics (two anchors, each with multiple
        viable closes)."""
        import numpy as np

        rows = _rows([0, 5, 7, 10, 8, 20, 0, 3, 10])

        def mk(rel):
            return [
                cep.Step("A", lambda r, m: r["v"] == 0),
                cep.Step("B", lambda r, m: r["v"] > 0, 1, None, reluctant=rel),
                cep.Step("C", lambda r, m: r["v"] >= 10),
            ]

        for rel in (False, True):
            steps = mk(rel)
            d = ref.match_sequence(rows, steps)
            vals = np.array([r["v"] for r in rows])
            masks = [vals == 0, vals > 0, vals >= 10]
            m = cep.match_sequence(pd.DataFrame(rows), ref.with_masks(steps, masks))
            assert [cep.first(x, "C", "i") for x in m] == [cep.first(x, "C", "i") for x in d]
        # and the two semantics genuinely differ on this fixture
        assert [cep.first(x, "C", "i") for x in cep.match_sequence(rows, mk(False))] != [
            cep.first(x, "C", "i") for x in cep.match_sequence(rows, mk(True))
        ]

    def test_reluctant_rejects_combinations(self):
        import pytest as _pytest

        steps = [
            cep.Step("A", lambda r, m: True, 1, None, reluctant=True,
                     internal="combinations"),
        ]
        with _pytest.raises(ValueError, match="reluctant"):
            cep.match_recognize(
                None, [], "i", steps, {}, None  # validation precedes df use
            )


def test_pattern_api_reluctant_and_greedy():
    """Pattern.reluctant()/.greedy() (Quantifier.java ConsumingStrategy)
    through the fluent facade."""
    rows = _rows([0, 5, 7, 10, 8, 20])
    base = lambda: (
        cep.Pattern.begin("A").where(lambda r, m: r["v"] == 0)
        .next("B").where(lambda r, m: r["v"] > 0).one_or_more()
    )
    g = base().greedy().next("C").where(lambda r, m: r["v"] >= 10).build()
    r = base().reluctant().next("C").where(lambda r, m: r["v"] >= 10).build()
    assert cep.first(cep.match_sequence(rows, g)[0], "C", "i") == 5
    assert cep.first(cep.match_sequence(rows, r)[0], "C", "i") == 3


class TestPatternUntil:
    """Pattern.until() (Pattern.java:228): loop stop condition — the
    stop row is NOT consumed; the loop stops accepting takes when a row
    satisfies it (take AND ignore edges, so gap rows can stop a relaxed
    loop too)."""

    def test_until_bounds_gap_skipping_loop(self):
        # v: clicks=1, gap=0, stop=9; A+ allow_gaps until(v==9), B: v==9
        rows = _rows([1, 0, 1, 9, 1, 1, 9])
        pat = (
            cep.Pattern.begin("A").where(lambda r, m: r["v"] == 1)
            .one_or_more().allow_gaps()
            .until(lambda r, m: r["v"] == 9)
            .followed_by("B").where(lambda r, m: r["v"] == 9)
        )
        ms = cep.match_sequence(rows, pat.build())
        # without until, the greedy loop would skip the first 9 as a
        # gap row and take the later 1s; with until each segment emits
        assert [cep.count_of(m, "A") for m in ms] == [2, 2]
        assert [cep.first(m, "B", "i") for m in ms] == [3, 6]

    def test_until_stop_row_not_consumed(self):
        # loop stops AT the stop row; a following step can match it
        rows = _rows([1, 1, 9, 1])
        pat = (
            cep.Pattern.begin("A").where(lambda r, m: r["v"] == 1)
            .one_or_more()
            .until(lambda r, m: r["v"] == 9)
            .next("B").where(lambda r, m: r["v"] == 9)
        )
        ms = cep.match_sequence(rows, pat.build())
        assert len(ms) == 1
        assert cep.count_of(ms[0], "A") == 2
        assert cep.first(ms[0], "B", "i") == 2

    def test_until_with_reluctant_loop(self):
        # reluctant prefers the SHORTEST take count; until still caps
        # the feasible takes — B anchors the earliest completing row
        rows = _rows([1, 1, 1, 9, 5])
        base = lambda: (
            cep.Pattern.begin("A").where(lambda r, m: r["v"] == 1)
            .one_or_more()
            .until(lambda r, m: r["v"] == 9)
        )
        greedy = base().greedy().followed_by("B").where(
            lambda r, m: r["v"] > 1).build()
        rel = base().reluctant().followed_by("B").where(
            lambda r, m: r["v"] > 1).build()
        gm = cep.match_sequence(rows, greedy)
        rm = cep.match_sequence(rows, rel)
        assert cep.count_of(gm[0], "A") == 3 and cep.first(gm[0], "B", "i") == 3
        assert cep.count_of(rm[0], "A") == 1 and cep.first(rm[0], "B", "i") == 3

    def test_until_first_candidate_stops_loop(self):
        # a stop row at the loop head means zero takes -> min=1 fails
        rows = _rows([9, 1, 1])
        pat = (
            cep.Pattern.begin("A").where(lambda r, m: r["v"] >= 1)
            .one_or_more()
            .until(lambda r, m: r["v"] == 9)
        )
        ms = cep.match_sequence(rows, pat.build())
        # anchor 0 is the stop row (no takes); anchors 1/2 match
        assert [cep.count_of(m, "A") for m in ms] == [2]

    def test_until_validation(self):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="looping"):
            cep.Pattern.begin("A").where(lambda r, m: True).until(
                lambda r, m: True)
        p = cep.Pattern.begin("A").where(lambda r, m: True).one_or_more()
        p.until(lambda r, m: True)
        with _pytest.raises(ValueError, match="one until"):
            p.until(lambda r, m: True)

    def test_times_or_more_with_until(self):
        rows = _rows([1, 1, 1, 9, 1])
        pat = (
            cep.Pattern.begin("A").where(lambda r, m: r["v"] == 1)
            .times_or_more(2)
            .until(lambda r, m: r["v"] == 9)
        )
        ms = cep.match_sequence(rows, pat.build())
        assert [cep.count_of(m, "A") for m in ms] == [3]

    def test_until_forces_row_path(self):
        # a step carrying ``vec`` AND ``until`` tests rows through its
        # predicates: a mask jump over the gap would hop the stop row
        steps = (
            cep.Pattern.begin("A")
            .where(lambda r, m: r["v"] == 1,
                   vec=lambda pdf: (pdf["v"] == 1).to_numpy())
            .one_or_more().allow_gaps()
            .until(lambda r, m: r["v"] == 9)
            .followed_by("B")
            .where(lambda r, m: r["v"] == 2,
                   vec=lambda pdf: (pdf["v"] == 2).to_numpy())
            .build()
        )
        rows = _rows([1, 9, 1, 2])
        for data in (rows, pd.DataFrame(rows)):
            ms = cep.match_sequence(data, steps)
            assert [(m["A"], m["B"]) for m in ms] == [([rows[0]], [rows[3]])]
