"""Property-based CEP NFA tests (hypothesis).

The greedy backtracking NFA is checked against a brute-force regex
reduction: encode each row as a character by which predicates it
satisfies, translate the Step list to an anchored greedy regex, and
compare match spans. Valid because the tested predicates are
row-local (no matched-so-far references), which is exactly the regex-
expressible fragment.
"""

from __future__ import annotations

import re

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

import pandas as pd

import cep_reference as ref
from flink_1_16_0_src_spark.operators import cep

# rows are drawn from a 3-letter alphabet; predicates select one letter
ALPHABET = "abc"


def _steps_from_spec(spec: list[tuple[str, int, int | None]]) -> list[cep.Step]:
    return [
        cep.Step(f"V{i}_{ch}", (lambda c: lambda r, m: r["ch"] == c)(ch), mn, mx)
        for i, (ch, mn, mx) in enumerate(spec)
    ]


def _regex_from_spec(spec: list[tuple[str, int, int | None]]) -> str:
    parts = []
    for ch, mn, mx in spec:
        parts.append(f"{ch}{{{mn},{'' if mx is None else mx}}}")
    return "".join(parts)


step_spec = st.lists(
    st.tuples(
        st.sampled_from(ALPHABET),
        st.integers(min_value=0, max_value=2),
        st.one_of(st.none(), st.integers(min_value=1, max_value=3)),
    ).filter(lambda t: t[2] is None or t[2] >= t[1]),
    min_size=1,
    max_size=4,
).filter(lambda spec: any(mn > 0 for _, mn, _ in spec))  # non-empty pattern

rows_strategy = st.text(alphabet=ALPHABET, min_size=0, max_size=12)


@settings(max_examples=300, deadline=None)
@given(spec=step_spec, s=rows_strategy)
def test_nfa_matches_regex_reduction(spec, s):
    rows = [{"ch": c, "i": i} for i, c in enumerate(s)]
    steps = _steps_from_spec(spec)
    pattern = re.compile(_regex_from_spec(spec))

    got = cep.match_sequence(rows, steps, after_match="past_last_row")

    # brute-force: greedy leftmost non-overlapping regex matches
    exp_spans = []
    pos = 0
    while pos <= len(s):
        m = pattern.match(s, pos)
        if m and m.end() > m.start():
            exp_spans.append((m.start(), m.end()))
            pos = m.end()
        elif m:  # zero-width match (all-optional satisfied) — skip ahead
            pos += 1
        else:
            pos += 1
        if pos > len(s):
            break

    got_spans = []
    for matched in got:
        idxs = [r["i"] for rows_ in matched.values() for r in rows_]
        if idxs:
            got_spans.append((min(idxs), max(idxs) + 1))

    assert got_spans == exp_spans


@settings(max_examples=200, deadline=None)
@given(s=rows_strategy)
def test_to_next_row_finds_all_overlapping(s):
    # PATTERN (a b) with skip-to-next-row == count of "ab" at every offset
    rows = [{"ch": c, "i": i} for i, c in enumerate(s)]
    steps = [
        cep.Step("A", lambda r, m: r["ch"] == "a"),
        cep.Step("B", lambda r, m: r["ch"] == "b"),
    ]
    got = cep.match_sequence(rows, steps, after_match="to_next_row")
    exp = sum(1 for i in range(len(s) - 1) if s[i : i + 2] == "ab")
    assert len(got) == exp


# ---- kernel answering from masks ≡ row-dict reference (the vectorized
# DEFINE hoisting must never change semantics, quantified or not) ----


@given(
    st.lists(st.sampled_from("abc"), min_size=0, max_size=40),
    st.sampled_from(["past_last_row", "to_next_row"]),
)
@settings(max_examples=300, deadline=None)
def test_mask_path_equivalent_quantified(seq, after_match):
    import numpy as np

    steps = [
        cep.Step.plus("A", lambda r, m: r["c"] == "a", vec=None),
        cep.Step.opt("B", lambda r, m: r["c"] == "b", vec=None),
        cep.Step("C", lambda r, m: r["c"] == "c", vec=None),
    ]
    rows = [{"i": i, "c": c} for i, c in enumerate(seq)]
    expected = ref.match_sequence(rows, steps, after_match)
    masks = [
        np.array([c == "a" for c in seq], dtype=bool),
        np.array([c == "b" for c in seq], dtype=bool),
        np.array([c == "c" for c in seq], dtype=bool),
    ]
    got = _idx(cep.match_sequence(
        pd.DataFrame(rows), ref.with_masks(steps, masks), after_match))
    as_idx = [{v: [r["i"] for r in rs] for v, rs in m.items()} for m in expected]
    assert got == as_idx


@given(
    st.lists(st.sampled_from("ab"), min_size=0, max_size=40),
    st.sampled_from(["past_last_row", "to_next_row"]),
)
@settings(max_examples=300, deadline=None)
def test_mask_path_equivalent_quantifier_free(seq, after_match):
    import numpy as np

    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b"),
    ]
    rows = [{"i": i, "c": c} for i, c in enumerate(seq)]
    expected = ref.match_sequence(rows, steps, after_match)
    masks = [
        np.array([c == "a" for c in seq], dtype=bool),
        np.array([c == "b" for c in seq], dtype=bool),
    ]
    got = _idx(cep.match_sequence(
        pd.DataFrame(rows), ref.with_masks(steps, masks), after_match))
    as_idx = [{v: [r["i"] for r in rs] for v, rs in m.items()} for m in expected]
    assert got == as_idx


# ---- alternation groups ((A|B), NFA.java:86 ordered transitions) ----
# regex reduction stays valid: Python's regex alternation is also
# ordered-priority with greedy backtracking, exactly the NFA semantics.

alt_item = st.one_of(
    # plain step: (ch, mn, mx)
    st.tuples(
        st.sampled_from(ALPHABET),
        st.integers(min_value=0, max_value=2),
        st.one_of(st.none(), st.integers(min_value=1, max_value=3)),
    ).filter(lambda t: t[2] is None or t[2] >= t[1]),
    # alternation group: 2-3 branches, each (ch, mn, mx) with mn>=1
    st.lists(
        st.tuples(
            st.sampled_from(ALPHABET),
            st.integers(min_value=1, max_value=2),
            st.one_of(st.none(), st.integers(min_value=1, max_value=3)),
        ).filter(lambda t: t[2] is None or t[2] >= t[1]),
        min_size=2,
        max_size=3,
    ),
)

alt_spec = st.lists(alt_item, min_size=1, max_size=3).filter(
    lambda spec: any(
        (isinstance(it, list) or it[1] > 0) for it in spec
    )
)


def _alt_steps(spec) -> list[cep.Step]:
    steps = []
    for i, it in enumerate(spec):
        if isinstance(it, list):
            steps.append(
                cep.Step.alternation(
                    *(
                        cep.Step(f"V{i}_{bi}_{ch}", (lambda c: lambda r, m: r["ch"] == c)(ch), mn, mx)
                        for bi, (ch, mn, mx) in enumerate(it)
                    )
                )
            )
        else:
            ch, mn, mx = it
            steps.append(cep.Step(f"V{i}_{ch}", (lambda c: lambda r, m: r["ch"] == c)(ch), mn, mx))
    return steps


def _alt_regex(spec) -> str:
    parts = []
    for it in spec:
        if isinstance(it, list):
            branches = "|".join(f"{ch}{{{mn},{'' if mx is None else mx}}}" for ch, mn, mx in it)
            parts.append(f"(?:{branches})")
        else:
            ch, mn, mx = it
            parts.append(f"{ch}{{{mn},{'' if mx is None else mx}}}")
    return "".join(parts)


@settings(max_examples=300, deadline=None)
@given(spec=alt_spec, s=rows_strategy)
def test_alternation_matches_regex_reduction(spec, s):
    rows = [{"ch": c, "i": i} for i, c in enumerate(s)]
    steps = _alt_steps(spec)
    pattern = re.compile(_alt_regex(spec))

    got = cep.match_sequence(rows, steps, after_match="past_last_row")

    exp_spans = []
    pos = 0
    while pos <= len(s):
        m = pattern.match(s, pos)
        if m and m.end() > m.start():
            exp_spans.append((m.start(), m.end()))
            pos = m.end()
        else:
            pos += 1
        if pos > len(s):
            break

    got_spans = []
    for matched in got:
        idxs = [r["i"] for rows_ in matched.values() for r in rows_]
        if idxs:
            got_spans.append((min(idxs), max(idxs) + 1))

    assert got_spans == exp_spans


def test_alternation_branch_priority_and_attribution():
    # PATTERN (X (A|B) Y): 'a' rows satisfy BOTH branches -> branch A
    # (declared first) must win and own the var name; rows matching
    # only B fall through to B.
    rows = [{"ch": c, "i": i} for i, c in enumerate("xayxbyxcy")]
    both = cep.Step("A", lambda r, m: r["ch"] in ("a", "b"))
    only_b = cep.Step("B", lambda r, m: r["ch"] == "b")
    steps = [
        cep.Step("X", lambda r, m: r["ch"] == "x"),
        cep.Step.alternation(both, only_b),
        cep.Step("Y", lambda r, m: r["ch"] == "y"),
    ]
    ms = cep.match_sequence(rows, steps)
    assert len(ms) == 2
    assert "A" in ms[0] and "B" not in ms[0]  # 'a' → first branch
    assert "A" in ms[1] and "B" not in ms[1]  # 'b' satisfies A too → priority
    # now make branch A reject 'b': B must claim it
    only_a = cep.Step("A", lambda r, m: r["ch"] == "a")
    steps2 = [
        cep.Step("X", lambda r, m: r["ch"] == "x"),
        cep.Step.alternation(only_a, only_b),
        cep.Step("Y", lambda r, m: r["ch"] == "y"),
    ]
    ms2 = cep.match_sequence(rows, steps2)
    assert len(ms2) == 2
    assert "A" in ms2[0] and "B" not in ms2[0]
    assert "B" in ms2[1] and "A" not in ms2[1]


@given(
    st.lists(st.sampled_from("abc"), min_size=0, max_size=40),
    st.sampled_from(["past_last_row", "to_next_row"]),
)
@settings(max_examples=300, deadline=None)
def test_mask_path_equivalent_alternation(seq, after_match):
    import numpy as np

    branch_a = cep.Step.plus("A", lambda r, m: r["c"] == "a")
    branch_b = cep.Step("B", lambda r, m: r["c"] == "b")
    steps = [
        cep.Step.alternation(branch_a, branch_b),
        cep.Step("C", lambda r, m: r["c"] == "c"),
    ]
    rows = [{"i": i, "c": c} for i, c in enumerate(seq)]
    expected = ref.match_sequence(rows, steps, after_match)
    masks = [
        (
            np.array([c == "a" for c in seq], dtype=bool),
            np.array([c == "b" for c in seq], dtype=bool),
        ),
        np.array([c == "c" for c in seq], dtype=bool),
    ]
    got = _idx(cep.match_sequence(
        pd.DataFrame(rows), ref.with_masks(steps, masks), after_match))
    as_idx = [{v: [r["i"] for r in rs] for v, rs in m.items()} for m in expected]
    assert got == as_idx


# ---- range-join bucket expansion ≡ brute force (pure logic twin of
# operators.joins.range_join: bucket membership must be exact at
# boundaries, negative values, and zero-width intervals) ----

@given(
    st.lists(st.integers(-50, 50), min_size=0, max_size=30),
    st.lists(st.tuples(st.integers(-50, 50), st.integers(0, 20)), min_size=0, max_size=15),
    st.sampled_from([1, 3, 7, 50]),
)
@settings(max_examples=200, deadline=None)
def test_range_join_bucketing_exact(points, spans, width):
    import math

    intervals = [(lo, lo + w) for lo, w in spans]
    brute = {
        (i, j)
        for i, p in enumerate(points)
        for j, (lo, hi) in enumerate(intervals)
        if lo <= p <= hi
    }
    bucketed = set()
    for i, p in enumerate(points):
        pb = math.floor(p / width)
        for j, (lo, hi) in enumerate(intervals):
            buckets = range(math.floor(lo / width), math.floor(hi / width) + 1)
            if pb in buckets and lo <= p <= hi:
                bucketed.add((i, j))
    assert bucketed == brute


# ---- contiguity modes + negative patterns (Pattern.java next /
# followedBy / notNext / notFollowedBy; NFA SKIP_TILL_NEXT) ----


def _mk(seq):
    return [{"i": i, "c": c} for i, c in enumerate(seq)]


def _idx(matches):
    return [{v: [r["i"] for r in rs] for v, rs in m.items()} for m in matches]


def test_followed_by_skips_nonmatching_rows():
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    # strict would fail on the 'c' gap; relaxed skips it (Flink docs'
    # canonical followedBy example)
    assert _idx(cep.match_sequence(_mk("acb"), steps)) == [{"A": [0], "B": [2]}]
    # deterministic SKIP_TILL_NEXT: earliest b wins, one match per anchor
    assert _idx(cep.match_sequence(_mk("acbb"), steps)) == [{"A": [0], "B": [2]}]
    # strict control
    strict = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b"),
    ]
    assert cep.match_sequence(_mk("acb"), strict) == []


def test_followed_by_resume_uses_real_indices():
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    # a c b a c b -> two non-overlapping matches; past_last_row must
    # resume AFTER index 2 (the real matched index), not at start+len
    assert _idx(cep.match_sequence(_mk("acbacb"), steps)) == [
        {"A": [0], "B": [2]},
        {"A": [3], "B": [5]},
    ]


def test_not_followed_by_poisons_the_gap():
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("X", lambda r, m: r["c"] == "x", contiguity="relaxed", negated=True),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    assert _idx(cep.match_sequence(_mk("acb"), steps)) == [{"A": [0], "B": [2]}]
    # an x in the gap kills the match (NFACompiler stop state)
    assert cep.match_sequence(_mk("axb"), steps) == []
    # x AFTER b is irrelevant
    assert _idx(cep.match_sequence(_mk("abx"), steps)) == [{"A": [0], "B": [1]}]


def test_not_next_blocks_immediate_follower():
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("X", lambda r, m: r["c"] == "x", negated=True),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    assert cep.match_sequence(_mk("axb"), steps) == []
    # notNext only guards the IMMEDIATE next row — an x deeper in the
    # gap is fine (that's notFollowedBy's job)
    assert _idx(cep.match_sequence(_mk("acxb"), steps)) == [{"A": [0], "B": [3]}]


@given(
    st.lists(st.sampled_from("abcx"), min_size=0, max_size=30),
    st.sampled_from(["past_last_row", "to_next_row"]),
)
@settings(max_examples=300, deadline=None)
def test_mask_path_equivalent_relaxed_negated(seq, after_match):
    """The kernel answering from masks and the row-dict reference must
    agree on patterns mixing contiguity modes, quantifiers, and a
    notFollowedBy."""
    import numpy as np

    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("X", lambda r, m: r["c"] == "x", contiguity="relaxed", negated=True),
        cep.Step.plus("B", lambda r, m: r["c"] == "b"),
        cep.Step("C", lambda r, m: r["c"] == "c", contiguity="relaxed"),
    ]
    steps[2].contiguity = "relaxed"
    rows = _mk(seq)
    expected = ref.match_sequence(rows, steps, after_match)
    masks = [np.array([c == t for c in seq], dtype=bool) for t in "axbc"]
    got = _idx(cep.match_sequence(
        pd.DataFrame(rows), ref.with_masks(steps, masks), after_match))
    assert got == _idx(expected)


def test_pattern_api_facade_roundtrip(spark):
    """Pattern.begin().where().not_followed_by().followed_by() through
    CEP.pattern().select() — the flink-cep user surface end-to-end."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    rows = [
        ("u1", 1, "login"), ("u1", 2, "browse"), ("u1", 3, "buy"),
        ("u2", 1, "login"), ("u2", 2, "logout"), ("u2", 3, "buy"),
        ("u3", 1, "login"), ("u3", 2, "buy"),
    ]
    df = spark.createDataFrame(rows, "user string, seq long, action string")
    pat = (
        cep.Pattern.begin("start")
        .where(lambda r, m: r["action"] == "login")
        .not_followed_by("out")
        .where(lambda r, m: r["action"] == "logout")
        .followed_by("end")
        .where(lambda r, m: r["action"] == "buy")
    )
    out = cep.CEP.pattern(df, pat, ["user"], "seq").select(
        {
            "start_seq": lambda m: cep.first(m, "start", "seq"),
            "end_seq": lambda m: cep.first(m, "end", "seq"),
        },
        StructType(
            [
                StructField("user", StringType()),
                StructField("start_seq", LongType()),
                StructField("end_seq", LongType()),
            ]
        ),
    )
    got = {(r.user, r.start_seq, r.end_seq) for r in out.collect()}
    # u2's logout poisons the gap; u1 skips browse; u3 is adjacent
    assert got == {("u1", 1, 3), ("u3", 1, 2)}


def test_pattern_trailing_not_followed_by_rejected():
    with pytest.raises(ValueError):
        cep.Pattern.begin("a").where(lambda r, m: True).not_followed_by("x").where(
            lambda r, m: True
        ).build()


@given(st.lists(st.sampled_from("abx"), min_size=0, max_size=25))
@settings(max_examples=300, deadline=None)
def test_followed_by_any_enumerates_all_pairs(seq):
    """followedByAny (SKIP_TILL_ANY): A followedByAny B with
    to_next_row must emit EVERY (a_i, b_j) pair with j > i — the
    brute-force set comprehension is the oracle."""
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed_any"),
    ]
    got = {
        (m["A"][0]["i"], m["B"][0]["i"])
        for m in cep.match_sequence(_mk(seq), steps, after_match="to_next_row")
    }
    exp = {
        (i, j)
        for i in range(len(seq)) if seq[i] == "a"
        for j in range(i + 1, len(seq)) if seq[j] == "b"
    }
    assert got == exp


def test_followed_by_any_vs_followed_by():
    """followedBy stops at the earliest b; followedByAny emits one
    match per later b too (the Flink docs' canonical contrast)."""
    det = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    any_ = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed_any"),
    ]
    rows = _mk("acbxb")
    assert _idx(cep.match_sequence(rows, det, "to_next_row")) == [{"A": [0], "B": [2]}]
    assert _idx(cep.match_sequence(rows, any_, "to_next_row")) == [
        {"A": [0], "B": [2]},
        {"A": [0], "B": [4]},
    ]
    # invalid skip mode rejected
    with pytest.raises(ValueError):
        cep.match_sequence(rows, any_, "past_last_row")


def test_followed_by_any_on_alternation_group():
    """followedByAny set on an alternation group (the group Step carries
    the contiguity) enumerates every later anchor, as on a plain step."""
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a"),
        cep.Step.alternation(
            cep.Step("B", lambda r, m: r["c"] == "b"),
            cep.Step("C", lambda r, m: r["c"] == "c"),
        ),
    ]
    steps[1].contiguity = "relaxed_any"
    assert _idx(cep.match_sequence(_mk("axbc"), steps, "to_next_row")) == [
        {"A": [0], "B": [2]},
        {"A": [0], "C": [3]},
    ]


def test_pattern_api_followed_by_any(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    rows = [("u", 1, "a"), ("u", 2, "x"), ("u", 3, "b"), ("u", 4, "b")]
    df = spark.createDataFrame(rows, "k string, seq long, c string")
    pat = (
        cep.Pattern.begin("A").where(lambda r, m: r["c"] == "a")
        .followed_by_any("B").where(lambda r, m: r["c"] == "b")
    )
    out = cep.CEP.pattern(df, pat, ["k"], "seq").select(
        {"a_seq": lambda m: cep.first(m, "A", "seq"),
         "b_seq": lambda m: cep.first(m, "B", "seq")},
        StructType([StructField("k", StringType()),
                    StructField("a_seq", LongType()),
                    StructField("b_seq", LongType())]),
        after_match="to_next_row",
    )
    assert {(r.a_seq, r.b_seq) for r in out.collect()} == {(1, 3), (1, 4)}


def test_relaxed_internal_quantifier_skips_gaps():
    """Pattern.oneOrMore without .consecutive() (internal='relaxed'):
    takes land on successive matching rows with gaps skipped, pattern
    resumes after the LAST take."""
    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a", 1, None, internal="relaxed"),
        cep.Step("B", lambda r, m: r["c"] == "b"),
    ]
    # a x a b: A takes rows 0 and 2 (gap x skipped), B must be NEXT
    # after the last take -> row 3
    assert _idx(cep.match_sequence(_mk("axab"), steps)) == [{"A": [0, 2], "B": [3]}]
    # greedy backtrack: a a x b -> maximal takes [0,1] leave j=2 ('x'),
    # B strict fails; drop to takes [0,1]... gap-scan already passed x,
    # so backtracking yields A=[0,1] impossible, then A=[0] with B at 1?
    # 'a a x b': A greedy takes [0,1], scan stops at x (strict B next
    # fails at 2); pop -> A=[0], B next at 1 fails ('a'); no match at 0;
    # start 1: A=[1], B at 2 fails; no matches
    assert cep.match_sequence(_mk("aaxb"), steps) == []
    # consecutive control: a x a b has no consecutive-A+ B match ending
    # at b preceded directly by a run of a's? row2 'a', row3 'b' -> yes
    cons = [
        cep.Step.plus("A", lambda r, m: r["c"] == "a"),
        cep.Step("B", lambda r, m: r["c"] == "b"),
    ]
    assert _idx(cep.match_sequence(_mk("axab"), cons)) == [{"A": [2], "B": [3]}]


def test_relaxed_internal_mask_path_agrees():
    import numpy as np

    steps = [
        cep.Step("A", lambda r, m: r["c"] == "a", 1, None, internal="relaxed"),
        cep.Step("B", lambda r, m: r["c"] == "b", contiguity="relaxed"),
    ]
    for seq in ("axabxb", "aaxb", "xaxaxbb", "ab", "ba", ""):
        rows = _mk(seq)
        expected = _idx(ref.match_sequence(rows, steps, "past_last_row"))
        masks = [np.array([c == t for c in seq], dtype=bool) for t in "ab"]
        got = _idx(cep.match_sequence(
            pd.DataFrame(rows), ref.with_masks(steps, masks), "past_last_row"))
        assert got == expected, seq


def test_pattern_allow_gaps_facade(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    rows = [("u", 1, "a"), ("u", 2, "x"), ("u", 3, "a"), ("u", 4, "b")]
    df = spark.createDataFrame(rows, "k string, seq long, c string")
    pat = (
        cep.Pattern.begin("A").where(lambda r, m: r["c"] == "a")
        .one_or_more().allow_gaps()
        .next("B").where(lambda r, m: r["c"] == "b")
    )
    out = cep.CEP.pattern(df, pat, ["k"], "seq").select(
        {"n_a": lambda m: cep.count_of(m, "A"),
         "b_seq": lambda m: cep.first(m, "B", "seq")},
        StructType([StructField("k", StringType()),
                    StructField("n_a", LongType()),
                    StructField("b_seq", LongType())]),
    )
    assert [(r.n_a, r.b_seq) for r in out.collect()] == [(2, 4)]


# ---- the kernel ≡ the row-dict reference over every Step feature:
# contiguity (strict / relaxed / relaxed_any), notNext / notFollowedBy,
# quantifier internals (consecutive / relaxed / combinations),
# reluctant, {min,max}, alternation, within, until, and steps that
# answer from masks mixed with steps that call predicates (some reading
# the rows matched so far) ----


def _is(c):
    return lambda r, m: r["c"] == c


def _vec_is(c):
    return lambda p: (p["c"] == c).to_numpy()


@st.composite
def _feature_element(draw, var: str) -> cep.Step:
    ch = draw(st.sampled_from(ALPHABET))
    mn, mx = draw(st.sampled_from([(1, 1), (0, 1), (1, None), (0, None), (2, 3), (1, 2)]))
    internal = "consecutive" if mx == 1 else draw(
        st.sampled_from(["consecutive", "relaxed", "combinations"]))
    how = draw(st.sampled_from(["vec", "row", "matched"]))
    pred = _is(ch) if how != "matched" else (  # v never drops below the match so far
        lambda r, m: r["c"] == ch and r["v"] >= max(
            (x["v"] for rs in m.values() for x in rs), default=0))
    return cep.Step(
        var, pred, mn, mx,
        vec=_vec_is(ch) if how == "vec" else None,
        internal=internal,
        reluctant=internal != "combinations" and draw(st.booleans()),
        until=_is(draw(st.sampled_from(ALPHABET)))
        if mx is None and draw(st.booleans()) else None,
    )


@st.composite
def _feature_pattern(draw) -> list[cep.Step]:
    n = draw(st.integers(min_value=1, max_value=4))
    steps = []
    for si in range(n):
        if 0 < si < n - 1 and draw(st.integers(0, 3)) == 0:
            ch = draw(st.sampled_from(ALPHABET))
            steps.append(cep.Step(
                f"V{si}", _is(ch), negated=True,
                vec=_vec_is(ch) if draw(st.booleans()) else None,
                contiguity=draw(st.sampled_from(["strict", "relaxed"])),
            ))
            continue
        if draw(st.integers(0, 3)) == 0:
            branches = draw(st.integers(2, 3))
            step = cep.Step.alternation(
                *(draw(_feature_element(f"V{si}b{bi}")) for bi in range(branches)))
        else:
            step = draw(_feature_element(f"V{si}"))
        if si > 0:
            step.contiguity = draw(st.sampled_from(["strict", "relaxed", "relaxed_any"]))
        steps.append(step)
    return steps


@settings(max_examples=400, deadline=None)
@given(steps=_feature_pattern(), cs=st.text(alphabet=ALPHABET, max_size=10), data=st.data())
def test_kernel_equals_reference_over_every_step_feature(steps, cs, data):
    ints = lambda lo, hi: data.draw(  # noqa: E731
        st.lists(st.integers(lo, hi), min_size=len(cs), max_size=len(cs)))
    gaps, vs = ints(0, 2), ints(0, 3)
    rows = [
        {"i": i, "c": c, "v": vs[i], "t": sum(gaps[: i + 1])} for i, c in enumerate(cs)
    ]
    within = data.draw(st.one_of(st.none(), st.integers(1, 6).map(lambda w: ("t", w))))
    vars_ = [b.var for s in steps if not s.negated for b in (s.alts or (s,))]
    after_match = "to_next_row" if cep._needs_any_path(steps) else data.draw(
        st.sampled_from(["past_last_row", "to_next_row"] + [
            f"skip_to_{w}_{v}" for w in ("first", "last") for v in vars_]))
    # the kernel takes the batch form (a frame) or the stream form (rows)
    kernel_data = pd.DataFrame(rows) if data.draw(st.booleans()) else rows
    timed = lambda ts: [(_idx([p]), t) for p, t in ts]  # noqa: E731

    got = cep.match_sequence(kernel_data, steps, after_match, within)
    assert _idx(got) == _idx(ref.match_sequence(rows, steps, after_match, within))
    if within is not None:
        got_h, got_t = cep.match_sequence_with_timeouts(kernel_data, steps, after_match, within)
        want_h, want_t = ref.match_sequence_with_timeouts(rows, steps, after_match, within)
        assert _idx(got_h) == _idx(want_h) and timed(got_t) == timed(want_t)
    # retention: the reference's _partial_at predates until (the kernel
    # honours it), so only until-free patterns compare
    if not any(b.until for s in steps for b in (s.alts or (s,))):
        nfa = cep._NFA(rows, steps)
        assert [nfa.partial_at(i) for i in range(len(rows))] == [
            ref._partial_at(rows, i, steps) for i in range(len(rows))
        ]
