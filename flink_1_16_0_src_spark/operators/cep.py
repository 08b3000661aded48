"""CEP / MATCH_RECOGNIZE — pattern matching over ordered event rows.

Reference parity (SURVEY.md §2.8):
- SQL MATCH_RECOGNIZE: StreamExecMatch.java:59 / BatchExecMatch.java —
  PARTITION BY / ORDER BY rowtime / PATTERN / DEFINE / MEASURES /
  AFTER MATCH SKIP { PAST LAST ROW | TO NEXT ROW | TO FIRST <var> |
  TO LAST <var> }.
- CEP library NFA: flink-libraries/flink-cep/.../nfa/NFA.java:86 —
  greedy quantifiers (SURVEY.md §7.3 risk 4): PATTERN (A B* C),
  (A B+ C?), {n,m} ranges, ALTERNATION groups ((A|B), branches tried
  in declaration order like the NFA's ordered epsilon transitions;
  each branch keeps its own variable name, quantifier, and DEFINE
  predicate), CONTIGUITY modes (next = strict, followedBy = relaxed /
  SKIP_TILL_NEXT — Pattern.java next()/followedBy()), and NEGATIVE
  patterns (notNext / notFollowedBy — NFACompiler stop states).
  followedByAny (SKIP_TILL_ANY) is supported via the all-anchors
  enumeration (requires to_next_row) in batch AND streaming (windowed
  re-enumeration + emitted-fingerprint dedup).
  Quantifier-INTERNAL contiguity supports consecutive (default —
  matching SQL MATCH_RECOGNIZE; Flink's oneOrMore defaults relaxed),
  relaxed (Pattern.allow_gaps: gap rows between takes skipped,
  earliest-match takes), and combinations
  (Pattern.allow_combinations — SKIP_TILL_ANY between iterations:
  every increasing subset of takes emits its own match, exponential
  like the reference warns).
- Pattern API facade: Pattern.begin/where/next/followed_by/not_next/
  not_followed_by/one_or_more/times/optional/within + CEP.pattern →
  PatternStream.select (flink-cep Pattern.java / CEP.java /
  PatternStream.java).

Execution model: one NFA kernel (``_NFA``) runs every pattern over
one key's ordered rows, as flink-cep runs SimpleCondition and
IterativeCondition through one NFA.java and one SharedBuffer. Each
"does row j satisfy this step" test is answered per step: a step with
a vectorized DEFINE (``Step.vec``) and no ``until`` reads a numpy mask
evaluated once over the key's rows and jumps over rows the mask
rejects; every other step calls its predicate with the row and the
rows matched so far. One pattern may mix both kinds. Spark distributes
the kernel per key via ``applyInPandas`` (batch) /
``applyInPandasWithState`` (streaming, buffer carried across batches).
Per-key sequential scan is inherent to CEP — the reference runs the
same way inside its keyed operator; the 100 TB story is key
parallelism, not intra-key parallelism.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass
from typing import Callable, Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

Row = dict
Matched = dict  # var name -> list[Row]
Predicate = Callable[[Row, Matched], bool]


@dataclass
class Step:
    """One pattern variable: ``var`` with quantifier {min,max} and a
    DEFINE predicate. ``max=None`` means unbounded (* / +); greedy.

    ``vec`` is an optional VECTORIZED form of the same predicate
    (``pdf -> bool array``), valid only when the predicate ignores
    previously-matched rows. The NFA kernel evaluates it once per
    partition (or stream buffer) as a numpy mask and answers this
    step's row tests from the mask — O(1) array entries and next-true
    jumps over rejected rows instead of a Python predicate call per
    (row, step), the same condition-hoisting MatchCodeGenerator.scala
    performs when it compiles DEFINE clauses. Steps without it call
    ``predicate``; a pattern may mix both kinds.

    ``expr`` is an optional SQL form of the same predicate (a boolean
    expression over the row's columns). When every step of a
    quantifier-free pattern carries one, ``match_recognize`` compiles
    the whole MATCH to a Catalyst lead()-window plan — zero Python,
    whole-stage codegen — the strategy choice Flink's planner makes in
    StreamPhysicalMatchRule, just with a cheaper physical target
    available."""

    var: str
    predicate: Predicate
    min: int = 1
    max: int | None = 1
    vec: Callable | None = None
    expr: str | None = None
    alts: tuple = ()  # alternation group: branch Steps, tried in order
    # relation to the PREVIOUS pattern element (flink-cep Pattern.java):
    # 'strict' = next() — immediately after; 'relaxed' = followedBy() —
    # non-matching events in between are skipped (deterministic: the
    # EARLIEST anchor that lets the rest of the pattern complete wins,
    # the NFA's SKIP_TILL_NEXT semantics); 'relaxed_any' = followedByAny
    # (SKIP_TILL_ANY — every viable anchor emits its own match; batch
    # only, to_next_row only).
    contiguity: str = "strict"
    # negative pattern (Pattern.notNext / notFollowedBy — NFAFactory
    # compiles them to stop states): the predicate must NOT hold.
    # negated+'strict' = notNext (the immediately-following row);
    # negated+'relaxed' = notFollowedBy (no matching row anywhere
    # between the previous element and the next element's anchor).
    # Consumes nothing; cannot be the last element (Flink rejects a
    # trailing notFollowedBy too).
    negated: bool = False
    # quantifier-INTERNAL contiguity (Pattern.oneOrMore: Flink defaults
    # to relaxed between iterations, .consecutive() makes it strict):
    # 'consecutive' = takes are adjacent rows; 'relaxed' = non-matching
    # rows between takes are skipped (each take lands on the EARLIEST
    # matching row after the previous take — deterministic);
    # 'combinations' = Pattern.allowCombinations (SKIP_TILL_ANY between
    # iterations, NFA.java:86): EVERY increasing subset of matching
    # positions is its own take-set, each emitting its own match —
    # exponential like the reference warns; requires the all-anchors
    # enumeration path (to_next_row; within strongly advised). The
    # pattern resumes after the LAST take.
    internal: str = "consecutive"
    # RELUCTANT quantifier (Quantifier.java ConsumingStrategy — the
    # reference's Pattern-API quantifiers are reluctant unless .greedy()
    # is called; MATCH_RECOGNIZE spells it `+?` `*?` `??` `{n,m}?`):
    # candidate take-counts are tried SHORTEST-first instead of
    # longest-first. Feasible takes are identical either way — only the
    # match-selection priority flips. Not combinable with
    # internal='combinations' (the reference rejects greedy there too).
    reluctant: bool = False
    # Pattern.until(condition) (flink-cep Pattern.java:228): stop
    # condition for looping quantifiers (oneOrMore/timesOrMore) — the
    # loop stops accepting events once a row satisfies it, and that row
    # is NOT consumed into the match (NFACompiler ANDs NOT(until) into
    # the looping state's take AND ignore edges, so a gap row
    # satisfying it also terminates the loop). Python-predicate only:
    # the kernel answers a step with ``until`` through ``predicate`` and
    # ``until`` calls even when it carries ``vec`` (a mask's O(1) gap
    # jump would hop over the stop row).
    until: Predicate | None = None

    @staticmethod
    def star(var: str, predicate: Predicate, vec: Callable | None = None,
             expr: str | None = None) -> "Step":
        return Step(var, predicate, 0, None, vec, expr)

    @staticmethod
    def plus(var: str, predicate: Predicate, vec: Callable | None = None,
             expr: str | None = None) -> "Step":
        return Step(var, predicate, 1, None, vec, expr)

    @staticmethod
    def opt(var: str, predicate: Predicate, vec: Callable | None = None,
            expr: str | None = None) -> "Step":
        return Step(var, predicate, 0, 1, vec, expr)

    @staticmethod
    def alternation(*branches: "Step") -> "Step":
        """(A|B) group (NFA.java:86 ordered transitions): the first
        branch whose quantified match lets the REST of the pattern
        complete wins — declaration-order priority, same as the NFA
        trying its transitions in order. Branches keep their own
        variable names; MEASURES address whichever branch matched
        (the other branch's var is absent from the matched set)."""
        assert branches, "alternation needs at least one branch"
        return Step("|".join(b.var for b in branches), None, alts=tuple(branches))


def _needs_any_path(steps: list["Step"]) -> bool:
    """True when the pattern needs the all-anchors/all-subsets
    enumeration (followedByAny SKIP_TILL_ANY contiguity, or
    allowCombinations SKIP_TILL_ANY quantifier internals) — one start
    can yield several matches, so the scan must resume at the next row
    (after_match='to_next_row')."""
    return any(
        b.contiguity == "relaxed_any" or b.internal == "combinations"
        for s in steps
        for b in (s, *s.alts)  # an alternation's contiguity sits on the group
    )


def _resume_index(start: int, idx: dict[str, list[int]], steps: list[Step], after_match: str) -> int:
    """Next scan position per AFTER MATCH strategy (NFA.java
    AfterMatchSkipStrategy): PAST LAST ROW, TO NEXT ROW, SKIP TO
    FIRST <var>, SKIP TO LAST <var>. Works off the ACTUAL matched row
    indices (required since relaxed contiguity makes matches
    non-contiguous). A target that makes no progress falls back to
    start+1 (Flink raises instead; we document the softer choice)."""
    if after_match == "past_last_row":
        end = max((js[-1] for js in idx.values() if js), default=start) + 1
        return end if end > start else start + 1
    if after_match == "to_next_row":
        return start + 1
    for prefix, last in (("skip_to_first_", False), ("skip_to_last_", True)):
        if after_match.startswith(prefix):
            var = after_match[len(prefix):]
            known = {
                v
                for s in steps
                for v in ([b.var for b in s.alts] if s.alts else [s.var])
            }
            if var not in known:
                raise ValueError(f"unknown skip variable {var!r}")
            js = idx.get(var)
            if not js:  # var matched zero rows (optional / losing alt branch)
                return start + 1
            target = js[-1] if last else js[0]
            return target if target > start else start + 1
    raise ValueError(f"unknown after_match {after_match!r}")


class _MatchedRows(Mapping):
    """A predicate's second argument: var -> the rows matched so far,
    read through the kernel's live var -> row-index map."""

    __slots__ = ("rows", "idx")

    def __init__(self, rows):
        self.rows, self.idx = rows, {}

    def __getitem__(self, var):
        return [self.rows[j] for j in self.idx[var]]

    def __iter__(self):
        return iter(self.idx)

    def __len__(self):
        return len(self.idx)


class _Cond:
    """A row predicate read like a mask: ``cond[j]`` asks it about row
    ``j`` given the rows matched so far."""

    __slots__ = ("predicate", "rows", "matched")

    def __init__(self, predicate, rows, matched):
        self.predicate, self.rows, self.matched = predicate, rows, matched

    def __getitem__(self, j):
        return self.predicate(self.rows[j], self.matched)


def _next_true(mask) -> list[int]:
    """``table[j]`` = the smallest ``k >= j`` with ``mask[k]``, else
    ``n``; ``n+1`` entries so ``table[n]`` is a valid read. A list: the
    walk's scalar reads index lists ~3× faster than numpy arrays."""
    n = len(mask)
    arr = np.where(mask, np.arange(n), n)
    return np.append(np.minimum.accumulate(arr[::-1])[::-1], n).tolist()


def _rows_of(rows, idx: dict[str, list[int]]) -> Matched:
    return {v: [rows[j] for j in js] for v, js in idx.items()}


class _NFA:
    """The CEP NFA over one key's ordered rows (flink-cep NFA.java:86;
    row indices play the SharedBuffer's part).

    Each step, and each alternation branch, is an element ``(step, test,
    table, until)``; the walk asks ``test[j]`` whether row j satisfies
    it. A step with ``vec`` and no ``until`` answers from its mask,
    evaluated once over all rows, and its next-true ``table`` lets the
    walk jump in O(1) over gaps inside a relaxed quantifier, over
    non-viable anchors of a relaxed step whose branches all consume,
    and over start rows the first element cannot take. Any other
    element calls its predicate with ``(row, matched-so-far rows)`` and
    its table is the identity.

    ``data`` is a list of row dicts or a pandas frame; a frame becomes
    row dicts only when some element calls a predicate."""

    def __init__(self, data, steps: list[Step], within: tuple[str, object] | None = None):
        self.steps = steps
        n = self.n = len(data)
        frame = data if isinstance(data, pd.DataFrame) else None
        groups = [s.alts or (s,) for s in steps]

        def masked(b: Step) -> bool:
            return n > 0 and b.vec is not None and b.until is None

        flat = [b for g in groups for b in g]
        rows = data if frame is None else None
        if rows is None and not all(map(masked, flat)):
            rows = frame.to_dict("records")
        if frame is None and any(map(masked, flat)):
            frame = pd.DataFrame(rows)
        self.rows, self.frame = rows, frame
        self.matched = _MatchedRows(rows)
        ident = range(n + 1)
        self.elems, self.unions = [], []
        for g in groups:
            elems, masks = [], []
            for b in g:
                until = None if b.until is None else _Cond(b.until, rows, self.matched)
                if masked(b):
                    masks.append(np.asarray(b.vec(frame), dtype=bool))
                    elems.append((b, masks[-1].tolist(), _next_true(masks[-1]), until))
                else:
                    elems.append((b, _Cond(b.predicate, rows, self.matched), ident, until))
            self.elems.append(elems)
            if len(masks) < len(g):
                self.unions.append(ident)
            else:  # the next row ANY branch can take
                self.unions.append(
                    elems[0][2] if len(g) == 1 else _next_true(np.logical_or.reduce(masks))
                )
        # skipping anchors no branch can take is sound only when every
        # branch must consume a row there: a min-0 branch's continuation
        # runs at each scanned position
        self.can_jump = [all(b.min >= 1 for b in g) for g in groups]
        # a match, and equally a proper-prefix partial, anchors only
        # where the first element can take
        self.anchor = (
            self.unions[0] if self.can_jump[0] and not steps[0].negated else ident
        )
        self.ts = self.max_delta = self.delta = None
        if within is not None and n:
            col, md = within
            self.delta = pd.Timedelta(md) if isinstance(md, str) else md
            if isinstance(data, pd.DataFrame):
                # numpy 2 rejects timedelta64 <= datetime.timedelta
                self.ts = data[col].to_numpy()
                self.max_delta = (
                    md if isinstance(md, (int, float)) else pd.Timedelta(md).to_timedelta64()
                )
            else:
                self.ts, self.max_delta = [r[col] for r in rows], self.delta
        self.matches_at = self._matcher()

    def _take(self, i: int, elem, got: list[int], in_window=None) -> int:
        """Appends to ``got`` the rows the element takes greedily from
        row ``i`` — gap rows skipped under relaxed internal contiguity,
        an until row ending the loop unconsumed — and returns the row
        the loop stopped at."""
        step, test, table, until = elem
        base, j = len(got), i
        while (step.max is None or len(got) - base < step.max) and j < self.n:
            if (in_window is not None and not in_window(j)) or (until is not None and until[j]):
                break
            if test[j]:
                got.append(j)
                j += 1
            elif step.internal == "relaxed" and len(got) > base:
                j = table[j + 1]  # gap rows between iterations
            else:
                break
        return j

    def _matcher(self):
        """Builds ``matches_at`` once per kernel: its closures cost more
        to create than most anchors cost to walk."""
        n, steps, all_elems, unions = self.n, self.steps, self.elems, self.unions
        can_jump, ts, md = self.can_jump, self.ts, self.max_delta
        start = k = 0
        matched: dict[str, list[int]] = {}
        out: list[dict[str, list[int]]] = []

        def in_window(j: int) -> bool:
            return md is None or ts[j] - ts[start] <= md

        def quant(i: int, elem, cont) -> bool:
            step = elem[0]
            if step.internal == "combinations":
                return combinations(i, elem, cont)
            got = matched.setdefault(step.var, [])
            base = len(got)
            self._take(i, elem, got, in_window)
            takes = got[base:]
            lengths = (
                range(step.min, len(takes) + 1)
                if step.reluctant
                else range(len(takes), step.min - 1, -1)
            )
            emitted = False
            for L in lengths:
                del got[base:]
                got.extend(takes[:L])
                if cont(takes[L - 1] + 1 if L else i):
                    emitted = True
                    break
            del got[base:]
            if not got:
                del matched[step.var]
            return emitted

        def combinations(i: int, elem, cont) -> bool:
            # the first take anchors at i, every later one may land on
            # ANY later matching row: each increasing subset of size
            # >= min (<= max) continues on its own — exponential, as
            # NFA.java warns; within caps the span
            step, test, table, until = elem
            got = matched.setdefault(step.var, [])
            base = len(got)
            emitted = False

            def dfs(last: int) -> None:
                nonlocal emitted
                if len(got) - base >= step.min and cont(last + 1):
                    emitted = True
                if step.max is not None and len(got) - base >= step.max:
                    return
                j = table[last + 1]
                while j < n and in_window(j) and not (until is not None and until[j]):
                    if test[j]:
                        got.append(j)
                        dfs(j)
                        got.pop()
                    j = table[j + 1]

            if step.min == 0 and cont(i):
                emitted = True
            if i < n and in_window(i) and not (until is not None and until[i]) and test[i]:
                got.append(i)
                dfs(i)
                got.pop()
            if not got:
                del matched[step.var]
            return emitted

        def rec(i: int, si: int, neg) -> bool:
            if si == k:
                out.append({v: list(js) for v, js in matched.items()})
                return True
            step, elems = steps[si], all_elems[si]
            if step.negated:
                test = elems[0][1]
                if step.contiguity == "strict":  # notNext
                    return not (i < n and test[i]) and rec(i, si + 1, neg)
                return rec(i, si + 1, test)  # notFollowedBy guards the next gap
            any_mode = si > 0 and step.contiguity == "relaxed_any"
            jump = unions[si] if neg is None and can_jump[si] else None
            cont = lambda jj: rec(jj, si + 1, None)  # noqa: E731
            emitted = False
            j = i
            while True:
                for elem in elems:
                    if quant(j, elem, cont):
                        emitted = True
                        break  # ordered branch priority per anchor
                if emitted and not any_mode:
                    return True  # deterministic step: earliest anchor wins
                if si == 0 or step.contiguity == "strict" or j >= n or not in_window(j):
                    return emitted  # the first element anchors exactly at start
                if neg is not None and neg[j]:
                    return emitted  # a notFollowedBy event poisons later anchors
                j = jump[j + 1] if jump is not None else j + 1

        def matches_at(at: int, prefix: int | None = None) -> list[dict[str, list[int]]]:
            """Every match of ``steps[:prefix]`` (default: all) anchored
            at ``at``, in preference order, as var -> row indices.

            Take-counts are tried longest-first (shortest-first when
            reluctant), alternation branches in order, relaxed anchors
            earliest-first, and each level stops at its first completing
            choice — so a deterministic pattern yields at most one
            match. A followedByAny step goes on to every later viable
            anchor, an allowCombinations quantifier to every increasing
            take subset (SKIP_TILL_ANY). Negative steps consume nothing:
            notNext fails on the next row, notFollowedBy on any row of
            the gap before the next element's anchor."""
            nonlocal start, k, matched, out
            start, k = at, len(steps) if prefix is None else prefix
            matched = self.matched.idx = {}
            out = []
            rec(at, 0, None)
            return out

        return matches_at

    def partial_at(self, start: int) -> bool:
        """True if rows[start:] can ALL be consumed by a proper prefix of
        the pattern — a match could still complete with future rows.
        Drives streaming buffer retention."""
        n, steps, all_elems = self.n, self.steps, self.elems
        matched = self.matched.idx = {}

        def one(i: int, si: int, elem) -> bool:
            got = matched.setdefault(elem[0].var, [])
            base = len(got)
            open_at_end = self._take(i, elem, got) == n and len(got) > base
            while True:
                nxt = got[-1] + 1 if len(got) > base else i
                if len(got) - base >= elem[0].min and rec(nxt, si + 1):
                    return True
                if open_at_end:
                    return True  # quantifier still open at buffer end
                if len(got) == base:
                    return False
                got.pop()

        def rec(i: int, si: int) -> bool:
            if i == n:
                return True  # everything consumed; pattern still open
            if si == len(steps):
                return False  # pattern exhausted but rows remain
            step = steps[si]
            if step.negated:
                return rec(i, si + 1)  # consumes nothing; over-retaining is safe
            if si > 0 and step.contiguity in ("relaxed", "relaxed_any"):
                # followedBy: every remaining row is skippable while
                # waiting for a future anchor, so the buffer must be
                # retained (bound it with WITHIN, as Flink does for
                # SKIP_TILL_NEXT state)
                return True
            return any(one(i, si, elem) for elem in all_elems[si])

        return rec(start, 0)

    def longest_partial_at(self, start: int) -> dict[str, list[int]] | None:
        """The matched-so-far map a timed-out partial anchored at
        ``start`` carries (what Flink hands to
        TimedOutPartialMatchHandler.processTimedOutMatch,
        TimedOutPartialMatchHandler.java:75): the first non-empty match
        of the longest proper step prefix that completes; None when no
        partial existed."""
        for k in range(len(self.steps) - 1, 0, -1):
            if not all(s.negated for s in self.steps[:k]):
                for m in self.matches_at(start, k):
                    if m:
                        return m
        return None


def _scan(data, steps: list[Step], after_match: str, within, timeouts: bool):
    """One pass of the kernel over one key's rows: each match resumes
    the scan per ``after_match``; with ``timeouts``, an anchor that
    completes nothing but starts a partial yields ``(longest partial,
    anchor_ts + within)``."""
    if _needs_any_path(steps) and after_match != "to_next_row":
        raise ValueError(
            "followedByAny/allowCombinations patterns require "
            "after_match='to_next_row'"
        )
    nfa = _NFA(data, steps, within)
    hits, partials = [], []
    i = 0
    while (i := nfa.anchor[i]) < nfa.n:
        ms = nfa.matches_at(i)
        if ms:
            hits.extend(ms)
            i = _resume_index(i, ms[0], steps, after_match)
            continue
        partial = nfa.longest_partial_at(i) if timeouts else None
        if partial is not None:
            partials.append((partial, i))
        i += 1
    rows = nfa.rows
    if rows is None:  # every element answered from masks: build matched rows only
        maps = hits + [p for p, _a in partials]
        need = sorted({j for m in maps for js in m.values() for j in js}
                      | {a for _p, a in partials})
        rows = dict(zip(need, nfa.frame.iloc[need].to_dict("records"))) if need else {}
    return (
        [_rows_of(rows, m) for m in hits],
        [(_rows_of(rows, p), rows[a][within[0]] + nfa.delta) for p, a in partials],
    )


def match_sequence(
    rows: list[Row] | pd.DataFrame,
    steps: list[Step],
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
) -> list[Matched]:
    """Run the pattern over one key's ordered rows (row dicts or a
    pandas frame). ``after_match``: 'past_last_row' (non-overlapping,
    Flink's default), 'to_next_row' (resume at start+1),
    'skip_to_first_<var>' / 'skip_to_last_<var>' (resume at that var's
    first/last matched row). ``within=(ts_col, max_delta)`` bounds a
    match's time span (Pattern.within).

    A followedByAny step or allowCombinations quantifier emits ALL
    viable matches per start and requires ``after_match='to_next_row'``
    (Flink couples SKIP_TILL_ANY with NO_SKIP the same way)."""
    return _scan(rows, steps, after_match, within, timeouts=False)[0]


def match_sequence_with_timeouts(
    rows: list[Row] | pd.DataFrame,
    steps: list[Step],
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
) -> tuple[list[Matched], list[tuple[Matched, object]]]:
    """``match_sequence`` plus Flink's timed-out-partial second output
    (TimedOutPartialMatchHandler.java:75, fired from CepOperator's
    advanceTime when the NFA prunes a computation state on within()
    expiry) as ``(partial_matched, timeout_ts)`` pairs.

    Bounded input behaves like Flink's end-of-job +inf watermark: every
    anchor that begins a partial and completes no match times out at
    ``anchor_ts + within``, consuming nothing; complete matches consume
    rows per ``after_match`` exactly as in ``match_sequence``."""
    if within is None:
        raise ValueError("timeout enumeration requires within= (Pattern.within)")
    return _scan(rows, steps, after_match, within, timeouts=True)


# ---- MEASURES helpers (reference: MatchCodeGenerator.scala measures) ----


def first(matched: Matched, var: str, col: str):
    return matched[var][0][col] if matched.get(var) else None


def last(matched: Matched, var: str, col: str):
    return matched[var][-1][col] if matched.get(var) else None


def count_of(matched: Matched, var: str) -> int:
    return len(matched.get(var, []))


def sum_of(matched: Matched, var: str, col: str) -> float:
    return float(sum(r[col] for r in matched.get(var, [])))


def match_recognize(
    df: DataFrame,
    partition_by: list[str],
    order_by: str | list[str],
    steps: list[Step],
    measures: dict[str, Callable[[Matched], object]],
    output_schema: StructType,
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
    measures_cols: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Batch MATCH_RECOGNIZE: one output row per match, carrying the
    partition keys + computed measures. Distributed per partition key
    (single shuffle), NFA scan inside each key. ``within`` bounds the
    match's time span (Pattern.within parity).

    ``measures_cols`` is the declarative measure form ``{out_name:
    (var, col)}``. When it is given, every step is quantifier-free
    with a SQL ``expr``, and the skip mode permits it (TO NEXT ROW, or
    a 1-step pattern), the MATCH compiles to a lead()-window Catalyst
    plan — no Python anywhere, one shuffle, whole-stage codegen."""

    for s in steps:
        if s.reluctant and s.internal == "combinations":
            raise ValueError(
                f"step {s.var!r}: reluctant quantifier cannot combine with "
                "allowCombinations (Quantifier.java rejects the pairing too)"
            )
    compilable = (
        measures_cols is not None
        and all(
            s.min == 1 and s.max == 1 and s.expr is not None
            and s.contiguity == "strict" and not s.negated
            for s in steps
        )
        and (after_match == "to_next_row" or len(steps) == 1)
        and (within is None or isinstance(within[1], str))
    )
    if compilable:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
        w = W.partitionBy(*partition_by).orderBy(*order_cols)
        var_idx = {s.var: i for i, s in enumerate(steps)}
        cond = None
        for i, s in enumerate(steps):
            m = F.expr(s.expr)
            mi = m if i == 0 else F.lead(m, i).over(w)
            cond = mi if cond is None else cond & mi
        if within is not None:
            ts_col, max_delta = within
            span_ok = (
                F.lead(ts_col, len(steps) - 1).over(w) - F.col(ts_col)
                <= F.expr(f"INTERVAL {max_delta}")
            ) if len(steps) > 1 else F.lit(True)
            cond = cond & span_ok
        sel = [F.col(k) for k in partition_by]
        for name, (var, col) in measures_cols.items():
            i = var_idx[var]
            c = F.col(col) if i == 0 else F.lead(col, i).over(w)
            sel.append(c.alias(name))
        return (
            df.select(*sel, cond.alias("__cep_ok"))
            .where(F.col("__cep_ok"))
            .drop("__cep_ok")
        )

    cols = output_schema.fieldNames()

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="stable")  # str or list both fine
        key = tuple(pdf.iloc[0][partition_by])
        return _frame([
            _record(cols, partition_by, key, measures, (m,), None)
            for m in match_sequence(pdf, steps, after_match, within)
        ], cols, False)

    return df.groupBy(*partition_by).applyInPandas(fn, output_schema)


def _combined_schema(output_schema: StructType, timeout_schema: StructType) -> StructType:
    """Union schema for the match+timeout multiplexed output: main
    fields, then timeout-only fields, then the ``__side`` tag — the
    Spark analog of Flink's OutputTag side output (one stream, split by
    a filter; same convention as the late-data side output)."""
    from pyspark.sql.types import StringType, StructField

    fields = list(output_schema.fields)
    have = {f.name for f in fields}
    for f in timeout_schema.fields:
        if f.name not in have:
            fields.append(StructField(f.name, f.dataType, True))
    fields.append(StructField("__side", StringType(), False))
    return StructType(fields)


def match_recognize_with_timeouts(
    df: DataFrame,
    partition_by: list[str],
    order_by: str | list[str],
    steps: list[Step],
    measures: dict[str, Callable[[Matched], object]],
    output_schema: StructType,
    timeout_measures: dict[str, Callable[[Matched, object], object]],
    timeout_schema: StructType,
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Batch ``PatternStream.select(selectFn, timeoutFn)`` parity
    (PatternStream.java select with PatternTimeoutFunction + OutputTag;
    timed-out partials per TimedOutPartialMatchHandler.java:75):
    returns ``(matches_df, timeouts_df)``. ONE applyInPandas pass
    computes both sides into a ``__side``-tagged union frame, so the
    shuffle/NFA scan is not duplicated; the returned frames are filters
    of it. ``timeout_measures`` callables receive
    ``(partial_matched, timeout_ts)`` — Flink's PatternTimeoutFunction
    signature. Raises ``ValueError`` without ``within``: timed-out
    partials exist only under Pattern.within."""
    if within is None:
        raise ValueError("timeout enumeration requires within= (Pattern.within)")
    combined = _combined_schema(output_schema, timeout_schema)
    cols = combined.fieldNames()

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="stable")
        key = tuple(pdf.iloc[0][partition_by])
        hits, touts = match_sequence_with_timeouts(pdf, steps, after_match, within)
        return _frame(
            [_record(cols, partition_by, key, measures, (m,), "match") for m in hits]
            + [_record(cols, partition_by, key, timeout_measures, t, "timeout") for t in touts],
            cols, True,
        )

    tagged = df.groupBy(*partition_by).applyInPandas(fn, combined)
    main = tagged.where(tagged["__side"] == "match").select(
        *[f.name for f in output_schema.fields]
    )
    touts = tagged.where(tagged["__side"] == "timeout").select(
        *[f.name for f in timeout_schema.fields]
    )
    return main, touts


def _buffered_rows(codec, state, pdfs, order_by: str, secondary_order: str | None, within: str | None):
    """The key's rows restored from state followed by this batch's, all
    in the codec's typed form, sorted by the order column(s) with NULLs
    last (the batch path's ``sort_values`` order), and the state's extra
    fields (None for a new key). With ``within`` a row without an order
    value is dropped on arrival: it has no place in a time-bounded
    span."""
    st = codec.read(state)
    n = len(codec.names)
    rows = codec.rows(st[:n]) if st else []
    for pdf in pdfs:
        rows.extend(
            r for r in codec.rows(codec.batch(pdf))
            if within is None or r[order_by] is not None
        )
    cols = (order_by,) if secondary_order is None else (order_by, secondary_order)
    rows.sort(key=lambda r: tuple((r[c] is None, r[c]) for c in cols))
    return rows, (st[n:] if st else None)


def _record(cols, partition_by, key, fns, args, side: str | None) -> dict:
    """One output row of a matcher: the partition key, each of
    ``fns`` applied to ``args``, and — when matches and timed-out
    partials share the output — the ``__side`` tag."""
    rec = dict.fromkeys(cols)
    rec.update(zip(partition_by, key))
    for name, f in fns.items():
        rec[name] = f(*args)
    if side is not None:
        rec["__side"] = side
    return rec


def _frame(out: list, cols, tagged: bool) -> pd.DataFrame:
    res = pd.DataFrame(out, columns=cols)
    # union frame: keep None (not NaN) in the other side's columns
    return res.astype(object).where(res.notna(), None) if tagged else res


def match_recognize_stream(
    sdf: DataFrame,
    partition_by: list[str],
    order_by: str,
    steps: list[Step],
    measures: dict[str, Callable[[Matched], object]],
    output_schema: StructType,
    after_match: str = "past_last_row",
    within: str | None = None,
    secondary_order: str | None = None,
    timeout_measures: dict[str, Callable[[Matched, object], object]] | None = None,
    timeout_schema: StructType | None = None,
    prev_next: list[tuple[str, str, str, int]] | None = None,
) -> DataFrame:
    """Streaming MATCH_RECOGNIZE: per-key row buffer carried in state
    (``stateful.RowState``, one typed array per column), matched
    greedily each batch; matched prefixes are discarded, the unmatched
    tail is retained (bounded by the longest open partial match).
    Predicates and measures see each row with Python values of the
    input's types (``datetime``, ``date``, ``Decimal``, exact ints, NULL
    as None) whether it arrived in this batch or came back from state.
    Rows sort by ``order_by`` (then ``secondary_order``) with NULLs
    last, as in the batch path.

    ``prev_next``: ``[(field, 'PREV'|'NEXT', col, offset), ...]`` —
    PREV/NEXT helper fields for SQL-text DEFINEs, materialized on each
    buffered row as an index offset into the key's sorted buffer and
    RECOMPUTED every batch (so a NEXT that was null converges to the
    batch value once the successor arrives — the same deferred
    evaluation IterativeConditionRunner.java:31 gets from the NFA's
    SharedBuffer). Boundary rule: a neighbor that left the buffer (a
    consumed match prefix, a pruned row) reads as NULL — exact for the
    one-batch availableNow drain, documented divergence for
    cross-batch references into consumed prefixes.

    ``within`` (Flink's WITHIN clause / Pattern.within, e.g.
    ``'10 minutes'`` — requires a TIMESTAMP ``order_by``): bounds both
    the match span AND the state: an open partial whose span already
    exceeds the bound is pruned instead of retained. Without it a
    never-completing relaxed partial (followedBy waiting forever)
    would pin the buffer AND block the scan from ever reaching later
    matches — the same unbounded-state failure Flink documents for
    patterns without windowTime; production relaxed patterns should
    always pass it. With ``within``, a row whose ``order_by`` is NULL
    is dropped on arrival.

    ``timeout_measures``/``timeout_schema`` (requires ``within``):
    Flink's timed-out-partial side output
    (TimedOutPartialMatchHandler.java:75, fired from CepOperator's
    advanceTime prune) — partials pruned on within() expiry emit a row
    instead of vanishing. The returned stream is then the ``__side``-
    tagged union of matches and timeouts (ONE stateful query — the
    Spark analog of an OutputTag side output; split with a filter).
    Open partials at drain end stay in state, NOT timed out — the
    stream has not ended, standard watermark semantics."""
    tagged = timeout_measures is not None
    if tagged:
        if within is None or timeout_schema is None:
            raise ValueError("timeout_measures requires within= and timeout_schema=")
    emit_schema = _combined_schema(output_schema, timeout_schema) if tagged else output_schema
    if prev_next and _needs_any_path(steps):
        raise NotImplementedError(
            "streaming PREV/NEXT with followedByAny: the all-anchors "
            "path re-enumerates a time window and does not materialize "
            "in-buffer helper fields"
        )
    if _needs_any_path(steps):
        # followedByAny/allowCombinations (SKIP_TILL_ANY) stream through a different
        # state shape: anchors stay live after matching (one anchor
        # emits a match per viable continuation), so the consume-prefix
        # buffer of the deterministic path cannot express it
        if within is None or after_match != "to_next_row":
            raise NotImplementedError(
                "streaming followedByAny requires within= (bounds the "
                "re-match window / state) and after_match='to_next_row' "
                "(the only coherent skip mode for all-anchors emission — "
                "Flink couples SKIP_TILL_ANY with NO_SKIP the same way)"
            )
        return _match_recognize_stream_any(
            sdf, partition_by, order_by, steps, measures, emit_schema, within,
            secondary_order, timeout_measures,
        )
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_1_16_0_src_spark.streaming.stateful import RowState

    codec = RowState(sdf.schema.fields)
    delta = pd.Timedelta(within) if within is not None else None
    emit_cols = emit_schema.fieldNames()

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        use_ts = delta is not None
        buf, _ = _buffered_rows(codec, state, pdfs, order_by, secondary_order, within)
        if prev_next:
            # PREV/NEXT = index offsets into the sorted per-key buffer,
            # refreshed each batch; out-of-buffer neighbors are NULL
            n = len(buf)
            for i, r in enumerate(buf):
                for name, fn_kind, col, off in prev_next:
                    j = i - off if fn_kind == "PREV" else i + off
                    r[name] = buf[j][col] if 0 <= j < n else None
        # one kernel over the buffered rows: DEFINEs with a vectorized
        # form evaluate once per micro-batch as masks, rows for emitted
        # matches come straight from the buffer
        nfa = _NFA(buf, steps, (order_by, delta) if use_ts else None)
        out, consumed = [], 0
        i = 0
        while i < len(buf):
            j = nfa.anchor[i]
            if j > i:
                # rows that cannot satisfy the pattern's first element
                # can start neither a match nor a partial: drop them
                consumed = i = j
                if i >= len(buf):
                    break
            ms = nfa.matches_at(i)
            if ms:
                out.append(_record(
                    emit_cols, partition_by, key, measures, (_rows_of(buf, ms[0]),),
                    "match" if tagged else None,
                ))
                consumed = i = _resume_index(i, ms[0], steps, after_match)
            elif nfa.partial_at(i):
                if use_ts and buf[-1][order_by] - buf[i][order_by] > delta:
                    # WITHIN expired: this partial can only complete via
                    # rows later than everything seen, which would bust
                    # the span bound — prune the start, keep scanning.
                    # With a timeout handler installed this prune IS the
                    # processTimedOutMatch call site (CepOperator
                    # advanceTime): surface the partial before dropping it
                    partial = nfa.longest_partial_at(i) if tagged else None
                    if partial is not None:
                        out.append(_record(
                            emit_cols, partition_by, key, timeout_measures,
                            (_rows_of(buf, partial), buf[i][order_by] + delta), "timeout",
                        ))
                    i += 1
                    consumed = i
                else:
                    break  # live open partial — retain buf[i:]
            else:
                i += 1
                consumed = i  # row i can never start a match; drop it
        buf = buf[consumed:]
        codec.write(state, [[r[c] for r in buf] for c in codec.names])
        yield _frame(out, emit_cols, tagged)

    return sdf.groupBy(*partition_by).applyInPandasWithState(
        fn, emit_schema, codec.schema, "append", GroupStateTimeout.NoTimeout
    )


def _match_recognize_stream_any(
    sdf: DataFrame,
    partition_by: list[str],
    order_by: str,
    steps: list[Step],
    measures: dict[str, Callable[[Matched], object]],
    emit_schema: StructType,
    within: str,
    secondary_order: str | None,
    timeout_measures: dict[str, Callable[[Matched, object], object]] | None,
) -> DataFrame:
    """Streaming followedByAny (SKIP_TILL_ANY — NFA.java:86's
    skip-till-any transition): every batch re-enumerates ALL anchors in
    the retained window with the batch all-anchors matcher and emits
    only matches not already emitted (a fingerprint set in state).
    Anchors stay live after a match — an A already paired with B1 still
    pairs with a later-arriving B2 — which is exactly why the
    deterministic path's consume-prefix buffer can't express it.

    State = rows within ``within`` of the newest timestamp + emitted
    fingerprints anchored inside that window; both prune together, so
    state is bounded by the window's row count (the same windowTime
    bound Flink requires for SKIP_TILL_ANY state cleanup). Caveat: a
    match arriving entirely BELOW the prune cutoff (very late data) is
    dropped where batch would emit it — standard watermark semantics.

    With ``timeout_measures`` (r12, VERDICT r11 #5): an anchor pruning
    out of the window with NO emitted match and a viable prefix emits a
    ``__side='timeout'`` row carrying its buffered longest partial —
    the NFA.java:86 timeout branch at the advanceTime prune, same
    contract as the deterministic path's handler."""
    import hashlib

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import ArrayType, LongType, StructField

    from flink_1_16_0_src_spark.streaming.stateful import RowState

    # state: the retained rows, then the emitted-match fingerprints as
    # three parallel arrays (anchor time, anchor-row hash, match hash)
    codec = RowState(
        sdf.schema.fields,
        extra=[
            StructField("__fp_time", ArrayType(sdf.schema[order_by].dataType)),
            StructField("__fp_anchor", ArrayType(LongType())),
            StructField("__fp_match", ArrayType(LongType())),
        ],
    )
    delta = pd.Timedelta(within)
    tagged = timeout_measures is not None
    emit_cols = emit_schema.fieldNames()

    def _hash(obj) -> int:
        # rows hold typed Python values whether fresh or restored, so
        # their repr — and this 64-bit digest — is stable across batches
        return int.from_bytes(hashlib.md5(repr(obj).encode()).digest()[:8], "big", signed=True)

    def _row_hash(r: dict) -> int:
        return _hash([r[c] for c in codec.names])

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        # secondary_order makes same-timestamp ordering (and therefore
        # which rows count as "later" for relaxed_any matching)
        # arrival-independent — pass a unique column (e.g. event id) so
        # a regenerated fixture with ts ties cannot flake (ADVICE r3)
        buf, fps = _buffered_rows(codec, state, pdfs, order_by, secondary_order, within)
        emitted: set = set(zip(*fps)) if fps else set()
        nfa = _NFA(buf, steps, (order_by, delta))
        out = []
        for i in range(len(buf)):
            for im in nfa.matches_at(i):
                matched = _rows_of(buf, im)
                anchor_ts = min(r[order_by] for rs in matched.values() for r in rs)
                # fingerprint = anchor time | anchor-row hash | match
                # hash: the time drives pruning, the anchor hash lets
                # the timeout scan know this anchor DID complete something
                anchor_row = next(
                    r for rs in matched.values() for r in rs
                    if r[order_by] == anchor_ts
                )
                fp = (
                    anchor_ts,
                    _row_hash(anchor_row),
                    _hash(sorted((v, [_row_hash(r) for r in rs]) for v, rs in matched.items())),
                )
                if fp in emitted:
                    continue
                emitted.add(fp)
                out.append(_record(
                    emit_cols, partition_by, key, measures, (matched,), "match" if tagged else None
                ))
        if buf:
            cutoff = max(r[order_by] for r in buf) - delta
            if tagged:
                # anchors pruning NOW (below the cutoff) that never
                # completed a match but had a viable prefix → timeout
                # row (processTimedOutMatch at the advanceTime prune)
                done_anchors = {a for _t, a, _m in emitted}
                for i, r in enumerate(buf):
                    if r[order_by] >= cutoff:
                        break  # buf is ts-sorted
                    if _row_hash(r) in done_anchors:
                        continue
                    partial = nfa.longest_partial_at(i)
                    if partial is None:
                        continue
                    out.append(_record(
                        emit_cols, partition_by, key, timeout_measures,
                        (_rows_of(buf, partial), r[order_by] + delta), "timeout",
                    ))
            buf = [r for r in buf if r[order_by] >= cutoff]
            emitted = {fp for fp in emitted if fp[0] >= cutoff}
        codec.write(
            state,
            [[r[c] for r in buf] for c in codec.names],
            *([list(f) for f in zip(*sorted(emitted))] or [[], [], []]),
        )
        yield _frame(out, emit_cols, tagged)

    return sdf.groupBy(*partition_by).applyInPandasWithState(
        fn, emit_schema, codec.schema, "append", GroupStateTimeout.NoTimeout
    )


# ---- Pattern API facade (flink-cep Pattern.java / CEP.java) ---------------


class Pattern:
    """Fluent pattern builder mirroring flink-cep's ``Pattern``:
    ``Pattern.begin("a").where(...).followed_by("b").where(...)
    .one_or_more().within("1 hour")``. Produces the ``Step`` list the
    NFA consumes; ``CEP.pattern(...)`` attaches it to a DataFrame.

    Contiguity mapping (Pattern.java): ``next`` = strict,
    ``followed_by`` = relaxed (SKIP_TILL_NEXT), ``not_next`` /
    ``not_followed_by`` = negative elements. ``where`` ANDs successive
    conditions onto the current element (IterativeCondition chaining),
    ``or_where`` ORs them (RichOrCondition)."""

    def __init__(self) -> None:
        self._steps: list[Step] = []
        self._within: object | None = None

    @classmethod
    def begin(cls, name: str) -> "Pattern":
        p = cls()
        p._steps.append(Step(name, _always, vec=None))
        return p

    def _append(self, name: str, contiguity: str, negated: bool = False) -> "Pattern":
        self._steps.append(
            Step(name, _always, contiguity=contiguity, negated=negated)
        )
        return self

    def next(self, name: str) -> "Pattern":
        return self._append(name, "strict")

    def followed_by(self, name: str) -> "Pattern":
        return self._append(name, "relaxed")

    def followed_by_any(self, name: str) -> "Pattern":
        """Pattern.followedByAny (SKIP_TILL_ANY): every later anchor of
        this element yields its own match, not just the earliest.
        Requires select(after_match='to_next_row')."""
        return self._append(name, "relaxed_any")

    def not_next(self, name: str) -> "Pattern":
        return self._append(name, "strict", negated=True)

    def not_followed_by(self, name: str) -> "Pattern":
        return self._append(name, "relaxed", negated=True)

    def _cur(self) -> Step:
        return self._steps[-1]

    def where(self, predicate: Predicate, vec: Callable | None = None) -> "Pattern":
        s = self._cur()
        if s.predicate is _always:
            s.predicate, s.vec = predicate, vec
        else:  # AND-chain like repeated Pattern.where()
            old_p, old_v = s.predicate, s.vec
            s.predicate = lambda r, m: old_p(r, m) and predicate(r, m)
            s.vec = (lambda pdf: old_v(pdf) & vec(pdf)) if (old_v and vec) else None
        return self

    def or_where(self, predicate: Predicate, vec: Callable | None = None) -> "Pattern":
        s = self._cur()
        old_p, old_v = s.predicate, s.vec
        s.predicate = lambda r, m: old_p(r, m) or predicate(r, m)
        s.vec = (lambda pdf: old_v(pdf) | vec(pdf)) if (old_v and vec) else None
        return self

    def one_or_more(self) -> "Pattern":
        self._cur().min, self._cur().max = 1, None
        return self

    def allow_gaps(self) -> "Pattern":
        """Relaxed quantifier-internal contiguity: non-matching rows
        between iterations are skipped, each take landing on the
        earliest matching row. NB: Flink's ``oneOrMore()`` defaults to
        this; here the default is ``.consecutive()`` (matching SQL
        MATCH_RECOGNIZE quantifier semantics) and gap-skipping is the
        opt-in."""
        self._cur().internal = "relaxed"
        return self

    def allow_combinations(self) -> "Pattern":
        """Pattern.allowCombinations() (flink-cep Quantifier
        ConsumingStrategy.SKIP_TILL_ANY between iterations): the
        quantified variable matches EVERY increasing subset of viable
        take positions, each subset continuing the pattern as its own
        match. Requires after_match='to_next_row' (all-anchors path);
        pair with within() — enumeration is exponential in the window's
        matching rows, exactly as the reference documents."""
        self._cur().internal = "combinations"
        return self

    def consecutive(self) -> "Pattern":
        """Strict quantifier-internal contiguity (the default here;
        Pattern.consecutive() in flink-cep)."""
        self._cur().internal = "consecutive"
        return self

    def zero_or_more(self) -> "Pattern":  # oneOrMore().optional() spelling
        self._cur().min, self._cur().max = 0, None
        return self

    def times(self, n: int, m: int | None = None) -> "Pattern":
        self._cur().min, self._cur().max = n, (m if m is not None else n)
        return self

    def optional(self) -> "Pattern":
        self._cur().min = 0
        return self

    def greedy(self) -> "Pattern":
        """Pattern.greedy() (flink-cep Quantifier.java:125) — the
        default here, provided for API parity and to undo reluctant()."""
        self._cur().reluctant = False
        return self

    def reluctant(self) -> "Pattern":
        """Reluctant take-count preference (Quantifier.java
        ConsumingStrategy — the reference's Pattern-API quantifiers are
        reluctant UNLESS .greedy() is called; here greedy is the
        default, matching SQL MATCH_RECOGNIZE, and reluctant is the
        opt-in). Shortest completing take-count wins."""
        self._cur().reluctant = True
        return self

    def until(self, predicate: Predicate) -> "Pattern":
        """Pattern.until(untilCondition) (flink-cep Pattern.java:228):
        stop condition for a LOOPING quantifier — once a row satisfies
        it, no more events are accepted into the loop, and the stop row
        itself is NOT consumed into the match (the NFA ANDs NOT(until)
        into the looping state's take and ignore edges). Only valid on
        an unbounded quantifier (``one_or_more`` / ``times_or_more`` /
        ``zero_or_more``) and at most once per step — same
        MalformedPatternException rules as the reference."""
        s = self._cur()
        if s.max is not None:
            raise ValueError(
                f"step {s.var!r}: until() requires a looping quantifier "
                "(one_or_more/times_or_more) — Pattern.java throws "
                "MalformedPatternException for non-looping steps too"
            )
        if s.until is not None:
            raise ValueError(
                f"step {s.var!r}: only one until() condition can be "
                "applied (Pattern.java:234)"
            )
        s.until = predicate
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """Pattern.timesOrMore(n) — at least ``n`` takes, unbounded."""
        self._cur().min, self._cur().max = n, None
        return self

    def within(self, duration) -> "Pattern":
        """Pattern.within(Time) — max span from first to last matched
        row. ``duration``: pandas-parsable offset string or timedelta."""
        self._within = duration
        return self

    def build(self) -> list[Step]:
        if self._steps and self._steps[-1].negated and self._steps[-1].contiguity == "relaxed":
            raise ValueError(
                "pattern cannot end with notFollowedBy (Flink NFACompiler "
                "rejects it too)"
            )
        return list(self._steps)


def _always(r: Row, m: Matched) -> bool:
    return True


class CEP:
    """``CEP.pattern(df, pattern, partition_by, order_by)`` →
    ``PatternStream`` (flink-cep CEP.java:58 pattern())."""

    @staticmethod
    def pattern(
        df: DataFrame,
        pattern: Pattern,
        partition_by: list[str],
        order_by: str | list[str],
    ) -> "PatternStream":
        return PatternStream(df, pattern, partition_by, order_by)


class PatternStream:
    """PatternStream.select parity (PatternStream.java:131): one output
    row per match via the MEASURES-style extractor dict."""

    def __init__(self, df, pattern, partition_by, order_by):
        self._df = df
        self._pattern = pattern
        self._partition_by = partition_by
        self._order_by = order_by

    def _within_tuple(self):
        if self._pattern._within is None:
            return None
        order_col = (
            self._order_by if isinstance(self._order_by, str) else self._order_by[0]
        )
        delta = self._pattern._within
        if isinstance(delta, str):
            delta = pd.Timedelta(delta)
        return (order_col, delta)

    def select(
        self,
        measures: dict[str, Callable[[Matched], object]],
        output_schema: StructType,
        after_match: str = "past_last_row",
        timeout_measures: dict[str, Callable[[Matched, object], object]] | None = None,
        timeout_schema: StructType | None = None,
    ):
        """One row per match. With ``timeout_measures``/``timeout_schema``
        this is PatternStream.select(PatternTimeoutFunction, OutputTag,
        PatternSelectFunction) parity (PatternStream.java:153): returns
        ``(matches_df, timeouts_df)`` where the second frame carries the
        partials that expired on within() — requires the pattern to
        declare ``.within(...)``, exactly as Flink requires windowTime
        for timed-out matches to exist."""
        steps = self._pattern.build()
        within = self._within_tuple()
        if timeout_measures is not None:
            if timeout_schema is None:
                raise ValueError("timeout_measures requires timeout_schema")
            return match_recognize_with_timeouts(
                self._df,
                self._partition_by,
                self._order_by,
                steps,
                measures,
                output_schema,
                timeout_measures,
                timeout_schema,
                after_match=after_match,
                within=within,
            )
        return match_recognize(
            self._df,
            self._partition_by,
            self._order_by,
            steps,
            measures,
            output_schema,
            after_match=after_match,
            within=within,
        )
