"""Row-dict reference NFA for the CEP equivalence tests.

This is the per-row-predicate NFA that ``operators/cep.py`` ran before
its single kernel: every "does row j satisfy this step" question calls
``step.predicate(rows[j], matched)`` with real row dicts. The property
and differential tests compare the kernel's matches, timed-out partials
and retention answers against it. Known gap, kept on purpose: its
retention check ``_partial_at`` ignores ``Step.until`` (the kernel's
does not), so retention comparisons draw ``until``-free patterns.
``with_masks`` gives a Step list explicit masks, for the tests that
pit the kernel's mask answers against this reference.
"""

from __future__ import annotations

import dataclasses

from flink_1_16_0_src_spark.operators.cep import (
    Matched,
    Row,
    Step,
    _needs_any_path,
    _resume_index,
)


def _match_at(
    rows: list[Row], start: int, steps: list[Step], within: tuple[str, object] | None = None
) -> tuple[Matched, dict[str, list[int]]] | None:
    """Greedy backtracking match anchored at ``start``; returns
    (matched-rows-per-var, matched-INDICES-per-var) for the longest
    match, else None. Step-to-step contiguity per ``Step.contiguity``
    (strict = next, relaxed = followedBy — skipped rows are simply not
    consumed); quantifier-internal contiguity is strict. Negative steps
    (notNext/notFollowedBy) consume nothing and fail the match when
    their predicate holds in the guarded gap. ``within=(ts_col,
    max_delta)`` prunes matches spanning more than max_delta from the
    first matched row (Pattern.within / flink-cep Pattern.java
    windowTime)."""

    def in_window(j: int) -> bool:
        if within is None:
            return True
        ts_col, max_delta = within
        return rows[j][ts_col] - rows[start][ts_col] <= max_delta

    def quant(i: int, step: Step, matched: Matched, idx: dict, cont):
        """Greedy consume of one quantified variable then continue after
        the LAST take; backtracks from longest to ``step.min``. With
        ``internal='relaxed'`` non-matching rows BETWEEN takes are
        skipped (each take lands on the earliest matching row)."""
        matched.setdefault(step.var, [])
        idx.setdefault(step.var, [])
        base_len = len(matched[step.var])
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < len(rows):
            if not in_window(j):
                break
            if step.until is not None and step.until(rows[j], matched):
                break  # stop row is NOT consumed (Pattern.until)
            if step.predicate(rows[j], matched):
                matched[step.var].append(rows[j])
                idx[step.var].append(j)
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                j += 1  # gap row between iterations
            else:
                break
        full_rows = list(matched[step.var][base_len:])
        full_idx = list(idx[step.var][base_len:])
        lengths = (
            range(step.min, len(takes) + 1)
            if step.reluctant
            else range(len(takes), step.min - 1, -1)
        )
        for L in lengths:
            del matched[step.var][base_len:]
            del idx[step.var][base_len:]
            matched[step.var].extend(full_rows[:L])
            idx[step.var].extend(full_idx[:L])
            res = cont(takes[L - 1] + 1 if L else i)
            if res is not None:
                return res
        del matched[step.var][base_len:]
        del idx[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
            del idx[step.var]
        return None

    def rec(i: int, si: int, matched: Matched, idx: dict, neg: Step | None):
        if si == len(steps):
            return (
                {k: list(v) for k, v in matched.items()},
                {k: list(v) for k, v in idx.items()},
            )
        step = steps[si]
        if step.negated:
            if step.contiguity == "strict":
                # notNext: the immediately-following row must not match
                if i < len(rows) and step.predicate(rows[i], matched):
                    return None
                return rec(i, si + 1, matched, idx, neg)
            # notFollowedBy: guards the gap before the NEXT element's anchor
            return rec(i, si + 1, matched, idx, step)
        branches = step.alts or (step,)
        j = i
        while True:
            for branch in branches:
                res = quant(
                    j, branch, matched, idx,
                    lambda jj: rec(jj, si + 1, matched, idx, None),
                )
                if res is not None:
                    return res
            # anchor j failed; the first element anchors exactly at start
            if si == 0 or step.contiguity != "relaxed":
                return None
            if j >= len(rows) or not in_window(j):
                return None
            if neg is not None and neg.predicate(rows[j], matched):
                return None  # a notFollowedBy event occurred in the gap
            j += 1

    return rec(start, 0, {}, {}, None)


def _partial_at(rows: list[Row], start: int, steps: list[Step]) -> bool:
    """True if rows[start:] can ALL be consumed by a proper prefix of
    the pattern — i.e. a match could still complete with future rows.
    Drives streaming buffer retention."""

    def one(i: int, si: int, step: Step, matched: Matched) -> bool:
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < len(rows):
            if step.predicate(rows[j], matched):
                matched[step.var].append(rows[j])
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                j += 1
            else:
                break
        open_at_end = j == len(rows) and takes
        while True:
            if len(takes) >= step.min and rec(takes[-1] + 1 if takes else i, si + 1, matched):
                return True
            if open_at_end:
                return True  # quantifier still open at buffer end
            if not takes:
                break
            takes.pop()
            matched[step.var].pop()
        del matched[step.var][base_len:]
        return False

    def rec(i: int, si: int, matched: Matched) -> bool:
        if i == len(rows):
            return True  # everything consumed; pattern still open (full matches are caught by _match_at first)
        if si == len(steps):
            return False  # pattern exhausted but rows remain
        step = steps[si]
        if step.negated:
            # negative steps consume nothing; over-retaining is safe
            return rec(i, si + 1, matched)
        if si > 0 and step.contiguity in ("relaxed", "relaxed_any"):
            # followedBy: every remaining row is skippable while waiting
            # for a future anchor — the prefix up to here matched, so
            # the buffer must be retained (bound it with WITHIN / a
            # time condition, as Flink does for SKIP_TILL_NEXT state)
            return True
        if step.alts:
            return any(one(i, si, b, matched) for b in step.alts)
        return one(i, si, step, matched)

    return rec(start, 0, {})


def _match_at_any(
    rows: list[Row], start: int, steps: list[Step], within: tuple[str, object] | None = None
) -> list[Matched]:
    """All-matches twin of ``_match_at`` for patterns containing
    ``relaxed_any`` (followedByAny / SKIP_TILL_ANY) steps: a
    relaxed_any step yields ONE match per viable anchor (every later
    anchor too, not just the earliest), while strict/relaxed steps keep
    their deterministic single-anchor semantics and quantifiers stay
    greedy-first (longest completing take per anchor). Alternation
    branches keep ordered priority. Matches emit in ascending anchor
    order."""
    out: list[Matched] = []

    def in_window(j: int) -> bool:
        if within is None:
            return True
        ts_col, max_delta = within
        return rows[j][ts_col] - rows[start][ts_col] <= max_delta

    def quant(i: int, step: Step, matched: Matched, cont) -> bool:
        if step.internal == "combinations":
            return quant_combinations(i, step, matched, cont)
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < len(rows):
            if not in_window(j):
                break
            if step.until is not None and step.until(rows[j], matched):
                break  # stop row is NOT consumed (Pattern.until)
            if step.predicate(rows[j], matched):
                matched[step.var].append(rows[j])
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                j += 1
            else:
                break
        emitted = False
        full_rows = list(matched[step.var][base_len:])
        lengths = (
            range(step.min, len(takes) + 1)
            if step.reluctant
            else range(len(takes), step.min - 1, -1)
        )
        for L in lengths:
            del matched[step.var][base_len:]
            matched[step.var].extend(full_rows[:L])
            if cont(takes[L - 1] + 1 if L else i):
                emitted = True
                break  # first completing take-count in preference order
        del matched[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
        return emitted

    def quant_combinations(i: int, step: Step, matched: Matched, cont) -> bool:
        """allowCombinations (SKIP_TILL_ANY between iterations): the
        first take anchors at ``i`` (the step's own contiguity decided
        the anchor), every later take may land on ANY later matching
        row — each increasing subset of size ≥ min (≤ max) emits its
        own continuation. Exponential by design (NFA.java warns the
        same); the within-window bound caps the candidate span."""
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        emitted = False

        def dfs(last: int, count: int) -> None:
            nonlocal emitted
            if count >= step.min and cont(last + 1):
                emitted = True
            if step.max is not None and count >= step.max:
                return
            k = last + 1
            while k < len(rows) and in_window(k):
                if step.until is not None and step.until(rows[k], matched):
                    break  # stop row is NOT consumed (Pattern.until)
                if step.predicate(rows[k], matched):
                    matched[step.var].append(rows[k])
                    dfs(k, count + 1)
                    matched[step.var].pop()
                k += 1

        if step.min == 0 and cont(i):
            emitted = True
        if (
            i < len(rows)
            and in_window(i)
            and not (step.until is not None and step.until(rows[i], matched))
            and step.predicate(rows[i], matched)
        ):
            matched[step.var].append(rows[i])
            dfs(i, 1)
            matched[step.var].pop()
        del matched[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
        return emitted

    def rec(i: int, si: int, matched: Matched, neg: Step | None) -> bool:
        if si == len(steps):
            out.append({k: list(v) for k, v in matched.items()})
            return True
        step = steps[si]
        if step.negated:
            if step.contiguity == "strict":
                if i < len(rows) and step.predicate(rows[i], matched):
                    return False
                return rec(i, si + 1, matched, neg)
            return rec(i, si + 1, matched, step)
        branches = step.alts or (step,)
        any_mode = step.contiguity == "relaxed_any" and si > 0
        emitted = False
        j = i
        while True:
            for branch in branches:
                ok = quant(j, branch, matched, lambda jj: rec(jj, si + 1, matched, None))
                if ok:
                    emitted = True
                    break  # ordered branch priority: first matching branch per anchor
            if emitted and not any_mode:
                return True  # deterministic step: earliest completing anchor wins
            if si == 0 or step.contiguity == "strict":
                return emitted
            if j >= len(rows) or not in_window(j):
                return emitted
            if neg is not None and neg.predicate(rows[j], matched):
                return emitted  # notFollowedBy event poisons later anchors
            j += 1

    rec(start, 0, {}, None)
    return out


def match_sequence(
    rows: list[Row],
    steps: list[Step],
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
) -> list[Matched]:
    """Run the pattern over one key's ordered rows. ``after_match``:
    'past_last_row' (non-overlapping, Flink's default), 'to_next_row'
    (resume at start+1), 'skip_to_first_<var>' / 'skip_to_last_<var>'
    (resume at that var's first/last matched row).
    ``within=(ts_col, max_delta)`` bounds a match's time span.

    Patterns containing a ``relaxed_any`` (followedByAny) step emit ALL
    viable-anchor matches per start and therefore require
    ``after_match='to_next_row'`` (NO_SKIP-style enumeration — the only
    coherent skip mode when one start yields several matches; Flink
    couples SKIP_TILL_ANY with NO_SKIP the same way)."""
    has_any = _needs_any_path(steps)
    out: list[Matched] = []
    i = 0
    if has_any:
        if after_match != "to_next_row":
            raise ValueError(
                "followedByAny/allowCombinations patterns require "
                "after_match='to_next_row'"
            )
        while i < len(rows):
            out.extend(_match_at_any(rows, i, steps, within))
            i += 1
        return out
    while i < len(rows):
        m = _match_at(rows, i, steps, within)
        if m is not None:
            matched, idx = m
            out.append(matched)
            i = _resume_index(i, idx, steps, after_match)
        else:
            i += 1
    return out


def _longest_partial_at(
    rows: list[Row], start: int, steps: list[Step],
    within: tuple[str, object] | None = None,
) -> Matched | None:
    """Longest proper-prefix match anchored at ``start`` — the
    matched-so-far map a timed-out partial carries (what Flink hands to
    ``TimedOutPartialMatchHandler.processTimedOutMatch``,
    flink-libraries/flink-cep/src/main/java/org/apache/flink/cep/
    functions/TimedOutPartialMatchHandler.java:75). Tries the longest
    step prefix first; returns None when not even the first element
    matches at ``start`` (no partial existed, nothing to time out)."""
    for k in range(len(steps) - 1, 0, -1):
        prefix = steps[:k]
        if all(s.negated for s in prefix):
            continue
        m = _match_at(rows, start, prefix, within)
        if m is not None and m[0]:
            return m[0]
    return None


def _longest_partial_at_any(
    rows: list[Row], start: int, steps: list[Step],
    within: tuple[str, object] | None = None,
) -> Matched | None:
    """Any-path twin of ``_longest_partial_at``: the longest
    proper-prefix match anchored at ``start`` for a pattern containing
    followedByAny/allowCombinations steps. A prefix may itself be
    deterministic (the any step can sit later in the pattern) — route
    each prefix to the matching evaluator. Returns the first match of
    the longest completable prefix (the buffered rows a pruned NFA
    computation state carries)."""
    for k in range(len(steps) - 1, 0, -1):
        prefix = steps[:k]
        if all(s.negated for s in prefix):
            continue
        if _needs_any_path(prefix):
            ms = _match_at_any(rows, start, prefix, within)
            for m0 in ms:
                if m0:
                    return m0
        else:
            m = _match_at(rows, start, prefix, within)
            if m is not None and m[0]:
                return m[0]
    return None


def match_sequence_with_timeouts(
    rows: list[Row],
    steps: list[Step],
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
) -> tuple[list[Matched], list[tuple[Matched, object]]]:
    """``match_sequence`` plus Flink's timed-out-partial second output
    (TimedOutPartialMatchHandler.java:75, fired from CepOperator's
    advanceTime when the NFA prunes a computation state on within()
    expiry): partials that start but cannot complete inside the window
    surface as ``(partial_matched, timeout_ts)`` pairs instead of being
    silently dropped — payment-timeout / abandoned-cart patterns read
    this stream as their primary output.

    Bounded input behaves like Flink's end-of-job +inf watermark: every
    anchor that begins a partial and never completes times out, with
    ``timeout_ts = anchor_ts + within`` (when the match would stop
    being completable). Complete matches consume rows per
    ``after_match`` exactly as in ``match_sequence``; timed-out anchors
    consume nothing (the NFA just drops the computation state)."""
    if within is None:
        raise ValueError("timeout enumeration requires within= (Pattern.within)")
    ts_col, delta = within
    matches: list[Matched] = []
    timeouts: list[tuple[Matched, object]] = []
    if _needs_any_path(steps):
        # followedByAny / allowCombinations (r12, VERDICT r11 #5):
        # anchors stay live until window expiry (NFA.java:86 timeout
        # branch prunes them at advanceTime) — an anchor with NO
        # completing enumeration but a viable prefix times out with its
        # buffered longest-prefix partial at anchor_ts + within. The
        # any-path couples with to_next_row (same rule as
        # match_sequence), so anchors partition into the two outputs
        # exactly as on the deterministic path.
        if after_match != "to_next_row":
            raise ValueError(
                "followedByAny/allowCombinations patterns require "
                "after_match='to_next_row'"
            )
        for i in range(len(rows)):
            ms = _match_at_any(rows, i, steps, within)
            if ms:
                matches.extend(ms)
                continue
            partial = _longest_partial_at_any(rows, i, steps, within)
            if partial is not None:
                timeouts.append((partial, rows[i][ts_col] + delta))
        return matches, timeouts
    i = 0
    while i < len(rows):
        m = _match_at(rows, i, steps, within)
        if m is not None:
            matched, idx = m
            matches.append(matched)
            i = _resume_index(i, idx, steps, after_match)
            continue
        partial = _longest_partial_at(rows, i, steps, within)
        if partial is not None:
            timeouts.append((partial, rows[i][ts_col] + delta))
        i += 1
    return matches, timeouts


def with_masks(steps, masks):
    """``steps`` with each step's ``vec`` returning the given mask, so the
    kernel answers their row tests from masks (alternation steps take a
    tuple of branch masks)."""

    def one(step, mask):
        if step.alts:
            return dataclasses.replace(
                step, alts=tuple(one(b, bm) for b, bm in zip(step.alts, mask))
            )
        return dataclasses.replace(step, vec=lambda _pdf, m=mask: m)

    return [one(s, m) for s, m in zip(steps, masks)]
