"""Flink-only SQL clause surface: window TVFs + MATCH_RECOGNIZE.

Reference parity:
- ``TUMBLE/HOP/CUMULATE/SESSION(TABLE t, DESCRIPTOR(ts), ...)`` TVF
  calls (SqlTumbleTableFunction.java:37, SqlHopTableFunction.java:38,
  SqlCumulateTableFunction.java:37, SqlSessionTableFunction.java) —
  Spark SQL has no polymorphic table functions, so occurrences are
  rewritten: the windowed relation is materialized as a temp view via
  ``operators.windows`` (which appends the TVF contract's
  window_start/window_end columns) and the call text is replaced by
  the view name. The surrounding query is untouched — GROUP BY
  window_start, window_end then aggregates exactly like Flink's
  WindowAggregate on TVF output.
- ``MATCH_RECOGNIZE ( PARTITION BY .. ORDER BY .. MEASURES ..
  [ONE ROW PER MATCH] [AFTER MATCH SKIP ..] PATTERN (..) [WITHIN ..]
  DEFINE .. )`` (StreamExecMatch.java:59, SqlMatchRecognize in
  Calcite) — parsed and lowered onto ``operators.cep.match_recognize``.
- LEGACY group windows ``GROUP BY TUMBLE/HOP/SESSION(ts, ..)`` with
  ``TUMBLE_START/END/ROWTIME`` auxiliaries (pre-FLIP-145 syntax,
  StreamExecGroupWindowAggregate.java:88) — same lowering as the TVFs.

Supported MATCH_RECOGNIZE subset (documented v1, mirrors the repo's
CEP engine scope — strict contiguity, greedy quantifiers, alternation
groups):
- PATTERN: variables with ``* + ? {n,m} {n,}`` quantifiers and
  ``(A|B)`` alternation groups.
- DEFINE: boolean SQL over the CURRENT row's columns. ``V.col`` where
  V is the variable being defined refers to the current row (Flink
  semantics) and is stripped; ``PREV(V.col [, n])`` / ``NEXT(V.col
  [, n])`` become lag/lead over the partition (physical offsets, the
  Calcite semantics) — all hoisted to JVM-evaluated mask columns
  before the NFA runs (the same condition hoisting
  MatchCodeGenerator.scala performs). CROSS-VARIABLE references —
  ``FIRST/LAST/SUM/AVG(A.col)`` and ``COUNT(A.*)`` inside DEFINE B,
  the MatchCodeGenerator.scala running-aggregate surface — are
  supported: they compile to a per-row NFA predicate fed from the
  match state (that step calls it per row while the pattern's other
  steps keep their masks; restricted expression grammar — comparisons,
  arithmetic, AND/OR/NOT, literals, column refs). Aggregates over the
  variable BEING defined (``DEFINE A AS SUM(A.price) < 6``) run with
  RUNNING semantics — the candidate row joins the aggregate as if
  already mapped (r12; MatchCodeGenerator.scala:61-71,121).
- MEASURES: ``FIRST(V.col)``, ``LAST(V.col)``, ``V.col`` (≡ LAST —
  Calcite's implicit last-row semantics), ``COUNT(V.*)``,
  ``SUM(V.col)``, ``AVG(V.col)``.
- ONE ROW PER MATCH (the only Flink-supported mode; ALL ROWS PER
  MATCH is rejected there too for streaming).
- AFTER MATCH SKIP PAST LAST ROW (default) / TO NEXT ROW /
  TO FIRST V / TO LAST V.
- WITHIN INTERVAL 'n' UNIT (Flink's SqlMatchRecognize extension).
"""

from __future__ import annotations

import itertools
import os
import re
import tempfile
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from flink_1_16_0_src_spark.operators import cep, windows

_INTERVAL = re.compile(r"INTERVAL\s*'([\d.]+)'\s*(\w+)", re.IGNORECASE)

_TVF_HEAD = re.compile(
    r"TABLE\s*\(\s*(TUMBLE|HOP|CUMULATE|SESSION)\s*\(", re.IGNORECASE
)

_MR_HEAD = re.compile(r"(\w+)\s+MATCH_RECOGNIZE\s*\(", re.IGNORECASE)


_PAREN_OR_LITERAL = re.compile(r"[()]|'[^']*(?:'|$)")
_LITERAL_SPLIT = re.compile(r"('(?:[^']|'')*')")


def _unquoted_text(sql: str) -> str:
    """The statement with every string literal blanked to spaces of the
    same length, so a keyword scan never matches inside a literal and
    its offsets are the statement's (repo invariant: every regex guard
    over SQL text is quote-aware)."""
    return _LITERAL_SPLIT.sub(lambda m: " " * len(m.group()), sql)


def _parens(sql: str, start: int = 0, end: int | None = None):
    """(index, char) of each parenthesis in ``sql[start:end]`` outside a
    string literal — the one quote-aware scan under the paren helpers."""
    for m in _PAREN_OR_LITERAL.finditer(sql, start, len(sql) if end is None else end):
        if m.group() in ("(", ")"):
            yield m.start(), m.group()


def _balanced(sql: str, open_idx: int) -> int:
    """Index just past the ')' matching the '(' at ``open_idx``
    (quote-aware)."""
    depth = 0
    for i, c in _parens(sql, open_idx):
        depth += 1 if c == "(" else -1
        if depth == 0:
            return i + 1
    raise ValueError("unbalanced parentheses in SQL")


def _depth_at(sql: str, idx: int) -> int:
    """Parenthesis depth at ``idx`` (quote-aware): > 0 inside a
    subquery or call."""
    return sum(1 if c == "(" else -1 for _i, c in _parens(sql, 0, idx))


def _top_level(sql: str) -> str:
    """``sql`` with string literals and parenthesized text blanked to
    spaces (same length): a keyword search on it finds only depth-0,
    unquoted occurrences, at their offsets in ``sql``."""
    out, depth, last = [], 0, 0
    for m in _PAREN_OR_LITERAL.finditer(sql):
        out.append(sql[last : m.start()] if depth == 0 else " " * (m.start() - last))
        depth += {"(": 1, ")": -1}.get(m.group(), 0)
        out.append(" " * len(m.group()))
        last = m.end()
    out.append(sql[last:] if depth == 0 else " " * (len(sql) - last))
    return "".join(out)


def _split_unquoted_and(cond: str) -> list[str]:
    """Top-level conjuncts of a predicate: split on AND outside string
    literals and parentheses, keeping ``BETWEEN a AND b`` whole. A
    predicate with a top-level OR is one conjunct."""
    top = _top_level(cond)
    if re.search(r"\bOR\b", top, re.IGNORECASE):
        return [cond.strip()] if cond.strip() else []
    parts, start, between = [], 0, False
    for m in re.finditer(r"\b(?:BETWEEN|AND)\b", top, re.IGNORECASE):
        if m.group().upper() == "BETWEEN":
            between = True
        elif between:
            between = False
        else:
            parts.append(cond[start : m.start()])
            start = m.end()
    parts.append(cond[start:])
    return [p.strip() for p in parts if p.strip()]


def _split_top_commas(s: str) -> list[str]:
    """Split on commas outside parentheses and string literals."""
    cuts = [i for i, c in enumerate(_top_level(s)) if c == ","]
    parts = [s[i + 1 : j] for i, j in zip([-1, *cuts], [*cuts, len(s)])]
    return [p.strip() for p in parts[:-1]] + ([parts[-1].strip()] if parts[-1] else [])


_PLAIN_ITEM = re.compile(r"([\w.]+)(?:\s+AS\s+(\w+))?", re.IGNORECASE)


def _plain_item(item: str) -> tuple[str, str, str] | None:
    """(reference, bare column, output name) of a plain ``[q.]col [AS
    alias]`` SELECT item, or None for any other item."""
    m = _PLAIN_ITEM.fullmatch(item.strip())
    if m is None:
        return None
    col = m.group(1).split(".")[-1]
    return m.group(1), col, m.group(2) or col


def _interval_str(arg: str) -> str:
    m = _INTERVAL.search(arg)
    if not m:
        raise ValueError(f"expected INTERVAL literal in {arg!r}")
    qty, unit = m.group(1), m.group(2).lower()
    if not unit.endswith("s"):
        unit += "s"
    return f"{qty} {unit}"


# interval parameters of each window TVF, in positional order, and how
# many of them a call must give
_TVF_PARAMS = {
    "TUMBLE": ("SIZE", "OFFSET"),
    "HOP": ("SLIDE", "SIZE", "OFFSET"),
    "CUMULATE": ("STEP", "SIZE"),
    "SESSION": ("GAP",),
}
_TVF_REQUIRED = {"TUMBLE": 1, "HOP": 2, "CUMULATE": 2, "SESSION": 1}


@dataclass
class WindowTVF:
    """One window-TVF call as :func:`parse_window_tvf` reads it.
    Intervals are Spark duration strings (``'30 minutes'``); those the
    function does not take, or the call leaves out, are None."""

    start: int  # span of the whole TABLE(fn(...)) call in the statement
    end: int
    fn: str
    table: str | None  # the table argument, None for a subquery
    subquery: str | None  # the SELECT of a TABLE (SELECT ...) argument
    keys: list[str]  # PARTITION BY keys
    ts: str  # the DESCRIPTOR column
    table_span: tuple[int, int]  # TABLE t / TABLE (...) in the statement
    time_span: tuple[int, int]  # DESCRIPTOR(col) in the statement
    size: str | None = None
    slide: str | None = None
    step: str | None = None
    gap: str | None = None
    offset: str | None = None

    def with_table(self, sql: str, name: str) -> str:
        """``sql`` with this call's table argument replaced by ``TABLE
        name``."""
        a, b = self.table_span
        return f"{sql[:a]}TABLE {name}{sql[b:]}"

    def with_time(self, sql: str, col: str) -> str:
        """``sql`` with this call's DESCRIPTOR column replaced by
        ``col``."""
        a, b = self.time_span
        return f"{sql[:a]}DESCRIPTOR({col}){sql[b:]}"


def _tvf_arity(fn: str, n: int) -> ValueError:
    lo, params = _TVF_REQUIRED[fn], _TVF_PARAMS[fn]
    takes = f"{lo} to {len(params)}" if len(params) > lo else str(lo)
    return ValueError(
        f"{fn} takes {takes} INTERVAL argument(s) ({', '.join(params)}) "
        f"after the table and DESCRIPTOR, got {n}"
    )


def parse_window_tvf(sql: str, pos: int = 0) -> WindowTVF | None:
    """The first window-TVF call at or after ``pos`` in ``sql`` (string
    literals skipped), or None. The one reader of the clause: batch SQL,
    ``stream_query`` and the streaming statement set all take its spec.

    Supported spellings (SqlTumbleTableFunction.java:37,
    SqlHopTableFunction.java:38, SqlCumulateTableFunction.java:37,
    SqlSessionTableFunction.java), each interval an ``INTERVAL 'n'
    UNIT`` literal:

    - ``TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), size [, offset]))``
    - ``TABLE(HOP(TABLE t, DESCRIPTOR(ts), slide, size [, offset]))``
    - ``TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), step, size))``
    - ``TABLE(SESSION(TABLE t [PARTITION BY k, ...], DESCRIPTOR(ts),
      gap))``

    So TUMBLE takes 1–2 intervals, HOP 2–3, CUMULATE 2 and SESSION 1.
    Any argument may be named instead, in any order after the
    positional ones: ``DATA =>``, ``TIMECOL =>``, ``SIZE =>``,
    ``SLIDE =>``, ``STEP =>``, ``GAP =>``, ``OFFSET =>``. ``TABLE t``
    may be ``TABLE (SELECT ...)``. Keywords are case-insensitive. A
    call with too many or too few intervals, an unknown or repeated
    argument name, or a malformed argument raises ValueError."""
    head = _TVF_HEAD.search(_unquoted_text(sql), pos)
    if head is None:
        return None
    fn = head.group(1).upper()
    names = ("DATA", "TIMECOL", *_TVF_PARAMS[fn])
    open_ = head.end() - 1
    close = _balanced(sql, open_)
    outer = re.match(r"\s*\)", sql[close:])
    if outer is None:
        raise ValueError(f"{fn}: expected ')' closing TABLE( after the call")
    body = sql[open_ + 1 : close - 1]
    cuts = [i for i, c in enumerate(_top_level(body)) if c == ","]
    parts: list[tuple[str, int]] = []  # (argument text, offset in sql)
    for a, b in zip([-1, *cuts], [*cuts, len(body)]):
        text = body[a + 1 : b]
        if parts and re.fullmatch(r"\s*[\w.]+\s*", text) and re.search(
            r"\bPARTITION\s+BY\b", parts[-1][0], re.IGNORECASE
        ):
            # PARTITION BY k1, k2: the key list spans commas
            parts[-1] = (f"{parts[-1][0]},{text}", parts[-1][1])
            continue
        parts.append((text.strip(), open_ + a + 2 + len(text) - len(text.lstrip())))
    args: dict[str, tuple[str, int]] = {}  # name -> (text, offset in sql)
    for k, (text, at) in enumerate(parts):
        named = re.match(r"(\w+)\s*=>\s*", text)
        if named:
            name, at = named.group(1).upper(), at + named.end()
            if name not in names:
                raise ValueError(f"{fn} has no argument named {name}")
        elif k >= len(names):
            raise _tvf_arity(fn, len(parts) - 2)
        elif any(n_ != names[j] for j, n_ in enumerate(args)):
            raise ValueError(f"{fn}: a positional argument follows a named one")
        else:
            name = names[k]
        if name in args:
            raise ValueError(f"{fn}: argument {name} given twice")
        args[name] = (text[named.end() if named else 0 :], at)
    if any(p not in args for p in names[: 2 + _TVF_REQUIRED[fn]]):
        if "DATA" not in args or "TIMECOL" not in args:
            raise ValueError(f"{fn} needs a table and a DESCRIPTOR argument")
        raise _tvf_arity(fn, len(args) - 2)

    data, data_at = args["DATA"]
    dm = re.match(r"TABLE(?:\s+(\w+)|\s*\()", data, re.IGNORECASE)
    if dm is None:
        raise ValueError(f"unsupported TVF table argument {data!r}")
    if dm.group(1):
        table, subquery, tend = dm.group(1), None, dm.end()
    else:
        tend = _balanced(sql, data_at + dm.end() - 1) - data_at
        table, subquery = None, data[dm.end() : tend - 1].strip()
    pm = re.fullmatch(r"\s*(?:PARTITION\s+BY\s+(.+))?", data[tend:],
                      re.IGNORECASE | re.DOTALL)
    if pm is None:
        raise ValueError(f"unsupported TVF table argument {data!r}")
    timecol, time_at = args["TIMECOL"]
    tm = re.fullmatch(r"DESCRIPTOR\s*\(\s*(\w+)\s*\)", timecol, re.IGNORECASE)
    if tm is None:
        raise ValueError(f"expected DESCRIPTOR(col), got {timecol!r}")
    return WindowTVF(
        start=head.start(), end=close + outer.end(), fn=fn,
        table=table, subquery=subquery,
        keys=[k.strip() for k in (pm.group(1) or "").strip("() ").split(",") if k.strip()],
        ts=tm.group(1), table_span=(data_at, data_at + tend),
        time_span=(time_at, time_at + len(timecol)),
        **{p.lower(): _interval_str(args[p][0])
           for p in _TVF_PARAMS[fn] if p in args},
    )


# ---- the statement reader: the relations and the shape of a statement ----

_REL_NAME = r"(?!LATERAL\b)(?P<rel>`[^`]+`|[A-Za-z_]\w*)(?![\w.`]|\s*\()"
# the keyword, then any '(' that opens a parenthesized join, not a subquery
_REL_HEAD = re.compile(
    rf"\b(FROM|JOIN|TABLE)(?:\s*\((?!\s*(?:SELECT|WITH|VALUES)\b))*\s*(?<=[\s(]){_REL_NAME}",
    re.IGNORECASE,
)
_REL_NEXT = re.compile(rf"\s*,\s*{_REL_NAME}", re.IGNORECASE)
# the alias after a relation: a word that does not go on with the statement
_REL_ALIAS = re.compile(
    r"\s+(?:AS\s+)?(?!(?:WHERE|GROUP|HAVING|ORDER|LIMIT|WINDOW|UNION|EXCEPT|INTERSECT|"
    r"JOIN|INNER|LEFT|RIGHT|FULL|CROSS|NATURAL|ON|USING|LATERAL|FOR|MATCH_RECOGNIZE)\b)"
    r"(`[^`]+`|[A-Za-z_]\w*)", re.IGNORECASE,
)
_SHAPE = re.compile(
    r"(?P<distinct>\bSELECT\s+DISTINCT\b|\(\s*DISTINCT\b)|(?P<match_recognize>"
    r"\bMATCH_RECOGNIZE\b)|(?P<row_number>\bROW_NUMBER\s*\()|(?P<lateral_table>"
    r"\bLATERAL\s+TABLE\b)|(?P<over>\bOVER\s*\()|(?P<group_by>\bGROUP\s+BY\b)",
    re.IGNORECASE,
)
_GROUP_BY_END = re.compile(
    r"\b(?:HAVING|ORDER\s+BY|LIMIT|WINDOW|UNION|EXCEPT|INTERSECT)\b", re.IGNORECASE
)
_AGG_HEAD = re.compile(
    r"\b(?:COUNT|SUM|AVG|MIN|MAX|STDDEV(?:_POP|_SAMP)?|VAR_POP|VAR_SAMP|VARIANCE|"
    r"LISTAGG|COLLECT|FIRST_VALUE|LAST_VALUE|APPROX_COUNT_DISTINCT)\s*\(",
    re.IGNORECASE,
)


@dataclass
class Relation:
    """A table name at a relation position of a statement."""

    name: str  # without backticks
    start: int  # span of the name as written, backticks included
    end: int
    alias: str | None  # the alias that follows it
    kw: str  # FROM, JOIN or TABLE (a window TVF's argument)


@dataclass
class Statement:
    """A statement as :func:`read_statement` reads it."""

    relations: list[Relation]
    tvfs: list[WindowTVF]
    overs: list[list[str]] = field(default_factory=list)  # each OVER's PARTITION BY keys
    group_by: list[str] | None = None  # the keys of the first GROUP BY
    distinct: bool = False
    bare_aggregate: bool = False  # an aggregate call with no OVER
    match_recognize: bool = False
    row_number: bool = False
    lateral_table: bool = False


def _group_by_end(sql: str, start: int) -> int:
    """Where the GROUP BY list that starts at ``start`` ends: at the
    first HAVING, ORDER BY, LIMIT, WINDOW or set operator of its block,
    or at the ')' that closes the block."""
    depth, end = 0, len(sql)
    for i, c in _parens(sql, start):
        depth += 1 if c == "(" else -1
        if depth < 0:
            end = i
            break
    kw = _GROUP_BY_END.search(_top_level(sql[start:end]))
    return start + kw.start() if kw else end


def _clause_from(text: str, at: int) -> bool:
    """Whether the FROM at ``at`` opens a FROM clause: not the tail of
    ``IS [NOT] DISTINCT FROM``, and in no parentheses but a subquery's
    (``EXTRACT(YEAR FROM ts)``, ``TRIM(x FROM y)`` are calls)."""
    if re.search(r"\bDISTINCT\s*$", text[:at], re.IGNORECASE):
        return False
    opens: list[int] = []
    for i, c in _parens(text, 0, at):
        if c == "(":
            opens.append(i)
        elif opens:
            opens.pop()
    return not opens or re.match(r"\(\s*(?:SELECT|WITH)\b", text[opens[-1]:],
                                 re.IGNORECASE) is not None


def read_relations(sql: str) -> list[Relation]:
    """The table names at relation positions of ``sql``, at any depth:
    after FROM and JOIN, in a FROM list's commas, and a window TVF's
    ``TABLE t``. Names may be backticked; names in string literals,
    qualified names, function calls and a call's ``FROM`` argument are
    not relations."""
    text, rels = _unquoted_text(sql), []
    for m in _REL_HEAD.finditer(text):
        kw = m.group(1).upper()
        if kw == "FROM" and not _clause_from(text, m.start()):
            continue
        while m is not None:
            a = None if kw == "TABLE" else _REL_ALIAS.match(text, m.end())
            rels.append(Relation(m["rel"].strip("`"), m.start("rel"), m.end("rel"),
                                 a and a.group(1).strip("`"), kw))
            m = None if kw == "TABLE" else _REL_NEXT.match(text, (a or m).end())
    return rels


def bind_relations(sql: str, views: Mapping[str, str]) -> str:
    """``sql`` with every relation (:func:`read_relations`) named in
    ``views`` (any case) replaced by its view. A FROM or JOIN relation
    with no alias becomes ``<view> AS <name>``, so ``name.col`` resolves
    as in batch; a TVF's ``TABLE t`` and a relation followed by ``FOR
    SYSTEM_TIME`` or ``MATCH_RECOGNIZE`` take the bare view."""
    lower = {k.lower(): v for k, v in views.items()}
    out, last = [], 0
    for r in read_relations(sql):
        if (view := lower.get(r.name.lower())) is None:
            continue
        if not (r.alias or r.kw == "TABLE"
                or re.match(r"\s+(?:FOR|MATCH_RECOGNIZE)\b", sql[r.end:], re.IGNORECASE)):
            view += f" AS {sql[r.start:r.end]}"
        out += [sql[last:r.start], view]
        last = r.end
    return "".join(out) + sql[last:]


def read_statement(sql: str) -> Statement:
    """Read ``sql`` once: its relations, its window TVFs, the PARTITION
    BY keys of each OVER, the keys of its first GROUP BY, and whether it
    uses DISTINCT, an aggregate without OVER, MATCH_RECOGNIZE,
    ROW_NUMBER or LATERAL TABLE, at any depth and never inside a string
    literal. The one reader behind ``stream_query``'s routing and the
    streaming statement set's admission."""
    text, tvfs = _unquoted_text(sql), []
    while (t := parse_window_tvf(sql, tvfs[-1].end if tvfs else 0)) is not None:
        tvfs.append(t)
    st = Statement(read_relations(sql), tvfs)
    for m in _SHAPE.finditer(text):
        if m.lastgroup == "over":
            end = _balanced(text, m.end() - 1)
            part = re.search(r"PARTITION\s+BY\s+(.*?)(?:\bORDER\s+BY\b|$)",
                             sql[m.end():end - 1], re.IGNORECASE | re.DOTALL)
            st.overs.append(_split_top_commas(part[1]) if part else [])
        elif m.lastgroup == "group_by":
            if st.group_by is None:
                st.group_by = _split_top_commas(sql[m.end():_group_by_end(sql, m.end())])
        else:
            setattr(st, m.lastgroup, True)
    st.bare_aggregate = any(
        not re.match(r"\s*OVER\b", text[_balanced(text, m.end() - 1):], re.IGNORECASE)
        for m in _AGG_HEAD.finditer(text)
    )
    return st


def names_window(keys: Sequence[str]) -> bool:
    """Whether ``keys`` (GROUP BY or PARTITION BY entries) name both
    window_start and window_end."""
    return {"window_start", "window_end"} <= set(re.findall(r"\w+", " ".join(keys).lower()))


def rewrite_window_tvfs(
    spark: SparkSession,
    sql: str,
    resolver=None,
    keep_struct: bool = False,
    specs: list | None = None,
) -> str:
    """Replace every ``TABLE(TUMBLE|HOP|CUMULATE|SESSION(...))`` call
    (read by :func:`parse_window_tvf`) with a temp view holding the
    windowed relation.

    ``resolver`` maps a table name to its DataFrame (default
    ``spark.table``). TableEnvironment.stream_query passes a STREAMING
    resolver: the windowed view is then a streaming relation and the
    surrounding SQL stays a streaming plan (Spark SQL composes over
    streaming temp views; the unsupported-operation check runs at sink
    time, same as the reference's planner validation).

    ``specs`` (streaming callers): every rewritten TVF appends a dict
    {fn, ts, view, ...} so the caller can adapt its struct-regroup to
    the window kind. With ``keep_struct`` + ``specs``, SESSION
    registers the RAW streaming frame (gap + partition keys in the
    spec): per-row session assignment needs lag() windows — not
    streamable — so the merging state machine is engaged at the
    aggregation instead, via ``session_window`` grouping
    (SessionWindowAssigner.java:36 / merging windows)."""
    resolver = resolver or spark.table
    counter = 0
    while (tvf := parse_window_tvf(sql)) is not None:
        fn, ts = tvf.fn, tvf.ts
        if tvf.table is None:
            # TABLE (SELECT ...): stream_query compiles the subquery to
            # a view before it gets here, so this is the batch path
            # (clauses inside the subquery rewrite recursively)
            df = spark.sql(rewrite_flink_clauses(spark, tvf.subquery))
        else:
            df = resolver(tvf.table)
        # src + window parameters ride the spec so downstream lowerings
        # that regroup from the RAW stream (window Top-N) can re-window
        spec: dict = {"fn": fn, "ts": ts, "src": df}
        if fn == "TUMBLE":
            spec.update(size=tvf.size, offset=tvf.offset)
            out = windows.tumble(df, ts, tvf.size, tvf.offset, keep_struct=keep_struct)
        elif fn == "HOP":
            spec.update(size=tvf.size, slide=tvf.slide, offset=tvf.offset)
            out = windows.hop(
                df, ts, tvf.slide, tvf.size, tvf.offset, keep_struct=keep_struct
            )
        elif fn == "CUMULATE":
            spec.update(size=tvf.size, step=tvf.step)
            out = windows.cumulate(df, ts, tvf.step, tvf.size, keep_struct=keep_struct)
        elif keep_struct and specs is not None:
            # streaming SESSION: no per-row assignment — the caller
            # regroups onto session_window(ts, gap) (merging state machine)
            out = df
            spec.update(gap=tvf.gap, keys=tvf.keys)
        else:
            out = windows.session(df, ts, tvf.gap, *tvf.keys)
        view = f"__tvf_{fn.lower()}_{tvf.table or 'sub'}_{counter}"
        counter += 1
        out.createOrReplaceTempView(view)
        if specs is not None:
            spec["view"] = view
            specs.append(spec)
        sql = sql[: tvf.start] + view + sql[tvf.end :]
    return sql


# ---- Legacy group windows (GROUP BY TUMBLE/HOP/SESSION) -------------------

_GW_AUX = re.compile(
    r"\b(TUMBLE|HOP|SESSION)_(START|END|ROWTIME|PROCTIME)\s*\(", re.IGNORECASE
)
_GW_CALL = re.compile(r"\b(TUMBLE|HOP|SESSION)\s*\(", re.IGNORECASE)


def _statement_from_kw(sql: str) -> int | None:
    """Position of the statement-level ``FROM`` keyword — first
    ``FROM`` at paren depth 0 outside string literals that is not the
    middle of ``IS [NOT] DISTINCT FROM``. A bare ``\\bFROM\\b`` regex
    would hit ``EXTRACT(HOUR FROM ts)`` / ``SUBSTRING(s FROM 1)`` /
    ``TRIM(x FROM y)`` first (those are always parenthesized, so the
    depth-0 scan skips them); ``a IS DISTINCT FROM b`` sits at depth 0
    in a SELECT list, so the preceding-word check is still needed."""
    for m in re.finditer(r"(?<!\w)FROM\b", _top_level(sql), re.IGNORECASE):
        prev = re.search(r"(\w+)\s*$", sql[: m.start()])
        if prev is None or prev.group(1).upper() != "DISTINCT":
            return m.start()
    return None


def _statement_from(sql: str) -> tuple[int, int, str] | None:
    """The statement-level ``FROM <table>`` (see ``_statement_from_kw``)
    — returns the table token's (start, end, name)."""
    i = _statement_from_kw(sql)
    if i is None:
        return None
    m = re.match(r"FROM\s+(\w+)", sql[i:], re.IGNORECASE)
    if m is None:
        return None
    return i + m.start(1), i + m.end(1), m.group(1)


def rewrite_group_windows(sql: str, streaming: bool = False) -> str:
    """Rewrite the LEGACY group-window SQL syntax — ``GROUP BY
    TUMBLE(ts, INTERVAL '1' HOUR)`` / ``HOP(ts, slide, size)`` /
    ``SESSION(ts, gap)`` plus the auxiliary functions
    ``TUMBLE_START/END/ROWTIME`` (and HOP_*/SESSION_*) — into the
    window-TVF form, which the TVF rewrite then lowers:

        FROM t ... GROUP BY keys, TUMBLE(ts, size [, offset])
        → FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), size [, offset]))
          ... GROUP BY keys, window_start, window_end

    HOP keeps its (slide, size) order; SESSION partitions by the other
    grouping keys (``TABLE t PARTITION BY keys``), as its
    SessionWindowAssigner merges per key.

    Reference parity: the pre-FLIP-145 group-window functions
    (FlinkSqlOperatorTable.java TUMBLE/HOP/SESSION group functions,
    StreamExecGroupWindowAggregate.java:88; auxiliary start/end/rowtime
    functions resolved by GroupWindowAggregate's namedProperties —
    ``*_ROWTIME`` = window end − 1 ms, TimeWindow.maxTimestamp()).

    Scope (same single-relation shape as the temporal-join rewrite):
    one group window per GROUP BY (the reference's own restriction),
    a single named table/view in FROM, simple column refs as the other
    grouping keys of a SESSION. ``*_PROCTIME`` needs a processing-time
    attribute — nondeterministic by definition — and is rejected like
    PROCTIME(); ``streaming`` rejects ``*_ROWTIME``.
    """
    if not _GW_CALL.search(sql):
        return sql

    # locate the GROUP BY whose clause holds the window call — the
    # FIRST textual GROUP BY may belong to a windowless subquery; a
    # window call inside a subquery is rejected rather than rewritten
    # against the statement-level FROM (single-block scope)
    gbm = clause_end = entries = win = None
    for cand in re.finditer(r"\bGROUP\s+BY\b", sql, re.IGNORECASE):
        ce = _group_by_end(sql, cand.end())
        ents = _split_top_commas(sql[cand.end():ce])
        w = [
            k for k, e in enumerate(ents)
            if re.match(r"(TUMBLE|HOP|SESSION)\s*\(", e, re.IGNORECASE)
        ]
        if not w:
            continue
        if _depth_at(sql, cand.start()) > 0:
            raise ValueError(
                "legacy group window inside a subquery: the rewrite "
                "supports the single-block shape — restructure or "
                "compose via operators.windows"
            )
        gbm, clause_end, entries, win = cand, ce, ents, w
        break
    if gbm is None:
        return sql
    if len(win) > 1:
        raise ValueError("only one group window per GROUP BY (Flink restriction)")
    call = entries[win[0]]
    fn = re.match(r"\w+", call).group(0).upper()
    args = _split_top_commas(call[call.index("(") + 1 : _balanced(call, call.index("(")) - 1])
    ts_col = args[0].strip().split(".")[-1]
    keys = [e for k, e in enumerate(entries) if k != win[0]]
    part = ""
    if fn == "SESSION":
        key_cols = [k.split(".")[-1] for k in keys]
        if any(not re.fullmatch(r"\w+", k) for k in key_cols):
            raise ValueError("SESSION group window keys must be simple columns")
        if key_cols:
            part = " PARTITION BY " + ", ".join(key_cols)

    fm = _statement_from(sql)
    if fm is None:
        raise ValueError("legacy group window needs a single named FROM table")
    new_clause = ", ".join(keys + ["window_start", "window_end"])
    sql = sql[: gbm.end()] + " " + new_clause + " " + sql[clause_end:]
    # FROM precedes GROUP BY in the supported single-SELECT shape, so
    # its span is unchanged; substitute only the table token
    fs, fe, tbl = fm
    tvf = (f"TABLE({fn}(TABLE {tbl}{part}, DESCRIPTOR({ts_col}), "
           + ", ".join(a.strip() for a in args[1:]) + "))")
    sql = sql[:fs] + tvf + sql[fe:]
    # auxiliary functions anywhere in the statement (SELECT/HAVING)
    while True:
        am = _GW_AUX.search(sql)
        if am is None:
            return sql
        prop = am.group(2).upper()
        if prop == "PROCTIME":
            raise ValueError(
                f"{am.group(0).strip('(').strip()}: processing-time window "
                "properties are nondeterministic (PROCTIME class) — use the "
                "*_ROWTIME / *_START / *_END event-time properties"
            )
        if prop == "ROWTIME" and streaming:
            raise ValueError(
                "*_ROWTIME in streaming mode: cascade on the window TVF's "
                "window_time column instead (tvf_window_time_cascade shape)"
            )
        paren = sql.index("(", am.end() - 1)
        end = _balanced(sql, paren)
        # Flink's planner resolves a window property only against the
        # group window whose function name AND arguments it repeats
        # (GroupWindowAggregate namedProperties); an aux call naming a
        # different window fn / time column / interval is rejected
        # there — mirror that instead of silently substituting the
        # grouped window's bounds.
        aux_fn = am.group(1).upper()
        aux_args = _split_top_commas(sql[paren + 1 : end - 1])
        aux_ts = aux_args[0].strip().split(".")[-1] if aux_args else ""
        ok = aux_fn == fn and aux_ts == ts_col and len(aux_args) == len(args)
        if ok:
            try:
                ok = [_interval_str(a) for a in aux_args[1:]] == [
                    _interval_str(a) for a in args[1:]
                ]
            except Exception:
                ok = False
        if not ok:
            raise ValueError(
                f"{aux_fn}_{prop}({', '.join(a.strip() for a in aux_args)}): "
                f"window property arguments must repeat the GROUP BY window "
                f"spec {fn}({', '.join(a.strip() for a in args)}) exactly "
                "(Flink planner restriction)"
            )
        repl = {
            "START": "window_start",
            "END": "window_end",
            "ROWTIME": "(window_end - INTERVAL '0.001' SECOND)",
        }[prop]
        sql = sql[: am.start()] + repl + sql[end:]


# ---- MATCH_RECOGNIZE ------------------------------------------------------

_QUANT = re.compile(
    r"^(\w+)(\*\??|\+\??|\?\??|\{\s*(\d+)\s*(?:,\s*(\d*)\s*)?\}\??)?$"
)


def _parse_pattern(text: str) -> list[tuple]:
    """'A B+ (C|D) E{2,3}' → [('A',1,1,False), ('B',1,None,False),
    [('C',1,1,False),('D',1,1,False)], ('E',2,3,False)] — alternation
    groups nest one level (the NFA.java group scope). A trailing ``?``
    on a quantifier (``B+?`` ``B*?`` ``B??`` ``B{2,5}?``) marks it
    RELUCTANT (match_recognize.md quantifier table) and sets the
    4th tuple element."""
    items: list = []
    toks = re.findall(r"\([^)]*\)|\S+", text.strip())
    for tok in toks:
        if tok.startswith("("):
            branches = [b.strip() for b in tok[1:-1].split("|")]
            items.append([_parse_quant(b) for b in branches])
        else:
            items.append(_parse_quant(tok))
    return items


def _parse_quant(tok: str) -> tuple[str, int, int | None, bool]:
    m = _QUANT.match(tok)
    if m is None:
        raise ValueError(f"unsupported pattern token {tok!r}")
    var, q = m.group(1), m.group(2)
    if q is None:
        return (var, 1, 1, False)
    # a trailing '?' on any quantifier marks it reluctant; the bare '?'
    # quantifier itself is greedy ('??' is its reluctant form)
    reluctant = q != "?" and q.endswith("?")
    base = q[:-1] if reluctant else q
    if base == "*":
        return (var, 0, None, reluctant)
    if base == "+":
        return (var, 1, None, reluctant)
    if base == "?":
        return (var, 0, 1, reluctant)
    lo = int(m.group(3))
    hi = m.group(4)
    return (
        var,
        lo,
        lo if hi is None else (None if hi == "" else int(hi)),
        reluctant,
    )


_PREV_NEXT = re.compile(r"\b(PREV|NEXT)\s*\(\s*(\w+)\.(\w+)\s*(?:,\s*(\d+)\s*)?\)", re.IGNORECASE)
_MEASURE_FN = re.compile(r"^(FIRST|LAST|COUNT|SUM|AVG)\s*\(\s*(\w+)\.(\w+|\*)\s*\)$", re.IGNORECASE)
# aggregate over an EXPRESSION of one variable's columns in MEASURES —
# SUM(B.price * B.rate), MAX(A.vi) (MatchRecognizeITCase.scala:677-694;
# Flink requires all aggregation inputs to reference exactly one
# pattern variable — MatchCodeGenerator.scala aggregatesPerVariable)
_MEASURE_AGG_EXPR = re.compile(r"^(SUM|AVG|MIN|MAX|COUNT)\s*\((.+)\)$",
                               re.IGNORECASE | re.DOTALL)


def _agg_expr_measure(fn: str, var: str, code):
    """MEASURES aggregate over a per-row expression of ``var``'s matched
    rows: evaluate the compiled expression per row (NULL operands → the
    row contributes NULL, skipped per SQL aggregate semantics), then
    fold. Numeric results surface as DOUBLE (COUNT as BIGINT)."""
    def f(m):
        vals = []
        for r in (m.get(var) or []):
            try:
                v = eval(code, {"__builtins__": {}}, {"r": r})
            except TypeError:
                v = None  # NULL operand in the expression
            if v is not None and v == v:  # skip None and NaN (SQL NULL)
                vals.append(v)
        if fn == "COUNT":
            return len(vals)
        if not vals:
            return None
        if fn == "SUM":
            return float(sum(vals))
        if fn == "MIN":
            return float(min(vals))
        if fn == "MAX":
            return float(max(vals))
        return float(sum(vals)) / len(vals)  # AVG
    return f
_VAR_COL = re.compile(r"^(\w+)\.(\w+)$")
# cross-variable running aggregate inside DEFINE (MatchCodeGenerator.scala
# compiles these over the already-matched prefix): FIRST/LAST/SUM/AVG(V.col),
# COUNT(V.*) where V is NOT the variable being defined
_CROSSVAR = re.compile(
    r"\b(FIRST|LAST|COUNT|SUM|AVG)\s*\(\s*(\w+)\s*\.\s*(\*|\w+)\s*\)", re.IGNORECASE
)

_PY_KEYWORDS = {"AND": "and", "OR": "or", "NOT": "not", "TRUE": "True", "FALSE": "False", "NULL": "None"}


def _sql_bool_to_py(cond: str) -> str:
    """Translate a (restricted) SQL boolean expression to Python for
    per-row NFA evaluation — comparisons, arithmetic, AND/OR/NOT,
    literals, column refs (→ ``r['col']``), and ``__cv{i}`` cross-var
    placeholders. This is the interpretive stand-in for the codegen
    MatchCodeGenerator.scala performs on DEFINE clauses that reference
    other variables' matched rows (those can't hoist to Catalyst
    columns — they depend on NFA match state)."""
    def _ops_outside_literals(seg: str) -> str:
        # operator rewrites apply only OUTSIDE string literals — a
        # literal containing '=' or '<>' (col = 'a<>b') must survive
        # verbatim (ADVICE r3)
        seg = seg.replace("<>", "!=")
        return re.sub(r"(?<![<>!=])=(?!=)", "==", seg)

    out, pos = [], 0
    for m in re.finditer(r"'[^']*'|[A-Za-z_]\w*", cond):
        out.append(_ops_outside_literals(cond[pos : m.start()]))
        tok = m.group(0)
        if tok.startswith("'"):
            out.append('"' + tok[1:-1].replace("\\", "\\\\").replace('"', '\\"') + '"')
        elif tok.upper() in _PY_KEYWORDS:
            out.append(_PY_KEYWORDS[tok.upper()])
        elif re.fullmatch(r"__cv\d+", tok):
            out.append(tok)
        else:
            out.append(f"r[{tok!r}]")
        pos = m.end()
    out.append(_ops_outside_literals(cond[pos:]))
    return "".join(out)


def _notnull(x) -> bool:
    """SQL NULL test for match-state row values: rows that crossed a
    pandas boundary carry NaN for NULL, fresh dicts carry None — both
    must read as NULL for COUNT/SUM/AVG skip semantics."""
    return x is not None and x == x


def _crossvar_value(fn: str, m: dict, var: str, col: str | None, cand=None):
    """Aggregate over ``var``'s matched-so-far rows; ``cand`` (set for
    aggregates over the variable BEING defined) is the candidate row
    under test, included as if already mapped — the reference's RUNNING
    semantics for DEFINE aggregates (MatchCodeGenerator.scala:61-71:
    'the current row is included in the aggregate computation')."""
    rows = list(m.get(var) or [])
    if cand is not None:
        rows.append(cand)
    if fn == "COUNT":
        if col is None:
            return len(rows)
        return sum(1 for r in rows if _notnull(r[col]))
    if not rows:
        return None  # SQL NULL: aggregate over an unmatched variable
    if fn == "FIRST":
        return rows[0][col]
    if fn == "LAST":
        return rows[-1][col]
    vals = [r[col] for r in rows if _notnull(r[col])]
    if not vals:
        return None
    s = sum(vals)
    return s if fn == "SUM" else s / len(vals)  # SUM / AVG


def _crossvar_predicate(cond: str, cv_map: dict):
    """Build an ``(r, m) -> bool`` NFA predicate from a DEFINE with
    cross-variable aggregate refs. NULL comparisons (unmatched optional
    variable, null column) evaluate to false, the SQL three-valued
    collapse a WHERE applies."""
    py = _sql_bool_to_py(cond)
    try:
        code = compile(py, "<define>", "eval")
    except SyntaxError as e:
        raise ValueError(
            f"unsupported DEFINE expression {cond!r} (cross-variable DEFINEs "
            "support comparisons, arithmetic, AND/OR/NOT, literals, column "
            f"refs, and FIRST/LAST/SUM/AVG/COUNT(V.col)): {e}"
        ) from None

    # the expression's possible operands: referenced row columns (the
    # translator emits r['col']) and cross-var placeholder names
    ref_cols = re.findall(r"\br\['([^']*)'\]", py)

    def pred(r, m) -> bool:
        env = {"r": r}
        for name, (fn, var, col, self_agg) in cv_map.items():
            env[name] = _crossvar_value(
                fn, m, var, col, r if self_agg else None
            )
        try:
            return bool(eval(code, {"__builtins__": {}}, env))
        except TypeError:
            # SQL three-valued collapse: false only when a NULL operand
            # was actually involved — decided by inspecting the
            # expression's operand VALUES (cross-var aggregates and
            # referenced row columns), not the CPython message text
            # ("NoneType" in str(e) was brittle both ways — ADVICE r4.
            # Any TypeError with no NULL operand is a genuine DEFINE
            # bug and must surface.
            null_involved = any(
                env[n] is None
                for n in code.co_names
                if n != "r" and n in env
            ) or any(r[c] is None for c in ref_cols if c in r)
            if null_involved:
                return False
            raise

    return pred


def _clause_split(body: str) -> dict[str, str]:
    """Split the MATCH_RECOGNIZE body into its clauses by keyword."""
    keys = [
        ("PARTITION BY", "partition"),
        ("ORDER BY", "order"),
        ("MEASURES", "measures"),
        ("ONE ROW PER MATCH", "one_row"),
        ("ALL ROWS PER MATCH", "all_rows"),
        ("AFTER MATCH", "after"),
        ("PATTERN", "pattern"),
        ("WITHIN", "within"),
        ("DEFINE", "define"),
    ]
    positions = []
    for kw, name in keys:
        for m in re.finditer(re.escape(kw).replace(r"\ ", r"\s+"), body, re.IGNORECASE):
            positions.append((m.start(), m.end(), name))
    positions.sort()
    out: dict[str, str] = {}
    for idx, (s, e, name) in enumerate(positions):
        nxt = positions[idx + 1][0] if idx + 1 < len(positions) else len(body)
        out[name] = body[e:nxt].strip().rstrip(",").strip()
    return out


def lower_match_recognize(
    spark: SparkSession, table: str, body: str,
    resolver=None, streaming: bool = False,
) -> DataFrame:
    """Parse one MATCH_RECOGNIZE body and run it via the CEP engine.

    ``streaming=True`` (stream_query): the source resolves through
    ``resolver`` to a streaming frame and the NFA runs in the per-key
    stateful buffer (operators.cep.match_recognize_stream — the
    CepOperator lowering). Scope: DEFINEs referencing PREV/NEXT need
    lag/lead hoisting, which is not streamable in this lowering —
    rejected with a pointer (the batch path supports them)."""
    cl = _clause_split(body)
    if "all_rows" in cl:
        raise NotImplementedError(
            "ALL ROWS PER MATCH (Flink streaming rejects it too — "
            "StreamExecMatch checks OutputMode)"
        )
    if "pattern" not in cl or "define" not in cl:
        raise ValueError("MATCH_RECOGNIZE requires PATTERN and DEFINE")
    partition_by = [c.strip() for c in cl.get("partition", "").split(",") if c.strip()]
    order_by = [c.strip() for c in cl.get("order", "").split(",") if c.strip()]
    if not order_by:
        raise ValueError("MATCH_RECOGNIZE requires ORDER BY")

    # PATTERN ( ... ) — strip the mandatory parens
    pat_text = cl["pattern"].strip()
    if pat_text.startswith("("):
        pat_text = pat_text[1 : _balanced(pat_text, 0) - 1]
    items = _parse_pattern(pat_text)

    # DEFINE var AS cond, ...
    defines: dict[str, str] = {}
    for part in _split_top_commas(cl["define"]):
        dm = re.match(r"(\w+)\s+AS\s+(.+)$", part.strip(), re.IGNORECASE | re.DOTALL)
        if dm is None:
            raise ValueError(f"bad DEFINE entry {part!r}")
        defines[dm.group(1).upper()] = dm.group(2).strip()

    df = (resolver or spark.table)(table)
    in_cols = {f.name: f.dataType for f in df.schema.fields}

    # hoist every DEFINE to a JVM-evaluated boolean column
    from pyspark.sql import Window as W

    w = W.partitionBy(*(partition_by or [F.lit(1)])).orderBy(*order_by)

    all_vars: list[str] = []
    for it in items:
        for v, *_ in (it if isinstance(it, list) else [it]):
            all_vars.append(v.upper())

    def hoist(var: str, cond: str) -> tuple[str, dict, dict]:
        # PREV/NEXT → lag/lead helper columns; self-var prefix stripped;
        # cross-var FIRST/LAST/SUM/AVG/COUNT → __cv{i} placeholders fed
        # from NFA match state (MatchCodeGenerator.scala parity)
        helper_cols: dict[str, object] = {}
        cv_map: dict[str, tuple] = {}

        def sub_prevnext(m: re.Match) -> str:
            fn, v, col, off = m.group(1).upper(), m.group(2).upper(), m.group(3), m.group(4)
            off = int(off or 1)
            name = f"__pn_{fn.lower()}_{col}_{off}"
            # (column expr for the batch lag/lead hoist, spec for the
            # streaming in-buffer evaluation)
            helper_cols[name] = (
                F.lag(col, off).over(w) if fn == "PREV" else F.lead(col, off).over(w),
                fn, col, off,
            )
            return name

        def sub_crossvar(m: re.Match) -> str:
            fn, v, col = m.group(1).upper(), m.group(2).upper(), m.group(3)
            if col == "*" and fn != "COUNT":
                # only COUNT takes the V.* form — FIRST/LAST/SUM/AVG
                # need a column; rejecting here gives a clear parse
                # error instead of a KeyError inside the NFA evaluator
                raise ValueError(
                    f"{fn}({v}.*) inside DEFINE: only COUNT accepts "
                    "V.* — name a column"
                )
            # v == var: RUNNING aggregate over the variable being
            # defined — the candidate row joins the aggregate as if
            # already mapped (r12; MatchCodeGenerator.scala:61-71,121;
            # MatchRecognizeITCase.scala:677-694 running-sum pattern)
            name = f"__cv{len(cv_map)}"
            cv_map[name] = (fn, v, None if col == "*" else col, v == var)
            return name

        cond = _PREV_NEXT.sub(sub_prevnext, cond)
        cond = _CROSSVAR.sub(sub_crossvar, cond)
        # self (or any) variable prefix on a plain column ref → bare col;
        # cross-var refs without an aggregate wrapper are row-local
        for v in all_vars:
            cond = re.sub(rf"\b{v}\.(\w+)", r"\1", cond, flags=re.IGNORECASE)
        return cond, helper_cols, cv_map

    mask_cols: dict[str, tuple[str, dict, dict]] = {}
    for var in all_vars:
        cond = defines.get(var, "TRUE")  # undefined var matches any row (Calcite)
        mask_cols[var] = hoist(var, cond)

    # streaming PREV/NEXT: the lag/lead hoist is a window function (not
    # streamable), but the NFA already buffers each key's rows in order
    # — PREV/NEXT is an index offset there. Collect the helper specs
    # and let match_recognize_stream materialize them per buffered row
    # (IterativeConditionRunner.java:31 evaluating DEFINEs against the
    # SharedBuffer); the affected DEFINEs then run as per-row Python
    # predicates like cross-var conditions.
    stream_pn: list[tuple[str, str, str, int]] = []
    if streaming:
        seen_pn: set[str] = set()
        for var, (cond, helpers, _cv) in mask_cols.items():
            for name, (_colexpr, fn, col, off) in helpers.items():
                if name not in seen_pn:
                    stream_pn.append((name, fn, col, off))
                    seen_pn.add(name)
    prepared = df
    added_helpers: set[str] = set()
    if not streaming:
        for var, (cond, helpers, _cv) in mask_cols.items():
            for name, (colexpr, *_spec) in helpers.items():
                if name not in added_helpers:
                    prepared = prepared.withColumn(name, colexpr)
                    added_helpers.add(name)
    for var, (cond, helpers, cv) in mask_cols.items():
        if not cv and not (streaming and helpers):
            # cross-var / streaming-PREV DEFINEs evaluate in the NFA,
            # not as a column
            prepared = prepared.withColumn(f"__def_{var}", F.expr(cond))

    def mk_step(
        v: str, mn: int, mx: int | None, reluctant: bool = False
    ) -> cep.Step:
        vu = v.upper()
        cond, _h, cv = mask_cols[vu]
        if cv or (streaming and _h):
            # match-state-dependent (or in-buffer PREV/NEXT) predicate:
            # no vec, so the NFA kernel calls it per row; the pattern's
            # other steps still answer from their __def_ masks
            return cep.Step(
                vu, _crossvar_predicate(cond, cv), mn, mx, reluctant=reluctant
            )
        return cep.Step(
            vu,
            (lambda key: lambda r, m: bool(r[key]))(f"__def_{vu}"),
            mn,
            mx,
            vec=(lambda key: lambda pdf: pdf[key].fillna(False).to_numpy(dtype=bool))(
                f"__def_{vu}"
            ),
            reluctant=reluctant,
        )

    steps: list[cep.Step] = []
    for it in items:
        if isinstance(it, list):
            steps.append(cep.Step.alternation(*(mk_step(*b) for b in it)))
        else:
            steps.append(mk_step(*it))

    # MEASURES
    measures: dict[str, Callable] = {}
    fields: list[StructField] = [
        StructField(k, in_cols[k]) for k in partition_by
    ]
    for part in _split_top_commas(cl.get("measures", "")):
        if not part:
            continue
        mm = re.match(r"(.+?)\s+AS\s+(\w+)\s*$", part.strip(), re.IGNORECASE | re.DOTALL)
        if mm is None:
            raise ValueError(f"bad MEASURES entry {part!r}")
        expr_txt, out_name = mm.group(1).strip(), mm.group(2)
        # FINAL/RUNNING semantics coincide under ONE ROW PER MATCH (the
        # only supported mode — Calcite SqlMatchRecognize FINAL default)
        expr_txt = re.sub(r"^(FINAL|RUNNING)\s+", "", expr_txt, flags=re.IGNORECASE)
        if re.fullmatch(r"CLASSIFIER\s*\(\s*\)", expr_txt, re.IGNORECASE):
            # ONE ROW PER MATCH: CLASSIFIER() is the variable the LAST
            # matched row mapped to (ISO 9075-2 §9.7). Patterns here are
            # sequential, so that is the last pattern position holding
            # any rows; for a trailing alternation, the branch that
            # matched. Beyond reference parity — Flink 1.16 lists
            # CLASSIFIER as not yet supported
            # (docs/content/docs/dev/table/sql/queries/match_recognize.md:1123).
            pattern_var_order: list[str] = []
            for it in items:
                if isinstance(it, list):
                    pattern_var_order.extend(b[0].upper() for b in it)
                else:
                    pattern_var_order.append(it[0].upper())
            measures[out_name] = (
                lambda vs: lambda m: next((v for v in reversed(vs) if m.get(v)), None)
            )(pattern_var_order)
            fields.append(StructField(out_name, StringType()))
            continue
        fm = _MEASURE_FN.match(expr_txt)
        if fm:
            fn, var, col = fm.group(1).upper(), fm.group(2).upper(), fm.group(3)
            if col == "*" and fn != "COUNT":
                raise ValueError(
                    f"{fn}({var}.*) in MEASURES: only COUNT accepts "
                    "V.* — name a column"
                )
            if fn == "FIRST":
                measures[out_name] = (lambda v, c: lambda m: cep.first(m, v, c))(var, col)
                fields.append(StructField(out_name, in_cols[col]))
            elif fn == "LAST":
                measures[out_name] = (lambda v, c: lambda m: cep.last(m, v, c))(var, col)
                fields.append(StructField(out_name, in_cols[col]))
            elif fn == "COUNT":
                if col == "*":
                    measures[out_name] = (
                        lambda v: lambda m: cep.count_of(m, v)
                    )(var)
                else:
                    # SQL COUNT(col) skips NULLs (COUNT(*) counts rows)
                    measures[out_name] = (lambda v, c: lambda m: sum(
                        1 for r in (m.get(v) or []) if _notnull(r[c])
                    ))(var, col)
                fields.append(StructField(out_name, LongType()))
            elif fn == "SUM":
                measures[out_name] = (lambda v, c: lambda m: cep.sum_of(m, v, c))(var, col)
                fields.append(StructField(out_name, DoubleType()))
            else:  # AVG
                measures[out_name] = (
                    lambda v, c: lambda m: (
                        cep.sum_of(m, v, c) / cep.count_of(m, v) if cep.count_of(m, v) else None
                    )
                )(var, col)
                fields.append(StructField(out_name, DoubleType()))
            continue
        vm = _VAR_COL.match(expr_txt)
        if vm and vm.group(1).upper() in all_vars:
            var, col = vm.group(1).upper(), vm.group(2)
            # bare V.col ≡ LAST(V.col) (Calcite MATCH_RECOGNIZE semantics)
            measures[out_name] = (lambda v, c: lambda m: cep.last(m, v, c))(var, col)
            fields.append(StructField(out_name, in_cols[col]))
            continue
        am = _MEASURE_AGG_EXPR.match(expr_txt)
        if am:
            # SUM(B.price * B.rate) / MIN / MAX / AVG / COUNT over an
            # expression of ONE variable's columns (r12; the
            # MatchRecognizeITCase.scala:677-694 measure surface).
            # Flink's rule applies: every aggregation references
            # exactly one pattern variable.
            fn = am.group(1).upper()
            inner = am.group(2).strip()
            depth = 0
            for ch in inner:
                depth += ch == "("
                depth -= ch == ")"
                if depth < 0:
                    break
            var_refs = {
                v.upper()
                for v, _c in re.findall(r"\b(\w+)\.(\w+)", inner)
                if v.upper() in all_vars
            }
            if depth == 0 and len(var_refs) == 1:
                var = next(iter(var_refs))
                bare = re.sub(rf"\b{var}\.(\w+)", r"\1", inner,
                              flags=re.IGNORECASE)
                try:
                    code = compile(_sql_bool_to_py(bare), "<measure>", "eval")
                except SyntaxError:
                    raise ValueError(
                        f"unsupported MEASURES expression {expr_txt!r}"
                    ) from None
                measures[out_name] = _agg_expr_measure(fn, var, code)
                fields.append(StructField(
                    out_name, LongType() if fn == "COUNT" else DoubleType()
                ))
                continue
            if len(var_refs) > 1:
                raise ValueError(
                    f"MEASURES aggregate {expr_txt!r} references "
                    f"{sorted(var_refs)} — Flink requires all aggregation "
                    "inputs to reference exactly ONE pattern variable"
                )
        raise ValueError(f"unsupported MEASURES expression {expr_txt!r}")

    # AFTER MATCH SKIP ...
    after_txt = re.sub(r"^SKIP\s+", "", cl.get("after", "SKIP PAST LAST ROW"), flags=re.IGNORECASE)
    after_txt = after_txt.strip().upper()
    if after_txt in ("PAST LAST ROW", ""):
        after = "past_last_row"
    elif after_txt == "TO NEXT ROW":
        after = "to_next_row"
    elif after_txt.startswith("TO FIRST"):
        after = "skip_to_first_" + after_txt.split()[-1]
    elif after_txt.startswith("TO LAST"):
        after = "skip_to_last_" + after_txt.split()[-1]
    else:
        raise ValueError(f"unsupported AFTER MATCH SKIP {after_txt!r}")

    within = None
    if "within" in cl:
        within = (order_by[0], _interval_str(cl["within"]))

    if streaming:
        return cep.match_recognize_stream(
            prepared,
            partition_by,
            order_by[0],
            steps,
            measures,
            StructType(fields),
            after_match=after,
            within=within[1] if within else None,
            secondary_order=order_by[1] if len(order_by) > 1 else None,
            prev_next=stream_pn or None,
        )
    return cep.match_recognize(
        prepared,
        partition_by,
        order_by if len(order_by) > 1 else order_by[0],
        steps,
        measures,
        StructType(fields),
        after_match=after,
        within=within,
    )


def rewrite_match_recognize(
    spark: SparkSession, sql: str, resolver=None, streaming: bool = False
) -> str:
    """Replace every ``<table> MATCH_RECOGNIZE (...) [AS alias]`` with a
    temp view of the lowered result (streaming: the stateful NFA)."""
    counter = 0
    while True:
        m = _MR_HEAD.search(sql)
        if m is None:
            return sql
        table = m.group(1)
        open_idx = sql.index("(", m.end() - 1)
        end = _balanced(sql, open_idx)
        body = sql[open_idx + 1 : end - 1]
        out = lower_match_recognize(
            spark, table, body, resolver=resolver, streaming=streaming
        )
        view = f"__mr_{table}_{counter}"
        counter += 1
        out.createOrReplaceTempView(view)
        tail = sql[end:]
        am = re.match(r"\s+AS\s+(\w+)", tail, re.IGNORECASE)
        if am:
            tail = f" AS {am.group(1)}" + tail[am.end():]
        sql = sql[: m.start()] + view + tail


_LOOKUP_MARK = re.compile(
    r"(?P<join>(?:\bJOIN\s+|,\s*)(?P<dim>\w+)(?:\s+(?:AS\s+)?(?!FOR\b)\w+)?)"
    r"\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<asof>[\w.]+)",
    re.IGNORECASE,
)


def rewrite_lookup_join(sql: str, proctime_attrs: set[str]) -> tuple[str, set[str]]:
    """Processing-time temporal join = LOOKUP join (joins.md "Lookup
    Join"; LookupJoinUtil.java, StreamExecLookupJoin.java): ``JOIN d
    FOR SYSTEM_TIME AS OF probe.<proctime attr>`` joins each probe row
    against the CURRENT version of the build side. In a micro-batch
    lowering the current version is the dim snapshot the batch reads,
    so the clause reduces to a plain equi-join — the AS OF marker is
    dropped and Catalyst plans the join (broadcast for dim-sized
    tables, the same shape operators/lookup.py produces). Returns the
    rewritten text and the dim tables whose marker was dropped."""
    dims: set[str] = set()

    def _one(m: re.Match) -> str:
        if m.group("asof").split(".")[-1] not in proctime_attrs:
            return m.group(0)
        dims.add(m.group("dim"))
        return m.group("join") + " "

    return _LOOKUP_MARK.sub(_one, sql), dims


def rewrite_flink_clauses(
    spark: SparkSession, sql: str, time_attrs: dict[str, str] | None = None,
    temporal_fns: dict | None = None, proctime_attrs: set[str] | None = None,
) -> str:
    if re.search(r"MATCH_RECOGNIZE", sql, re.IGNORECASE):
        sql = rewrite_match_recognize(spark, sql)
    sql = rewrite_group_windows(sql)
    if _TVF_HEAD.search(sql):
        sql = rewrite_window_tvfs(spark, sql)
    sql, _dims = rewrite_lookup_join(sql, proctime_attrs or set())
    spec = parse_temporal_join(
        sql, lambda name: spark.table(name).columns, temporal_fns or {}
    )
    if spec is not None:
        sql = plan_batch_temporal_join(spark, spec, time_attrs or {}, temporal_fns or {})
    if re.search(r"LATERAL\s+TABLE", sql, re.IGNORECASE):
        sql = rewrite_lateral_table(sql)
    return sql


# ---- temporal joins: FOR SYSTEM_TIME AS OF and LATERAL TABLE(fn(ts)) ------

_TEMPORAL_MARK = re.compile(
    r"\bFOR\s+SYSTEM_TIME\s+AS\s+OF\b|\bLATERAL\s+TABLE\s*\(\s*(?P<fn>\w+)\s*\(",
    re.IGNORECASE,
)
_FOR_SYSTEM_TIME_FROM = re.compile(
    r"FROM\s+(?P<probe>\w+)(?:\s+(?:AS\s+)?(?!(?:LEFT|INNER|JOIN)\b)(?P<pa>\w+))?"
    r"\s+(?:(?P<how>LEFT|INNER)\s+)?JOIN\s+(?P<version>\w+)"
    r"\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<asof>\w+(?:\.\w+)?)"
    r"(?:\s+(?:AS\s+)?(?!ON\b)(?P<va>\w+))?\s+ON\s+(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_LATERAL_FN_FROM = re.compile(
    r"FROM\s+(?P<probe>\w+)(?:\s+(?:AS\s+)?(?P<pa>\w+))?\s*,\s*"
    r"LATERAL\s+TABLE\s*\(\s*(?P<version>\w+)\s*\(\s*(?P<asof>\w+(?:\.\w+)?)\s*\)\s*\)"
    r"(?:\s+(?:AS\s+)?(?!(?:WHERE|GROUP|HAVING|ORDER|LIMIT)\b)(?P<va>\w+))?"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CLAUSE_KW = re.compile(r"\b(?:WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b", re.IGNORECASE)
_COLUMN_REF = re.compile(r"(?<![\w.])[A-Za-z_]\w*(?:\.\w+)?\b(?!\s*\()")
_KEY_EQ = re.compile(r"([\w.]+)\s*=\s*([\w.]+)")


@dataclass
class TemporalJoin:
    """One temporal-join statement as :func:`parse_temporal_join` reads
    it. ``asof``, ``keys`` and the WHERE lists are qualifier-free;
    ``select`` and ``tail`` are the statement's own text."""

    probe: str
    probe_alias: str
    version: str  # version table, or the temporal table function
    version_alias: str
    lateral: bool  # written as LATERAL TABLE (fn(ts))
    asof: str
    how: str  # "inner" | "left"
    select: str
    tail: str  # "" or the GROUP BY / HAVING / ORDER BY / LIMIT text
    probe_cols: frozenset[str]
    version_cols: frozenset[str]
    keys: list[tuple[str, str]] = field(default_factory=list)  # (probe, version)
    probe_where: list[str] = field(default_factory=list)
    version_where: list[str] = field(default_factory=list)
    mixed_where: list[str] = field(default_factory=list)

    def side(self, ref: str) -> str | None:
        """``"probe"`` or ``"version"`` for a column reference — by its
        qualifier, else by which side has the column; None if neither."""
        head, dot, _rest = ref.partition(".")
        h = head.lower()
        if dot and h in (self.probe.lower(), self.probe_alias.lower()):
            return "probe"
        if dot and h in (self.version.lower(), self.version_alias.lower()):
            return "version"
        in_p, in_v = h in self.probe_cols, h in self.version_cols
        if in_p and in_v:
            raise ValueError(
                f"temporal join: column {ref!r} is ambiguous (in both "
                f"{self.probe!r} and {self.version!r}) — qualify it"
            )
        return "probe" if in_p else "version" if in_v else None

    def bare(self, text: str) -> str:
        """``text`` with both sides' qualifiers stripped outside string
        literals."""
        names = {self.probe, self.probe_alias, self.version, self.version_alias}
        qual = re.compile(
            rf"(?<![\w.])(?:{'|'.join(map(re.escape, names))})\.(?=\w)", re.IGNORECASE
        )
        parts = _LITERAL_SPLIT.split(text)
        return "".join(p if i % 2 else qual.sub("", p) for i, p in enumerate(parts))

    def _key(self, part: str) -> tuple[str, str] | None:
        m = _KEY_EQ.fullmatch(part)
        if m is None:
            return None
        a, b = m.groups()
        sides = (self.side(a), self.side(b))
        if sides == ("version", "probe"):
            a, b = b, a
        elif sides != ("probe", "version"):
            return None
        return a.split(".")[-1], b.split(".")[-1]


def parse_temporal_join(
    sql: str,
    columns: Callable[[str], Sequence[str]],
    temporal_fns: Mapping[str, tuple],
) -> TemporalJoin | None:
    """Parse an event-time temporal join — the one reader of both Flink
    spellings (LogicalCorrelateToJoinFromTemporalTableFunctionRule turns
    the second into the first):

        SELECT <items> FROM <probe> [[AS] p]
          [LEFT | INNER] JOIN <version> FOR SYSTEM_TIME AS OF p.<time> [[AS] v]
          ON p.<k> = v.<k> [AND ...] [WHERE ...] [<tail>] [;]

        SELECT <items> FROM <probe> [[AS] p],
          LATERAL TABLE (<fn>(p.<time>)) [[AS] v]
          WHERE v.<k> = p.<k> [AND ...] [<tail>] [;]

    ``<tail>`` is GROUP BY / HAVING / ORDER BY / LIMIT text. ``<fn>`` is
    a registered temporal table function (``temporal_fns[fn] =
    (history_df, time_attr, primary_key[, token])``); its WHERE
    conjuncts equating a probe column with a version column are the
    keys. ON conjuncts must all be such equalities, in either order.
    Other WHERE conjuncts are sorted into probe / version / mixed by the
    columns they name. A column belongs to the side its qualifier
    (alias or table name) names, else to the side that has it
    (``columns(table)``); a bare name both sides have raises. Conjuncts
    split on AND outside literals and parentheses; qualifiers are
    stripped outside string literals only. Returns None when the
    statement holds neither form (LATERAL TABLE over any other function
    is a UDTF lateral); raises ValueError for any other shape.

    Supported per mode:

    - batch (:func:`plan_batch_temporal_join`) runs
      ``operators.joins.asof_join`` — INNER or LEFT (LATERAL: INNER),
      any number of keys, the version table's DDL WATERMARK column as
      its time attribute — and keeps the rest as SQL text over the
      joined view: SELECT expressions, every WHERE conjunct, the tail.
    - streaming (:func:`plan_streaming_temporal_join`) runs
      ``streaming.stateful.streaming_asof_join``: the AS OF column (the
      function argument) must be the probe's WATERMARK attribute, the
      version table must declare a WATERMARK, one key equality, plain
      ``[q.]col [AS alias]`` SELECT items whose version names do not
      collide with probe columns, WHERE over probe columns only (pushed
      below the join), no tail."""
    s = re.sub(r"[\s;]+$", "", sql.strip())
    mark = _TEMPORAL_MARK.search(_unquoted_text(s))
    if mark is None or (mark["fn"] and mark["fn"] not in temporal_fns):
        return None
    lateral = mark["fn"] is not None
    msel = re.match(r"SELECT\s+", s, re.IGNORECASE)
    fk = _statement_from_kw(s)
    pattern = _LATERAL_FN_FROM if lateral else _FOR_SYSTEM_TIME_FROM
    fm = pattern.match(s, fk) if msel and fk is not None else None
    rest = fm["rest"] if fm else ""
    top = _top_level(rest)
    kw = _CLAUSE_KW.search(top)
    head = rest[: kw.start()] if kw else rest
    if (
        fm is None
        or (lateral and head.strip())
        or re.search(r"\b(?:JOIN|UNION|INTERSECT|EXCEPT)\b", top, re.IGNORECASE)
    ):
        raise ValueError(
            "temporal join: supported shapes are SELECT ... FROM <probe> "
            "[AS p] [LEFT|INNER] JOIN <version> FOR SYSTEM_TIME AS OF "
            "p.<time> [AS v] ON p.<k> = v.<k> [WHERE ...] and SELECT ... "
            "FROM <probe> [AS p], LATERAL TABLE (<fn>(p.<time>)) [AS v] "
            "WHERE v.<k> = p.<k> [AND ...] — one temporal join per statement"
        )
    where = tail = ""
    if kw and kw.group().upper() == "WHERE":
        nxt = _CLAUSE_KW.search(top, kw.end())
        where = rest[kw.end() : nxt.start() if nxt else len(rest)]
        tail = rest[nxt.start() :] if nxt else ""
    elif kw:
        tail = rest[kw.start() :]
    version = fm["version"]
    version_cols = temporal_fns[version][0].columns if lateral else columns(version)
    spec = TemporalJoin(
        probe=fm["probe"],
        probe_alias=fm["pa"] or fm["probe"],
        version=version,
        version_alias=fm["va"] or version,
        lateral=lateral,
        asof=fm["asof"],
        how="left" if (fm.groupdict().get("how") or "").upper() == "LEFT" else "inner",
        select=s[msel.end() : fk].strip(),
        tail=tail.strip(),
        probe_cols=frozenset(c.lower() for c in columns(fm["probe"])),
        version_cols=frozenset(c.lower() for c in version_cols),
    )
    if spec.side(spec.asof) != "probe":
        raise ValueError(
            "temporal join: AS OF must name the probe table's event-time "
            f"attribute (got {spec.asof!r})"
        )
    spec.asof = spec.asof.split(".")[-1]
    for part in [] if lateral else _split_unquoted_and(head):
        key = spec._key(part)
        if key is None:
            raise ValueError(
                f"unsupported temporal-join condition {part!r} — ON takes "
                "AND-ed equalities of a probe column and a version column"
            )
        spec.keys.append(key)
    for part in _split_unquoted_and(where):
        key = spec._key(part) if lateral else None
        if key is not None:
            spec.keys.append(key)
            continue
        sides = {
            sd
            for p in _LITERAL_SPLIT.split(part)[::2]
            for m in _COLUMN_REF.finditer(p)
            if (sd := spec.side(m.group())) is not None
        }
        bucket = (
            spec.mixed_where if len(sides) > 1
            else spec.version_where if sides == {"version"}
            else spec.probe_where
        )
        bucket.append(spec.bare(part))
    if not spec.keys:
        raise ValueError(
            "temporal join: needs a key equality of a probe column and a "
            "version column (ON p.k = v.k; LATERAL TABLE: WHERE v.k = p.k)"
        )
    return spec


def plan_batch_temporal_join(
    spark: SparkSession,
    spec: TemporalJoin,
    time_attrs: Mapping[str, str],
    temporal_fns: Mapping[str, tuple],
) -> str:
    """Batch plan of a parsed temporal join: ``asof_join`` the two sides
    into a temp view and return the statement's SELECT, WHERE and tail
    as SQL text over it, qualifiers stripped (keys keep the probe's
    names). ``time_attrs[version]`` is the version table's time
    attribute."""
    from flink_1_16_0_src_spark.operators.joins import asof_join

    if spec.lateral:
        right_df, right_time = temporal_fns[spec.version][:2]
    elif spec.version in time_attrs:
        right_df, right_time = spark.table(spec.version), time_attrs[spec.version]
    else:
        raise ValueError(
            f"temporal join target {spec.version!r} has no declared time "
            "attribute (WATERMARK column) — pass time_attrs"
        )
    on: list[str] = []
    for pkey, vkey in spec.keys:
        if vkey != pkey:
            right_df = right_df.withColumnRenamed(vkey, pkey)
        on.append(pkey)
    joined = asof_join(
        spark.table(spec.probe), right_df, on, spec.asof, right_time, how=spec.how
    )
    view = f"__tj_{spec.probe}_{spec.version}"
    joined.createOrReplaceTempView(view)
    where = spec.probe_where + spec.version_where + spec.mixed_where
    return (
        f"SELECT {spec.bare(spec.select)} FROM {view}"
        + (f" WHERE {' AND '.join(where)}" if where else "")
        + (f" {spec.bare(spec.tail)}" if spec.tail else "")
    )


# materialized temporal-function histories, one parquet dir per (fn
# name, registration token). The token is stamped by
# create_temporal_table_function; id(history_df) is not safe — a
# re-registration can free the old frame and a new one reuse its id(),
# resurrecting a stale history (wrong as-of results).
_TTF_REGISTRATION_COUNTER = itertools.count()
_TTF_HISTORY_CACHE: dict[tuple, str] = {}


def plan_streaming_temporal_join(
    spec: TemporalJoin,
    resolve: Callable[[str], tuple[DataFrame, tuple[str, str] | None]],
    temporal_fns: Mapping[str, tuple],
    spark: SparkSession,
) -> DataFrame:
    """Streaming plan of a parsed temporal join onto the as-of state
    machine (StreamExecTemporalJoin.java:77; TemporalRowTimeJoinOperator
    keeps each key's versions in state and binds a probe row to the
    latest one at or before its rowtime), with the reference planner's
    restrictions (TemporalJoinRewriteWithUniqueKeyRule.scala).
    ``resolve(name)`` gives a DDL table's (streaming frame, declared
    watermark). A temporal function's history streams as a one-shot
    parquet file stream, written once per registration."""
    from flink_1_16_0_src_spark.streaming.stateful import streaming_asof_join

    what = "streaming LATERAL TABLE" if spec.lateral else "streaming temporal join"
    probe_sdf, probe_wm = resolve(spec.probe)
    if probe_wm is None:
        raise ValueError(
            f"{what}: probe table {spec.probe!r} declares no WATERMARK — the "
            "AS OF column must be its event-time attribute"
        )
    if spec.asof != probe_wm[0]:
        raise ValueError(
            f"{what}: AS OF must reference the probe table's event-time "
            f"attribute {probe_wm[0]!r} (got {spec.asof!r})"
        )
    if len(spec.keys) != 1:
        raise ValueError(f"{what}: exactly one key equality is supported")
    if spec.version_where or spec.mixed_where:
        raise ValueError(
            f"{what}: WHERE may reference probe columns only (version-side "
            "filters change which rows are VERSIONS — filter the version "
            "table's source instead)"
        )
    if spec.tail:
        raise ValueError(f"{what}: only an optional WHERE may follow the join")
    if spec.lateral:
        entry = temporal_fns[spec.version]
        history, ver_ts = entry[:2]
        ckey = (spec.version, entry[3] if len(entry) > 3 else id(history))
        vdir = _TTF_HISTORY_CACHE.get(ckey)
        if vdir is None or not os.path.isdir(vdir):
            vdir = os.path.join(tempfile.mkdtemp(prefix="ttf_stream_"), "versions")
            history.write.mode("overwrite").parquet(vdir)
            _TTF_HISTORY_CACHE[ckey] = vdir
        ver_sdf = spark.readStream.schema(history.schema).parquet(vdir)
    else:
        ver_sdf, ver_wm = resolve(spec.version)
        if ver_wm is None:
            raise ValueError(
                f"{what}: version table {spec.version!r} declares no "
                "WATERMARK — versions are ordered by its event-time attribute"
            )
        ver_ts = ver_wm[0]
    items: list[tuple[str, str, str]] = []  # (side, source col, output name)
    for item in _split_top_commas(spec.select):
        plain = _plain_item(item)
        if plain is None:
            raise ValueError(
                f"{what}: unsupported SELECT item {item!r} — items must be "
                "plain columns (optionally AS-aliased)"
            )
        ref, col, alias = plain
        items.append((spec.side(ref) or "probe", col, alias))
    if spec.probe_where:  # Calc under the join
        probe_sdf = probe_sdf.where(F.expr(" AND ".join(spec.probe_where)))
    ver_items = [(c, a) for sd, c, a in items if sd == "version"]
    collide = [a for _c, a in ver_items if a in probe_sdf.columns]
    if collide:
        raise ValueError(
            f"{what}: version column(s) {collide} collide with probe column "
            "names — alias them (AS ...)"
        )
    # the version key rides under the probe key's name, the version
    # timestamp as the __vts marker (null = no version: INNER drops)
    pkey, vkey = spec.keys[0]
    ver_sel = [F.col(vkey).alias(pkey), F.col(ver_ts).alias("__vts")]
    ver_sel += [F.col(c).alias(a) for c, a in ver_items]
    out = streaming_asof_join(
        probe_sdf, ver_sdf.select(*ver_sel), pkey, spec.asof, "__vts",
        [a for _c, a in ver_items] + ["__vts"],
    )
    if spec.how == "inner":
        out = out.where(F.col("__vts").isNotNull())
    return out.select(
        *[(F.col(a) if sd == "version" else F.col(c).alias(a)) for sd, c, a in items]
    )


# ---- LATERAL TABLE(udtf(...)) ---------------------------------------------

_LATERAL_TABLE = re.compile(
    r"LATERAL\s+TABLE\s*\(\s*(\w+\s*\([^)]*\))\s*\)", re.IGNORECASE
)


def rewrite_lateral_table(sql: str) -> str:
    """Flink's UDTF correlate syntax ``[LEFT JOIN | ,] LATERAL
    TABLE(f(args)) [AS T(c1,…)] [ON TRUE]`` (SqlBasicCall over the
    Calcite LATERAL operator; planner Correlate /
    StreamExecCorrelate.java:53) → Spark's native lateral table-function
    join, which is the same text minus the ``TABLE(`` wrapper. Join
    type, alias list, and ON TRUE all pass through — Spark accepts
    them directly for Python UDTFs registered via
    ``functions.udf.register``."""
    return _LATERAL_TABLE.sub(r"LATERAL \1", sql)


# FROM <table> [[AS] alias] <tail> of the single-table streaming lowerings
_FROM_ONE_TABLE = re.compile(
    r"FROM\s+(\w+)(?:\s+(?:AS\s+)?(?!(?:WHERE|GROUP|HAVING|ORDER|LIMIT|UNION|JOIN)\b)"
    r"(\w+))?\s*(.*)$", re.IGNORECASE | re.DOTALL,
)
_OVER_AGG_HEAD = re.compile(
    r"^(?P<fn>COUNT|SUM|AVG|MIN|MAX|LAG|LEAD|FIRST_VALUE|LAST_VALUE)"
    r"\s*\(\s*(?P<arg>\*|[\w.]+)\s*(?:,\s*(?P<off>\d+)\s*)?\)\s+OVER\s*\(",
    re.IGNORECASE,
)
_OVER_SPEC = re.compile(
    r"^\s*PARTITION\s+BY\s+(?P<keys>[\w.]+(?:\s*,\s*[\w.]+)*)\s+"
    r"ORDER\s+BY\s+(?P<ord>[\w.]+)(?:\s+(?P<dir>ASC|DESC))?\s*(?P<frame>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_FRAME_ROWS = re.compile(
    r"^ROWS\s+BETWEEN\s+(\d+)\s+PRECEDING\s+AND\s+CURRENT\s+ROW$", re.IGNORECASE
)
_FRAME_RANGE = re.compile(
    r"^RANGE\s+BETWEEN\s+(INTERVAL\s*'[\d.]+'\s*\w+)\s+PRECEDING"
    r"\s+AND\s+CURRENT\s+ROW$",
    re.IGNORECASE,
)
_FRAME_UNBOUNDED = re.compile(
    r"^(?:ROWS|RANGE)\s+(?:BETWEEN\s+)?UNBOUNDED\s+PRECEDING"
    r"(?:\s+AND\s+CURRENT\s+ROW)?$",
    re.IGNORECASE,
)


def lower_streaming_over(
    spark: SparkSession, sql: str, resolver: Callable[[str], DataFrame]
) -> DataFrame:
    """Lower a streaming ``SELECT ... agg(x) OVER (PARTITION BY k ORDER
    BY rowtime [frame]) ... FROM t [WHERE ...]`` statement onto the
    custom stateful OVER operators — Structured Streaming has no
    Catalyst OVER lowering, so this is the StreamExecOverAggregate
    path (EXEC-S/StreamExecOverAggregate.java:91):

    - no frame / UNBOUNDED PRECEDING → streaming_over_unbounded
      (ProcTimeUnboundedPrecedingFunction.java contract);
    - ``ROWS BETWEEN n PRECEDING AND CURRENT ROW`` →
      streaming_over_bounded(rows=n+1)
      (RowTimeRowsBoundedPrecedingFunction.java);
    - ``RANGE BETWEEN INTERVAL 'x' U PRECEDING AND CURRENT ROW`` →
      streaming_over_bounded(range_interval=...)
      (RowTimeRangeBoundedPrecedingFunction.java).

    Scope (the reference's own planner restrictions, plus the repo's
    single-relation statement shape): one window spec per statement
    (Flink: "Over Agg: Unsupported use of OVER windows" for mixed
    specs), aggregates may target DIFFERENT value columns within the
    shared spec (one exec node, like the reference; COUNT(*) rides a
    constant series), ascending time order (descending rejected by Flink's
    planner too), simple column passthrough items, single source
    table (or a composed streaming relation — FROM-subquery / view),
    optional WHERE. Offset/value aggregates LAG(col[, n]),
    LEAD(col, 0), FIRST_VALUE(col), LAST_VALUE(col)
    (LeadLagAggFunction.java / FirstValueAggFunction.java, planned by
    the same exec node) ride the UNBOUNDED frame; positive LEAD
    offsets are rejected (append mode cannot see future rows)."""
    from flink_1_16_0_src_spark.streaming.stateful import (
        streaming_over_multi,
    )

    s = sql.strip().rstrip(";").strip()
    msel = re.match(r"^SELECT\s+", s, re.IGNORECASE)
    fk = _statement_from_kw(s)
    if not msel or fk is None:
        raise ValueError(
            "streaming OVER: supported statement shape is SELECT ... "
            "FROM <table> [WHERE ...] with OVER items in the SELECT "
            "list — compose streaming.stateful over_agg directly for "
            "other shapes"
        )
    select_list = s[msel.end() : fk]
    rest = s[fk:]
    # items/spec refs strip qualifiers already; the WHERE may qualify
    # with the table's alias (composed and bound statements read
    # `FROM <view> AS x`)
    fm = _FROM_ONE_TABLE.match(rest)
    if fm is None:
        raise ValueError(
            "streaming OVER: FROM must reference a single named table "
            "or one FROM-subquery level (no joins) — use "
            "streaming.stateful over_agg for composed inputs"
        )
    tbl, alias, tail = fm.group(1), fm.group(2), fm.group(3).strip()
    where = None
    if tail:
        wm = re.match(r"^WHERE\s+(.*)$", tail, re.IGNORECASE | re.DOTALL)
        if wm is None or re.search(
            r"\b(JOIN|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION)\b",
            _unquoted_text(tail),
            re.IGNORECASE,
        ):
            raise ValueError(
                "streaming OVER: only an optional WHERE may follow the "
                "source table (no JOIN/GROUP BY/HAVING/ORDER BY/LIMIT) "
                "— aggregate or join in a separate statement"
            )
        where = wm.group(1).strip()

    passthrough: list[tuple[str, str]] = []  # (source col, output alias)
    over_items: list[tuple] = []  # (fn, arg, alias, offset)
    spec_norm: str | None = None
    spec_m = None
    for item in _split_top_commas(select_list):
        ma = _OVER_AGG_HEAD.match(item)
        if ma is None:
            plain = _plain_item(item)
            if plain is None:
                raise ValueError(
                    f"streaming OVER: unsupported SELECT item {item!r} — "
                    "items must be plain columns or "
                    "COUNT/SUM/AVG/MIN/MAX(col) OVER (...) AS alias"
                )
            passthrough.append(plain[1:])
            continue
        open_idx = item.index("(", ma.end() - 1)
        close_idx = _balanced(item, open_idx)  # just past the ')'
        spec_text = item[open_idx + 1 : close_idx - 1]
        after = item[close_idx:].strip()
        mal = re.match(r"^AS\s+(\w+)$", after, re.IGNORECASE)
        if mal is None:
            raise ValueError(
                f"streaming OVER: every OVER item needs an AS alias "
                f"(got {item!r})"
            )
        norm = re.sub(r"\s+", " ", spec_text.strip().upper())
        if spec_norm is None:
            spec_norm, spec_m = norm, _OVER_SPEC.match(spec_text)
        elif norm != spec_norm:
            raise ValueError(
                "streaming OVER: all OVER items must share one window "
                "spec (the reference's StreamExecOverAggregate plans a "
                "single over window per node)"
            )
        fn_up = ma.group("fn").upper()
        # SQL (and LeadLagAggFunction.java) defaults a missing LEAD/LAG
        # offset to 1 — keep that here so bare LEAD(col) hits the
        # stateful operator's "needs future rows" rejection instead of
        # silently behaving like LEAD(col, 0) (the current row).
        if ma.group("off"):
            off_val: int | None = int(ma.group("off"))
        elif fn_up in ("LEAD", "LAG"):
            off_val = 1
        else:
            off_val = None
        over_items.append(
            (fn_up, ma.group("arg").split(".")[-1], mal.group(1), off_val)
        )
    if not over_items:
        raise ValueError("streaming OVER: no OVER aggregate items found")
    if spec_m is None:
        raise ValueError(
            "streaming OVER: window spec must be PARTITION BY <cols> "
            "ORDER BY <time-attribute> [frame]"
        )
    if (spec_m.group("dir") or "ASC").upper() == "DESC":
        raise ValueError(
            "streaming OVER: ORDER BY must be ascending on the time "
            "attribute (the reference's planner rejects descending "
            "streaming OVER windows too)"
        )
    keys = [k.strip().split(".")[-1] for k in spec_m.group("keys").split(",")]
    order_col = spec_m.group("ord").split(".")[-1]
    frame = spec_m.group("frame").strip()
    rows = range_interval = None
    if frame and not _FRAME_UNBOUNDED.match(frame):
        mr = _FRAME_ROWS.match(frame)
        mg = _FRAME_RANGE.match(frame)
        if mr:
            rows = int(mr.group(1)) + 1
        elif mg:
            range_interval = _interval_str(mg.group(1))
        else:
            raise ValueError(
                f"streaming OVER: unsupported frame {frame!r} — use "
                "ROWS/RANGE BETWEEN <bound> PRECEDING AND CURRENT ROW "
                "or UNBOUNDED PRECEDING"
            )
    # multi-aggregate, multi-column: one over window per statement,
    # aggregates may target different columns (the reference's
    # StreamExecOverAggregate plans them in one exec node)
    aggs = [
        (fn, None if a == "*" else a, al, off)
        for fn, a, al, off in over_items
    ]
    value_cols = [c for _fn, c, _al, _off in aggs if c is not None]
    sdf = resolver(tbl).alias(alias or tbl)
    if where:
        sdf = sdf.where(F.expr(where))
    needed = list(
        dict.fromkeys(
            [c for c, _a in passthrough] + keys + [order_col] + value_cols
        )
    )
    out = streaming_over_multi(
        sdf.select(*needed), keys, order_col, aggs,
        rows=rows, range_interval=range_interval,
    )
    sel = [F.col(c).alias(a) for c, a in passthrough]
    sel += [F.col(al) for _fn, _c, al, _off in over_items]
    return out.select(*sel)


_ROWNUM_ITEM = re.compile(
    r"^ROW_NUMBER\s*\(\s*\)\s+OVER\s*\(\s*PARTITION\s+BY\s+"
    r"(?P<keys>[\w.]+(?:\s*,\s*[\w.]+)*)\s+ORDER\s+BY\s+(?P<ord>[\w.]+)"
    r"(?:\s+(?P<dir>ASC|DESC))?\s*\)\s+AS\s+(?P<al>\w+)$",
    re.IGNORECASE,
)


def lower_streaming_topn(
    sql: str, resolver: Callable[[str], DataFrame]
) -> DataFrame:
    """Lower Flink's CANONICAL streaming Top-N statement —

        SELECT ... FROM (
          SELECT ..., ROW_NUMBER() OVER (PARTITION BY k ORDER BY v
          [DESC]) AS rn FROM t [WHERE ...]
        ) [AS x] WHERE rn <= N

    — onto the continuous Top-N operator (streaming.stateful.
    streaming_topn). This is exactly how the reference plans
    StreamExecRank (FlinkLogicalRankRule matching the
    row_number-filter pattern over an OVER window; AppendOnlyTopN
    Function keeps the current top-k per key) — the OVER window is
    never executed as a window. ROW_NUMBER only (the reference
    optimizes only ROW_NUMBER Top-N in 1.16); one ORDER BY column;
    ``rn <= N`` / ``rn < N`` / ``rn = N`` bounds. Update-mode output:
    drain availableNow and the sink holds the final top-k per key.
    Inner WHERE runs below the rank (Calc-under-Rank plan shape)."""
    from flink_1_16_0_src_spark.streaming.stateful import streaming_topn

    s = sql.strip().rstrip(";").strip()
    m = re.match(r"^SELECT\s+(?P<outer>.*?)\s+FROM\s*\(", s,
                 re.IGNORECASE | re.DOTALL)
    if m is None:
        raise ValueError(
            "streaming Top-N: supported statement shape is SELECT ... "
            "FROM (SELECT ..., ROW_NUMBER() OVER (PARTITION BY ... "
            "ORDER BY ...) AS rn FROM t) WHERE rn <= N"
        )
    open_idx = s.index("(", m.end() - 1)
    close = _balanced(s, open_idx)
    inner = s[open_idx + 1 : close - 1].strip()
    rest = s[close:].strip()
    rm = re.match(
        r"^(?:(?:AS\s+)?(?!WHERE\b)\w+\s+)?WHERE\s+(?P<cond>.+)$",
        rest, re.IGNORECASE | re.DOTALL,
    )
    cm = rm and re.match(r"^(\w+)\s*(<=|<|=)\s*(\d+)$", rm.group("cond").strip())
    if not cm:
        raise ValueError(
            "streaming Top-N: the outer WHERE must bound the "
            "ROW_NUMBER alias (rn <= N / rn < N / rn = N) — other "
            "outer predicates belong inside the subquery"
        )
    rn_ref, op, n = cm.group(1), cm.group(2), int(cm.group(3))
    mi = re.match(r"^SELECT\s+", inner, re.IGNORECASE)
    fk = _statement_from_kw(inner)
    if not mi or fk is None:
        raise ValueError("streaming Top-N: could not parse the subquery")
    fm = _FROM_ONE_TABLE.match(inner[fk:])
    if fm is None:
        raise ValueError(
            "streaming Top-N: the subquery must read one named table "
            "(no joins — rank a pre-joined streaming view instead)"
        )
    tbl, alias, tail = fm.group(1), fm.group(2), fm.group(3).strip()
    where = None
    if tail:
        wm = re.match(r"^WHERE\s+(.*)$", tail, re.IGNORECASE | re.DOTALL)
        if wm is None:
            raise ValueError(
                "streaming Top-N: only an optional WHERE may follow "
                "the subquery's source table"
            )
        where = wm.group(1).strip()
    passthrough: list[tuple[str, str]] = []
    rank = None
    for item in _split_top_commas(inner[mi.end() : fk]):
        it = item.strip()
        rmatch = _ROWNUM_ITEM.match(it)
        if rmatch:
            if rank is not None:
                raise ValueError("streaming Top-N: one ROW_NUMBER item only")
            rank = rmatch
            continue
        plain = _plain_item(it)
        if plain is None:
            raise ValueError(
                f"streaming Top-N: unsupported subquery item {it!r} — "
                "plain columns plus one ROW_NUMBER() OVER (...) AS rn"
            )
        passthrough.append(plain[1:])
    if rank is None:
        raise ValueError(
            "streaming Top-N: the subquery needs ROW_NUMBER() OVER "
            "(PARTITION BY ... ORDER BY ...) AS <alias> (RANK/"
            "DENSE_RANK Top-N is not optimized by the reference either)"
        )
    if rank.group("al").lower() != rn_ref.lower():
        raise ValueError(
            f"streaming Top-N: outer WHERE bounds {rn_ref!r} but the "
            f"ROW_NUMBER alias is {rank.group('al')!r}"
        )
    keys = [k.strip().split(".")[-1] for k in rank.group("keys").split(",")]
    order_col = rank.group("ord").split(".")[-1]
    descending = (rank.group("dir") or "ASC").upper() == "DESC"
    k = n if op in ("<=", "=") else n - 1
    if k < 1:
        raise ValueError("streaming Top-N: empty bound")
    sdf = resolver(tbl).alias(alias or tbl)
    if where:
        sdf = sdf.where(F.expr(where))
    needed = list(
        dict.fromkeys([c for c, _a in passthrough] + keys + [order_col])
    )
    out = streaming_topn(sdf.select(*needed), keys, order_col, k,
                         descending=descending)
    if op == "=":
        out = out.where(F.col("rank_num") == n)
    # outer projection: * keeps every subquery item (incl. the rank),
    # otherwise plain refs to subquery aliases / the rank alias
    aliases = {a: c for c, a in passthrough}
    sel = []
    outer = m.group("outer").strip()
    if outer == "*":
        sel = [F.col(c).alias(a) for c, a in passthrough]
        sel.append(F.col("rank_num").alias(rank.group("al")))
    else:
        for item in _split_top_commas(outer):
            plain = _plain_item(item)
            if plain is None:
                raise ValueError(
                    f"streaming Top-N: unsupported outer item {item!r}"
                )
            _ref, ref, al = plain
            if ref.lower() == rank.group("al").lower():
                sel.append(F.col("rank_num").alias(al))
            elif ref in aliases:
                sel.append(F.col(aliases[ref]).alias(al))
            elif ref in dict(passthrough) or any(c == ref for c, _ in passthrough):
                sel.append(F.col(ref).alias(al))
            else:
                raise ValueError(
                    f"streaming Top-N: outer item {ref!r} is not a "
                    "subquery output"
                )
    return out.select(*sel)


def lower_streaming_window_topn(sql: str, specs: list[dict]) -> DataFrame:
    """Lower Flink's WINDOW TOP-N statement — the documented pattern
    (window-topn.md; EXEC-S/StreamExecWindowRank.java:77 planned by
    FlinkLogicalRankRule when the row_number PARTITION BY contains
    window_start AND window_end) —

        SELECT ... FROM (
          SELECT ..., ROW_NUMBER() OVER (PARTITION BY window_start,
            window_end[, keys] ORDER BY v [DESC]) AS rn
          FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL ...))
          [WHERE ...]
        ) WHERE rn <= N

    — onto streaming.windows.window_topn (top-k per closed window via
    a RANK-BOUNDED per-(window, keys) buffer — at most k rows of
    state, WindowRankProcessor.java:191 TopNBuffer parity — emitted in
    APPEND mode when the watermark closes the window). The
    TVF has already been rewritten by the caller; ``specs`` carries
    the raw source frame + window parameters, so the lowering
    re-windows from the raw stream. TUMBLE windows (the canonical
    form); the inner WHERE filters raw rows below the rank
    (Calc-under-WindowRank plan shape). ROW_NUMBER ties break by the
    payload columns in order, descending with the rank order — mirror
    that in oracles or keep the order column tie-free."""
    from flink_1_16_0_src_spark.streaming.windows import window_topn

    if len(specs) != 1 or specs[0]["fn"] not in ("TUMBLE", "HOP"):
        raise ValueError(
            "streaming window Top-N: one TUMBLE or HOP TVF per "
            "statement (CUMULATE/SESSION window rank: compose "
            "streaming.windows.window_topn semantics via the Python API)"
        )
    spec = specs[0]
    s = sql.strip().rstrip(";").strip()
    m = re.match(r"^SELECT\s+(?P<outer>.*?)\s+FROM\s*\(", s,
                 re.IGNORECASE | re.DOTALL)
    if m is None:
        raise ValueError(
            "streaming window Top-N: supported shape is SELECT ... "
            "FROM (SELECT ..., ROW_NUMBER() OVER (PARTITION BY "
            "window_start, window_end[, keys] ORDER BY v) AS rn FROM "
            "TABLE(TUMBLE(...))) WHERE rn <= N"
        )
    open_idx = s.index("(", m.end() - 1)
    close = _balanced(s, open_idx)
    inner = s[open_idx + 1 : close - 1].strip()
    rest = s[close:].strip()
    rm = re.match(
        r"^(?:(?:AS\s+)?(?!WHERE\b)\w+\s+)?WHERE\s+(?P<cond>.+)$",
        rest, re.IGNORECASE | re.DOTALL,
    )
    cm = rm and re.match(r"^(\w+)\s*(<=|<|=)\s*(\d+)$", rm.group("cond").strip())
    if not cm:
        raise ValueError(
            "streaming window Top-N: the outer WHERE must bound the "
            "ROW_NUMBER alias (rn <= N / rn < N / rn = N)"
        )
    rn_ref, op, n = cm.group(1), cm.group(2), int(cm.group(3))
    mi = re.match(r"^SELECT\s+", inner, re.IGNORECASE)
    fk = _statement_from_kw(inner)
    if not mi or fk is None:
        raise ValueError("streaming window Top-N: could not parse the subquery")
    fm = re.match(r"FROM\s+(\w+)\s*(.*)$", inner[fk:], re.IGNORECASE | re.DOTALL)
    if fm is None or fm.group(1) != spec["view"]:
        raise ValueError(
            "streaming window Top-N: the subquery must read the window "
            "TVF directly (no joins below the rank)"
        )
    tail = fm.group(2).strip()
    where = None
    if tail:
        wm = re.match(r"^WHERE\s+(.*)$", tail, re.IGNORECASE | re.DOTALL)
        if wm is None:
            raise ValueError(
                "streaming window Top-N: only an optional WHERE may "
                "follow the TVF in the subquery"
            )
        where = wm.group(1).strip()
    passthrough: list[tuple[str, str]] = []
    rank = None
    for item in _split_top_commas(inner[mi.end() : fk]):
        it = item.strip()
        rmatch = _ROWNUM_ITEM.match(it)
        if rmatch:
            if rank is not None:
                raise ValueError("streaming window Top-N: one ROW_NUMBER item only")
            rank = rmatch
            continue
        plain = _plain_item(it)
        if plain is None:
            raise ValueError(
                f"streaming window Top-N: unsupported subquery item {it!r}"
            )
        passthrough.append(plain[1:])
    if rank is None:
        raise ValueError(
            "streaming window Top-N: the subquery needs ROW_NUMBER() "
            "OVER (PARTITION BY window_start, window_end[, keys] "
            "ORDER BY v) AS <alias>"
        )
    if rank.group("al").lower() != rn_ref.lower():
        raise ValueError(
            f"streaming window Top-N: outer WHERE bounds {rn_ref!r} but "
            f"the ROW_NUMBER alias is {rank.group('al')!r}"
        )
    part = [k.strip().split(".")[-1] for k in rank.group("keys").split(",")]
    part_l = [k.lower() for k in part]
    if "window_start" not in part_l or "window_end" not in part_l:
        raise ValueError(
            "streaming window Top-N: PARTITION BY must contain BOTH "
            "window_start and window_end (that is what makes the rank "
            "a window rank — FlinkLogicalRankRule); for the continuous "
            "per-key Top-N drop the window TVF"
        )
    keys = [k for k in part if k.lower() not in ("window_start", "window_end")]
    order_col = rank.group("ord").split(".")[-1]
    descending = (rank.group("dir") or "ASC").upper() == "DESC"
    k = n if op in ("<=", "=") else n - 1
    if k < 1:
        raise ValueError("streaming window Top-N: empty bound")
    src = spec["src"]
    if where:
        src = src.where(F.expr(where))
    payload = [
        c for c, _a in passthrough
        if c.lower() not in ("window_start", "window_end")
        and c not in keys and c != order_col
    ]
    out = window_topn(
        src, spec["ts"], spec["size"], keys, order_col, k,
        payload, descending=descending, slide=spec.get("slide"),
        offset=spec.get("offset"),
    )
    if op == "=":
        out = out.where(F.col("rank_num") == n)
    aliases = {a: c for c, a in passthrough}
    produced = {c.lower() for c, _a in passthrough} | {
        "window_start", "window_end", order_col.lower(), rank.group("al").lower()
    } | {kk.lower() for kk in keys}
    sel = []
    outer = m.group("outer").strip()
    if outer == "*":
        sel = [F.col(c).alias(a) for c, a in passthrough]
        sel.append(F.col("rank_num").alias(rank.group("al")))
    else:
        for item in _split_top_commas(outer):
            plain = _plain_item(item)
            if plain is None:
                raise ValueError(
                    f"streaming window Top-N: unsupported outer item {item!r}"
                )
            _ref, ref, al = plain
            if ref.lower() == rank.group("al").lower():
                sel.append(F.col("rank_num").alias(al))
            elif ref in aliases:
                sel.append(F.col(aliases[ref]).alias(al))
            elif ref.lower() in produced:
                sel.append(F.col(ref).alias(al))
            else:
                raise ValueError(
                    f"streaming window Top-N: outer item {ref!r} is not "
                    "a subquery output"
                )
    return out.select(*sel)
