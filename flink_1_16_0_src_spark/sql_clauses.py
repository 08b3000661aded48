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
  match state (the whole pattern then runs the dict path instead of
  the vectorized masks; restricted expression grammar — comparisons,
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

import re
from typing import Callable

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


def _split_top_commas(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            cur.append(c)
            i += 1
            while i < n and s[i] != "'":
                cur.append(s[i])
                i += 1
            if i < n:
                cur.append("'")
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    if cur:
        out.append("".join(cur).strip())
    return out


def _interval_str(arg: str) -> str:
    m = _INTERVAL.search(arg)
    if not m:
        raise ValueError(f"expected INTERVAL literal in {arg!r}")
    qty, unit = m.group(1), m.group(2).lower()
    if not unit.endswith("s"):
        unit += "s"
    return f"{qty} {unit}"


def rewrite_window_tvfs(
    spark: SparkSession,
    sql: str,
    resolver=None,
    keep_struct: bool = False,
    specs: list | None = None,
) -> str:
    """Replace every ``TABLE(TUMBLE|HOP|CUMULATE|SESSION(...))``
    occurrence with a temp view holding the windowed relation.

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
    while True:
        m = _TVF_HEAD.search(sql)
        if m is None:
            return sql
        fn = m.group(1).upper()
        inner_open = sql.index("(", m.end() - 1)
        end_inner = _balanced(sql, inner_open)
        # past the wrapping TABLE( ... )
        end_outer = sql.index(")", end_inner)
        args = _split_top_commas(sql[inner_open + 1 : end_inner - 1])

        def named(prefix: str, a: str) -> str:
            # 'DATA => TABLE t' / 'TIMECOL => DESCRIPTOR(ts)' named-arg forms
            return re.sub(rf"^{prefix}\s*=>\s*", "", a, flags=re.IGNORECASE).strip()

        table_arg = named("DATA", args[0])
        tm = re.match(
            r"TABLE\s+(\w+)(?:\s+PARTITION\s+BY\s+(.+))?$",
            table_arg,
            re.IGNORECASE | re.DOTALL,
        )
        if tm is None:
            raise ValueError(f"unsupported TVF table argument {table_arg!r}")
        tbl, part_by = tm.group(1), tm.group(2)
        dm = re.match(
            r"DESCRIPTOR\s*\(\s*(\w+)\s*\)", named("TIMECOL", args[1]), re.IGNORECASE
        )
        if dm is None:
            raise ValueError(f"expected DESCRIPTOR(col), got {args[1]!r}")
        ts = dm.group(1)
        df = resolver(tbl)
        rest = args[2:]
        # src + window parameters ride the spec so downstream lowerings
        # that regroup from the RAW stream (window Top-N) can re-window
        spec: dict = {"fn": fn, "ts": ts, "src": df}
        if fn == "TUMBLE":
            size = _interval_str(named("SIZE", rest[0]))
            offset = _interval_str(rest[1]) if len(rest) > 1 else None
            spec.update(size=size, offset=offset)
            out = windows.tumble(df, ts, size, offset, keep_struct=keep_struct)
        elif fn == "HOP":
            slide = _interval_str(named("SLIDE", rest[0]))
            size = _interval_str(named("SIZE", rest[1]))
            offset = _interval_str(rest[2]) if len(rest) > 2 else None
            spec.update(size=size, slide=slide, offset=offset)
            out = windows.hop(df, ts, slide, size, offset, keep_struct=keep_struct)
        elif fn == "CUMULATE":
            step = _interval_str(named("STEP", rest[0]))
            max_size = _interval_str(named("SIZE", rest[1]))
            out = windows.cumulate(df, ts, step, max_size)
        else:  # SESSION
            gap = _interval_str(named("GAP", rest[0]))
            keys = [k.strip() for k in (part_by or "").split(",") if k.strip()]
            if keep_struct and specs is not None:
                # streaming: no per-row assignment — the caller regroups
                # onto session_window(ts, gap) (merging state machine)
                out = df
                spec.update(gap=gap, keys=keys)
            else:
                out = windows.session(df, ts, gap, *keys)
        view = f"__tvf_{fn.lower()}_{tbl}_{counter}"
        counter += 1
        out.createOrReplaceTempView(view)
        if specs is not None:
            spec["view"] = view
            specs.append(spec)
        sql = sql[: m.start()] + view + sql[end_outer + 1 :]


# ---- Legacy group windows (GROUP BY TUMBLE/HOP/SESSION) -------------------

_GW_AUX = re.compile(
    r"\b(TUMBLE|HOP|SESSION)_(START|END|ROWTIME|PROCTIME)\s*\(", re.IGNORECASE
)
_GW_CALL = re.compile(r"\b(TUMBLE|HOP|SESSION)\s*\(", re.IGNORECASE)
_GW_COUNTER = 0


def _statement_from_kw(sql: str) -> int | None:
    """Position of the statement-level ``FROM`` keyword — first
    ``FROM`` at paren depth 0 outside string literals that is not the
    middle of ``IS [NOT] DISTINCT FROM``. A bare ``\\bFROM\\b`` regex
    would hit ``EXTRACT(HOUR FROM ts)`` / ``SUBSTRING(s FROM 1)`` /
    ``TRIM(x FROM y)`` first (those are always parenthesized, so the
    depth-0 scan skips them); ``a IS DISTINCT FROM b`` sits at depth 0
    in a SELECT list, so the preceding-word check is still needed."""
    i, depth, n = 0, 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and c in "Ff"
            and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
            and re.match(r"FROM\b", sql[i:], re.IGNORECASE)
        ):
            prev = re.search(r"(\w+)\s*$", sql[:i])
            if prev is None or prev.group(1).upper() != "DISTINCT":
                return i
        i += 1
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


def rewrite_group_windows(
    spark: SparkSession,
    sql: str,
    resolver=None,
    keep_struct: bool = False,
    specs: list | None = None,
) -> str:
    """Lower the LEGACY group-window SQL syntax — ``GROUP BY
    TUMBLE(ts, INTERVAL '1' HOUR)`` / ``HOP(ts, slide, size)`` /
    ``SESSION(ts, gap)`` plus the auxiliary functions
    ``TUMBLE_START/END/ROWTIME`` (and HOP_*/SESSION_*) — onto the same
    ``operators.windows`` helpers the TVF path uses.

    Reference parity: the pre-FLIP-145 group-window functions
    (FlinkSqlOperatorTable.java TUMBLE/HOP/SESSION group functions,
    StreamExecGroupWindowAggregate.java:88; auxiliary start/end/rowtime
    functions resolved by GroupWindowAggregate's namedProperties —
    ``*_ROWTIME`` = window end − 1 ms, TimeWindow.maxTimestamp()).

    Scope (same single-relation shape as the temporal-join rewrite):
    one group window per GROUP BY (the reference's own restriction),
    a single named table/view in FROM, simple column refs as the other
    grouping keys. ``*_PROCTIME`` needs a processing-time attribute —
    nondeterministic by definition — and is rejected like PROCTIME().
    """
    if not _GW_CALL.search(sql):
        return sql

    def _clause_end(start: int) -> int:
        # GROUP BY clause extent: up to a depth-0 HAVING/ORDER/LIMIT/
        # WINDOW keyword or the enclosing block's closing paren
        i, depth, n = start, 0, len(sql)
        while i < n:
            c = sql[i]
            if c == "'":
                i += 1
                while i < n and sql[i] != "'":
                    i += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and re.match(
                r"(HAVING|ORDER|LIMIT|WINDOW)\b", sql[i:], re.IGNORECASE
            ) and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")):
                break
            i += 1
        return i

    # locate the GROUP BY whose clause holds the window call — the
    # FIRST textual GROUP BY may belong to a windowless subquery; a
    # window call inside a subquery is rejected rather than rewritten
    # against the statement-level FROM (single-block scope)
    gbm = clause_end = entries = win = None
    for cand in re.finditer(r"\bGROUP\s+BY\b", sql, re.IGNORECASE):
        ce = _clause_end(cand.end())
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

    fm = _statement_from(sql)
    if fm is None:
        raise ValueError("legacy group window needs a single named FROM table")
    tbl = fm[2]
    df = (resolver or spark.table)(tbl)
    if fn == "TUMBLE":
        out = windows.tumble(
            df, ts_col, _interval_str(args[1]),
            _interval_str(args[2]) if len(args) > 2 else None,
            keep_struct=keep_struct,
        )
    elif fn == "HOP":
        out = windows.hop(
            df, ts_col, _interval_str(args[1]), _interval_str(args[2]),
            keep_struct=keep_struct,
        )
    else:  # SESSION — per remaining grouping keys, like SessionWindowAssigner
        key_cols = [k.split(".")[-1] for k in keys]
        if any(not re.fullmatch(r"\w+", k) for k in key_cols):
            raise ValueError("SESSION group window keys must be simple columns")
        if keep_struct:
            if specs is None:
                raise ValueError(
                    "SESSION group windows in streaming mode: use "
                    "streaming.windows.session_agg (merging-window state "
                    "machine) or TableEnvironment.stream_query"
                )
            # streaming: the batch gaps-and-islands rewrite uses lag()
            # windows (not streamable) — register the raw frame and let
            # the caller regroup onto the merging session_window
            # aggregate, same contract as the SESSION TVF spec path
            out = df
            specs.append(
                {
                    "fn": "SESSION",
                    "ts": ts_col,
                    "gap": _interval_str(args[1]),
                    "keys": key_cols,
                }
            )
        else:
            out = windows.session(df, ts_col, _interval_str(args[1]), *key_cols)
    # uniquified like the TVF views: same table + different window
    # specs in one session must not collide
    global _GW_COUNTER
    _GW_COUNTER += 1
    view = f"__gw_{fn.lower()}_{tbl}_{_GW_COUNTER}"
    out.createOrReplaceTempView(view)

    new_clause = ", ".join(keys + ["window_start", "window_end"])
    sql = sql[: gbm.end()] + " " + new_clause + " " + sql[clause_end:]
    # FROM precedes GROUP BY in the supported single-SELECT shape, so
    # re-locating it post-edit is safe; substitute only the table token.
    fs, fe, _ = _statement_from(sql)
    sql = sql[:fs] + view + sql[fe:]
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
        if prop == "ROWTIME" and keep_struct:
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
            # per-row Python in the NFA (no vec — the whole pattern
            # falls back to the dict path)
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


def rewrite_lookup_join(sql: str, proctime_attrs: set[str]) -> str:
    """Processing-time temporal join = LOOKUP join (joins.md "Lookup
    Join"; LookupJoinUtil.java, StreamExecLookupJoin.java): ``JOIN d
    FOR SYSTEM_TIME AS OF probe.<proctime attr>`` joins each probe row
    against the CURRENT version of the build side. In a micro-batch
    lowering the current version is the dim snapshot the batch reads,
    so the clause reduces to a plain equi-join — the AS OF marker is
    dropped and Catalyst plans the join (broadcast for dim-sized
    tables, the same shape operators/lookup.py produces)."""

    def _one(m: re.Match) -> str:
        if m.group("asof").split(".")[-1] in proctime_attrs:
            return " "
        return m.group(0)

    return re.sub(
        r"\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<asof>[\w.]+)",
        _one, sql, flags=re.IGNORECASE,
    )


def rewrite_flink_clauses(
    spark: SparkSession, sql: str, time_attrs: dict[str, str] | None = None,
    temporal_fns: dict | None = None, proctime_attrs: set[str] | None = None,
) -> str:
    if re.search(r"MATCH_RECOGNIZE", sql, re.IGNORECASE):
        sql = rewrite_match_recognize(spark, sql)
    if _TVF_HEAD.search(sql):
        sql = rewrite_window_tvfs(spark, sql)
    if _GW_CALL.search(sql):
        sql = rewrite_group_windows(spark, sql)
    if proctime_attrs and re.search(r"FOR\s+SYSTEM_TIME\s+AS\s+OF", sql, re.IGNORECASE):
        sql = rewrite_lookup_join(sql, proctime_attrs)
    if re.search(r"FOR\s+SYSTEM_TIME\s+AS\s+OF", sql, re.IGNORECASE):
        sql = rewrite_temporal_join(spark, sql, time_attrs or {})
    if temporal_fns and re.search(r"LATERAL\s+TABLE", sql, re.IGNORECASE):
        sql = rewrite_temporal_table_fn(spark, sql, temporal_fns)
    if re.search(r"LATERAL\s+TABLE", sql, re.IGNORECASE):
        sql = rewrite_lateral_table(sql)
    return sql


# ---- FOR SYSTEM_TIME AS OF (temporal join) --------------------------------

_TEMPORAL_JOIN = re.compile(
    r"SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<lt>\w+)(?:\s+AS\s+(?P<la>\w+))?\s+"
    r"(?P<how>LEFT\s+)?JOIN\s+(?P<rt>\w+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+"
    r"(?P<asof>[\w.]+)(?:\s+AS\s+(?P<ra>\w+))?\s+ON\s+(?P<cond>.+?)"
    r"(?P<tail>\s+(?:WHERE|GROUP|ORDER|LIMIT)\s+.*)?$",
    re.IGNORECASE | re.DOTALL,
)


def rewrite_temporal_join(
    spark: SparkSession, sql: str, time_attrs: dict[str, str]
) -> str:
    """Lower ``SELECT ... FROM L [AS l] [LEFT] JOIN R FOR SYSTEM_TIME
    AS OF l.ts [AS r] ON <equi-cond> [WHERE ...]`` onto the as-of join
    operator (reference SqlSnapshot / StreamExecTemporalJoin.java:77 —
    the versioned-table temporal join). ``time_attrs[R]`` is R's time
    attribute (its DDL WATERMARK column — the version timestamp).
    Supported scope: one temporal join per statement, AND-ed equi
    conditions; alias-qualified column refs in SELECT/WHERE are
    rewritten to bare names of the joined relation (left wins key
    names). Plain JOIN = inner (row must have a version), LEFT JOIN
    keeps unmatched left rows."""
    m = _TEMPORAL_JOIN.match(sql.strip())
    if m is None:
        return sql
    from flink_1_16_0_src_spark.operators.joins import asof_join

    lt, rt = m.group("lt"), m.group("rt")
    la = m.group("la") or lt
    ra = m.group("ra") or rt
    if rt not in time_attrs:
        raise ValueError(
            f"temporal join target {rt!r} has no declared time attribute "
            "(WATERMARK column) — pass time_attrs"
        )
    right_time = time_attrs[rt]
    left_time = m.group("asof").split(".")[-1]

    left_df, right_df = spark.table(lt), spark.table(rt)
    on_keys: list[str] = []
    for part in re.split(r"\bAND\b", m.group("cond"), flags=re.IGNORECASE):
        em = re.match(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*$", part)
        if em is None:
            raise ValueError(f"unsupported temporal-join condition {part!r}")
        a, b = em.group(1), em.group(2)
        # normalize to (left key, right key) by alias prefix
        def side(x: str) -> tuple[str, str]:
            if "." in x:
                pre, col = x.split(".", 1)
                return ("l" if pre in (la, lt) else "r"), col
            return "?", x
        (sa, ca), (sb, cb) = side(a), side(b)
        lk, rk = (ca, cb) if sa == "l" or sb == "r" else (cb, ca)
        if rk != lk:
            right_df = right_df.withColumnRenamed(rk, lk)
        on_keys.append(lk)

    how = "left" if m.group("how") else "inner"
    joined = asof_join(left_df, right_df, on_keys, left_time, right_time, how=how)
    view = f"__tj_{lt}_{rt}"
    joined.createOrReplaceTempView(view)

    def strip_alias(text: str) -> str:
        return re.sub(rf"\b({la}|{ra}|{lt}|{rt})\.", "", text)

    tail = strip_alias(m.group("tail") or "")
    return f"SELECT {strip_alias(m.group('select'))} FROM {view}{tail}"


# ---- LATERAL TABLE(temporal_fn(ts)) — TemporalTableFunction ---------------

_TEMPORAL_FN_JOIN = re.compile(
    r"SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<lt>\w+)(?:\s+AS\s+(?P<la>\w+))?\s*,\s*"
    r"LATERAL\s+TABLE\s*\(\s*(?P<fn>\w+)\s*\(\s*(?P<arg>[\w.]+)\s*\)\s*\)"
    r"(?:\s+AS\s+(?P<ra>\w+))?"
    r"(?:\s+WHERE\s+(?P<cond>.+?))?"
    r"(?P<tail>\s+(?:GROUP|ORDER|LIMIT)\s+.*)?$",
    re.IGNORECASE | re.DOTALL,
)


def rewrite_temporal_table_fn(spark: SparkSession, sql: str, temporal_fns: dict) -> str:
    """The LEGACY temporal table function join (TableImpl.
    createTemporalTableFunction → TemporalTableFunctionImpl.java;
    planner rule LogicalCorrelateToJoinFromTemporalTableFunctionRule):
    ``FROM probe, LATERAL TABLE (rates(probe.ts)) AS r WHERE r.key =
    probe.key`` joins each probe row to the version of the registered
    history table valid AS OF the argument timestamp — lowered onto the
    same as-of operator the `FOR SYSTEM_TIME AS OF` form uses.
    ``temporal_fns[name] = (history_df, time_attr, primary_key)``.
    Key predicates = WHERE equality conjuncts touching the function
    alias; other conjuncts stay as WHERE. Inner semantics (a probe row
    with no valid version drops), as in the reference."""
    m = _TEMPORAL_FN_JOIN.match(sql.strip())
    if m is None or m.group("fn") not in temporal_fns:
        return sql
    from flink_1_16_0_src_spark.operators.joins import asof_join

    right_df, right_time, _pk = temporal_fns[m.group("fn")][:3]
    lt = m.group("lt")
    la = m.group("la") or lt
    ra = m.group("ra") or m.group("fn")
    left_df = spark.table(lt)
    left_time = m.group("arg").split(".")[-1]
    on_keys: list[str] = []
    residual: list[str] = []
    for part in re.split(r"\bAND\b", m.group("cond") or "", flags=re.IGNORECASE):
        if not part.strip():
            continue
        em = re.match(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*$", part)
        took = False
        if em:
            a, b = em.group(1), em.group(2)

            def pref(x: str) -> tuple[str | None, str]:
                return tuple(x.split(".", 1)) if "." in x else (None, x)  # type: ignore[return-value]

            (pa, ca), (pb, cb) = pref(a), pref(b)
            if pa == ra or pb == ra:
                rk, lk = (ca, cb) if pa == ra else (cb, ca)
                if rk != lk:
                    right_df = right_df.withColumnRenamed(rk, lk)
                on_keys.append(lk)
                took = True
        if not took:
            residual.append(part.strip())
    if not on_keys:
        raise ValueError(
            "temporal table function join needs an equality predicate on "
            "the function's key in WHERE (e.g. WHERE r.currency = o.currency)"
        )
    joined = asof_join(left_df, right_df, on_keys, left_time, right_time, how="inner")
    view = f"__ttf_{lt}_{m.group('fn')}"
    joined.createOrReplaceTempView(view)

    def strip_alias(text: str) -> str:
        return re.sub(rf"\b({la}|{ra}|{lt})\.", "", text)

    where = (
        f" WHERE {' AND '.join(strip_alias(r) for r in residual)}" if residual else ""
    )
    tail = strip_alias(m.group("tail") or "")
    return f"SELECT {strip_alias(m.group('select'))} FROM {view}{where}{tail}"


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


def _split_unquoted_and(cond: str) -> list[str]:
    """Split a predicate on AND keywords OUTSIDE string literals (an
    AND inside a literal must not break the conjunct)."""
    parts = re.split(r"('(?:[^']|'')*')", cond)
    marked = "".join(
        p if i % 2 else re.sub(r"\bAND\b", "\x00", p, flags=re.IGNORECASE)
        for i, p in enumerate(parts)
    )
    return marked.split("\x00")



def _unquoted_text(sql: str) -> str:
    """The statement with string-literal contents blanked — keyword
    guards must never match inside a literal (repo invariant: every
    regex guard over SQL text is quote-aware)."""
    return "".join(
        p if i % 2 == 0 else "''"
        for i, p in enumerate(re.split(r"('(?:[^']|'')*')", sql))
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
    # optional table alias (FROM t [AS] x): composed statements arrive
    # here as `FROM __stream_sub_N AS x` after the subquery extraction;
    # items/spec refs strip qualifiers already, so the alias only needs
    # consuming, not binding
    fm = re.match(
        r"FROM\s+(\w+)"
        r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|HAVING\b|ORDER\b|LIMIT\b"
        r"|UNION\b|JOIN\b)\w+)?"
        r"\s*(.*)$",
        rest, re.IGNORECASE | re.DOTALL,
    )
    if fm is None:
        raise ValueError(
            "streaming OVER: FROM must reference a single named table "
            "or one FROM-subquery level (no joins) — use "
            "streaming.stateful over_agg for composed inputs"
        )
    tbl, tail = fm.group(1), fm.group(2).strip()
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
            mp = re.match(r"^([\w.]+)(?:\s+AS\s+(\w+))?$", item, re.IGNORECASE)
            if mp is None:
                raise ValueError(
                    f"streaming OVER: unsupported SELECT item {item!r} — "
                    "items must be plain columns or "
                    "COUNT/SUM/AVG/MIN/MAX(col) OVER (...) AS alias"
                )
            col = mp.group(1).split(".")[-1]
            passthrough.append((col, mp.group(2) or col))
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
    sdf = resolver(tbl)
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


_TEMPORAL_FROM = re.compile(
    r"^FROM\s+(?P<ptbl>\w+)(?:\s+AS)?(?:\s+(?!LEFT\b|INNER\b|JOIN\b)(?P<pal>\w+))?"
    r"\s+(?P<jt>LEFT\s+|INNER\s+)?JOIN\s+(?P<vtbl>\w+)"
    r"\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<asof>[\w.]+)"
    r"(?:\s+AS)?(?:\s+(?!ON\b)(?P<val>\w+))?"
    r"\s+ON\s+(?P<onl>[\w.]+)\s*=\s*(?P<onr>[\w.]+)\s*(?P<tail>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def lower_streaming_temporal_join(
    sql: str,
    resolve: Callable[[str], tuple[DataFrame, tuple[str, str] | None]],
) -> DataFrame:
    """Lower an EVENT-TIME temporal join written as streaming SQL text —
    ``SELECT ... FROM probe [AS] p JOIN version FOR SYSTEM_TIME AS OF
    p.rowtime [AS] v ON p.k = v.k [WHERE ...]`` — onto the as-of state
    machine (streaming.stateful.streaming_asof_join). This is the
    StreamExecTemporalJoin path (EXEC-S/StreamExecTemporalJoin.java:77;
    T-RUNTIME/operators/join/temporal/TemporalRowTimeJoinOperator.java
    keeps the version side's per-key (ts, row) list in state and binds
    each probe row to the latest version at or before its rowtime);
    proctime AS OF statements never reach here (they lower to
    stream-static lookup joins upstream).

    Scope, mirroring the reference planner's own restrictions
    (TemporalJoinRewriteWithUniqueKeyRule.scala): the AS OF column must
    be the probe table's declared event-time (WATERMARK) attribute; the
    version table must declare a WATERMARK (its version timestamp); ON
    is one equality on the version table's key; INNER and LEFT join
    types; SELECT items are plain (optionally aliased) columns; an
    optional WHERE over probe columns runs below the join (Calc
    pushdown, same plan shape as the reference). Version columns that
    collide with probe column names must be aliased."""

    s = sql.strip().rstrip(";").strip()
    msel = re.match(r"^SELECT\s+", s, re.IGNORECASE)
    fk = _statement_from_kw(s)
    if not msel or fk is None:
        raise ValueError(
            "streaming temporal join: supported shape is SELECT ... "
            "FROM <probe> JOIN <version> FOR SYSTEM_TIME AS OF "
            "<probe rowtime> ON <probe key> = <version key> [WHERE ...]"
            " — compose streaming.stateful.streaming_asof_join directly "
            "for other shapes"
        )
    select_list = s[msel.end() : fk]
    fm = _TEMPORAL_FROM.match(s[fk:])
    if fm is None:
        raise ValueError(
            "streaming temporal join: could not parse the FROM clause — "
            "expected FROM <probe> [AS p] [LEFT] JOIN <version> FOR "
            "SYSTEM_TIME AS OF p.<rowtime> [AS v] ON p.<k> = v.<k>"
        )
    ptbl, pal = fm.group("ptbl"), (fm.group("pal") or fm.group("ptbl"))
    vtbl, val = fm.group("vtbl"), (fm.group("val") or fm.group("vtbl"))
    left_join = bool(fm.group("jt") and fm.group("jt").strip().upper() == "LEFT")
    tail = fm.group("tail").strip()
    where = None
    if tail:
        wm = re.match(r"^WHERE\s+(.*)$", tail, re.IGNORECASE | re.DOTALL)
        if wm is None or re.search(
            r"\b(JOIN|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION)\b",
            _unquoted_text(tail), re.IGNORECASE,
        ):
            raise ValueError(
                "streaming temporal join: only an optional WHERE may "
                "follow the ON clause — aggregate or re-join in a "
                "separate statement"
            )
        where = wm.group(1).strip()

    probe_sdf, probe_wm = resolve(ptbl)
    ver_sdf, ver_wm = resolve(vtbl)
    if probe_wm is None:
        raise ValueError(
            f"streaming temporal join: probe table {ptbl!r} declares no "
            "WATERMARK — the AS OF column must be its event-time "
            "attribute (the reference rejects non-rowtime AS OF too)"
        )
    if ver_wm is None:
        raise ValueError(
            f"streaming temporal join: version table {vtbl!r} declares "
            "no WATERMARK — the version timestamp is its event-time "
            "attribute (TemporalRowTimeJoinOperator orders versions by "
            "the right side's rowtime)"
        )

    def _unq(ref: str, what: str) -> str:
        parts = ref.split(".")
        if len(parts) == 1:
            return parts[0]
        if len(parts) == 2 and parts[0].lower() in (pal.lower(), val.lower(),
                                                    ptbl.lower(), vtbl.lower()):
            return parts[1]
        raise ValueError(
            f"streaming temporal join: {what} {ref!r} must be qualified "
            f"by {pal!r} or {val!r}"
        )

    def _side(ref: str) -> str:
        q = ref.split(".")[0].lower() if "." in ref else None
        if q in (pal.lower(), ptbl.lower()):
            return "probe"
        if q in (val.lower(), vtbl.lower()):
            return "version"
        col = ref.split(".")[-1]
        in_p, in_v = col in probe_sdf.columns, col in ver_sdf.columns
        if in_p and in_v:
            raise ValueError(
                f"streaming temporal join: column {ref!r} is ambiguous "
                f"(in both {ptbl!r} and {vtbl!r}) — qualify it"
            )
        if in_v:
            return "version"
        return "probe"

    asof_col = _unq(fm.group("asof"), "AS OF column")
    if _side(fm.group("asof")) != "probe" or asof_col != probe_wm[0]:
        raise ValueError(
            f"streaming temporal join: AS OF must reference the probe "
            f"table's event-time attribute {probe_wm[0]!r} "
            f"(got {fm.group('asof')!r})"
        )
    onl, onr = fm.group("onl"), fm.group("onr")
    if _side(onl) == "version":
        onl, onr = onr, onl
    if _side(onl) != "probe" or _side(onr) != "version":
        raise ValueError(
            "streaming temporal join: ON must equate one probe column "
            "with one version column"
        )
    pkey, vkey = _unq(onl, "ON column"), _unq(onr, "ON column")

    # SELECT items: (side, source col, output alias) in statement order
    items: list[tuple[str, str, str]] = []
    for item in _split_top_commas(select_list):
        mi = re.match(r"^([\w.]+)(?:\s+AS\s+(\w+))?$", item.strip(), re.IGNORECASE)
        if mi is None:
            raise ValueError(
                f"streaming temporal join: unsupported SELECT item "
                f"{item!r} — items must be plain columns (optionally "
                "AS-aliased); compute expressions in a follow-up "
                "statement"
            )
        ref = mi.group(1)
        items.append((_side(ref), ref.split(".")[-1], mi.group(2) or ref.split(".")[-1]))

    if where is not None:
        # probe-only predicate, pushed below the join (Calc-under-
        # TemporalJoin): strip probe qualifiers quote-aware, reject
        # version references
        parts = re.split(r"('(?:[^']|'')*')", where)
        if re.search(rf"\b(?:{re.escape(val)}|{re.escape(vtbl)})\s*\.", _unquoted_text(where),
                     re.IGNORECASE):
            raise ValueError(
                "streaming temporal join: WHERE may reference probe "
                "columns only (version-side filters change which rows "
                "are VERSIONS — filter the version table in its DDL "
                "view instead)"
            )
        where = "".join(
            p if i % 2 else re.sub(
                rf"\b(?:{re.escape(pal)}|{re.escape(ptbl)})\s*\.", "", p,
                flags=re.IGNORECASE,
            )
            for i, p in enumerate(parts)
        )
        probe_sdf = probe_sdf.where(F.expr(where))

    return _plan_streaming_asof(
        probe_sdf, ver_sdf, ver_wm[0], pkey, vkey, asof_col, items, left_join,
        what="streaming temporal join",
    )


def _plan_streaming_asof(
    probe_sdf: DataFrame,
    ver_sdf: DataFrame,
    ver_ts_col: str,
    pkey: str,
    vkey: str,
    asof_col: str,
    items: list[tuple[str, str, str]],
    left_join: bool,
    what: str,
) -> DataFrame:
    """Shared tail of the two event-time temporal SQL forms (JOIN ...
    FOR SYSTEM_TIME AS OF and the legacy LATERAL TABLE(fn(ts))): rename
    the version key onto the probe key, ride the version timestamp as
    the ``__vts`` marker, run the as-of state machine, and project the
    SELECT items (INNER drops marker-null rows)."""
    from flink_1_16_0_src_spark.streaming.stateful import streaming_asof_join

    ver_items = [(c, a) for sd, c, a in items if sd == "version"]
    collide = [a for _c, a in ver_items if a in probe_sdf.columns]
    if collide:
        raise ValueError(
            f"{what}: version column(s) {collide} "
            "collide with probe column names — alias them (AS ...)"
        )
    ver_sel = [F.col(vkey).alias(pkey), F.col(ver_ts_col).alias("__vts")]
    ver_sel += [F.col(c).alias(a) for c, a in ver_items]
    right_vals = [a for _c, a in ver_items] + ["__vts"]
    out = streaming_asof_join(
        probe_sdf, ver_sdf.select(*ver_sel), pkey, asof_col, "__vts", right_vals,
    )
    if not left_join:
        out = out.where(F.col("__vts").isNotNull())
    sel = [
        (F.col(a) if sd == "version" else F.col(c).alias(a))
        for sd, c, a in items
    ]
    return out.select(*sel)


# materialized-history parquet dirs, one per (fn name, registration
# token) — see lower_streaming_temporal_fn. Keyed by a monotonically
# increasing token stamped at create_temporal_table_function time, NOT
# id(history_df): after a re-registration the old frame can be GC'd and
# a new frame may reuse the same id(), which would resurrect a stale
# materialized-history dir (wrong as-of results).
import itertools as _it

_TTF_REGISTRATION_COUNTER = _it.count()
_TTF_HISTORY_CACHE: dict[tuple, str] = {}


def lower_streaming_temporal_fn(
    sql: str,
    resolve: Callable[[str], tuple[DataFrame, tuple[str, str] | None]],
    temporal_fns: dict,
    spark: SparkSession,
) -> DataFrame:
    """STREAMING form of the legacy temporal table function join —
    ``SELECT ... FROM probe [AS p], LATERAL TABLE (rates(p.rowtime))
    [AS r] WHERE r.key = p.key [AND ...]`` (the reference's classic
    streaming rates example: TemporalTableFunctionImpl.java +
    LogicalCorrelateToJoinFromTemporalTableFunctionRule, executed by
    the same TemporalRowTimeJoinOperator as the FOR SYSTEM_TIME form).
    The registered history table becomes a one-shot file stream (the
    as-of state machine unions both sides), the function-alias equality
    conjunct is the join key, remaining WHERE conjuncts must be
    probe-side and push below the join. Inner semantics — version-less
    probe rows drop, as in the reference."""
    import os as _os
    import tempfile as _tf

    m = _TEMPORAL_FN_JOIN.match(sql.strip().rstrip(";").strip())
    if m is None:
        raise ValueError(
            "streaming LATERAL TABLE: supported shape is SELECT ... "
            "FROM <probe> [AS p], LATERAL TABLE (fn(p.<rowtime>)) "
            "[AS r] WHERE r.<key> = p.<key> [AND probe-filters]"
        )
    if m.group("fn") not in temporal_fns:
        raise ValueError(
            f"streaming LATERAL TABLE: {m.group('fn')!r} is not a "
            "registered temporal table function "
            "(create_temporal_table_function) — UDTF laterals are a "
            "batch surface"
        )
    if m.group("tail"):
        raise ValueError(
            "streaming LATERAL TABLE: GROUP/ORDER/LIMIT tails are out "
            "of scope — aggregate in a separate statement"
        )
    entry = temporal_fns[m.group("fn")]
    right_df, right_time, _pk = entry[:3]
    reg_token = entry[3] if len(entry) > 3 else id(right_df)
    lt = m.group("lt")
    la = (m.group("la") or lt).lower()
    ra = (m.group("ra") or m.group("fn")).lower()
    probe_sdf, probe_wm = resolve(lt)
    if probe_wm is None:
        raise ValueError(
            f"streaming LATERAL TABLE: probe table {lt!r} declares no "
            "WATERMARK — the function argument must be its event-time "
            "attribute"
        )
    arg_col = m.group("arg").split(".")[-1]
    if arg_col != probe_wm[0]:
        raise ValueError(
            f"streaming LATERAL TABLE: the function argument must be "
            f"the probe's event-time attribute {probe_wm[0]!r} "
            f"(got {m.group('arg')!r})"
        )

    def _side(ref: str) -> str:
        q = ref.split(".")[0].lower() if "." in ref else None
        if q == la:
            return "probe"
        if q == ra:
            return "version"
        col = ref.split(".")[-1]
        in_p, in_v = col in probe_sdf.columns, col in right_df.columns
        if in_p and in_v:
            raise ValueError(
                f"streaming LATERAL TABLE: column {ref!r} is ambiguous "
                "— qualify it"
            )
        return "version" if in_v else "probe"

    # WHERE: one version-key equality, rest are probe-side filters
    on_l = on_r = None
    residual: list[str] = []
    for part in _split_unquoted_and(m.group("cond") or ""):
        if not part.strip():
            continue
        em = re.match(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*$", part)
        if em and {_side(em.group(1)), _side(em.group(2))} == {"probe", "version"}:
            if on_l is not None:
                raise ValueError(
                    "streaming LATERAL TABLE: exactly one key equality "
                    "is supported (the function's primary key)"
                )
            a, b = em.group(1), em.group(2)
            if _side(a) == "version":
                a, b = b, a
            on_l, on_r = a.split(".")[-1], b.split(".")[-1]
        else:
            residual.append(part.strip())
    if on_l is None:
        raise ValueError(
            "streaming LATERAL TABLE: WHERE needs the function-key "
            "equality (e.g. WHERE r.currency = o.currency)"
        )
    items: list[tuple[str, str, str]] = []
    for item in _split_top_commas(m.group("select")):
        mi = re.match(r"^([\w.]+)(?:\s+AS\s+(\w+))?$", item.strip(), re.IGNORECASE)
        if mi is None:
            raise ValueError(
                f"streaming LATERAL TABLE: unsupported SELECT item "
                f"{item!r} — items must be plain columns"
            )
        ref = mi.group(1)
        items.append(
            (_side(ref), ref.split(".")[-1], mi.group(2) or ref.split(".")[-1])
        )
    if residual:
        bad = [r for r in residual if re.search(rf"\b{ra}\s*\.", r, re.IGNORECASE)]
        if bad:
            raise ValueError(
                "streaming LATERAL TABLE: non-key WHERE conjuncts must "
                "be probe-side (filter the history in "
                "create_temporal_table_function instead)"
            )
        cond = " AND ".join(
            re.sub(rf"\b(?:{re.escape(la)}|{re.escape(lt)})\s*\.", "", r,
                   flags=re.IGNORECASE)
            for r in residual
        )
        probe_sdf = probe_sdf.where(F.expr(cond))
    # the history is a bounded registered table — feed it to the as-of
    # union as a one-shot file stream. Materialize ONCE per registered
    # function (cache keyed by the registration token): repeated
    # statements over the same registration reuse the parquet dir
    # instead of leaking a fresh mkdtemp per lowering; re-registration
    # stamps a new token → new cache slot, never a stale dir.
    ckey = (m.group("fn"), reg_token)
    vdir = _TTF_HISTORY_CACHE.get(ckey)
    if vdir is None or not _os.path.isdir(vdir):
        vdir = _os.path.join(_tf.mkdtemp(prefix="ttf_stream_"), "versions")
        right_df.write.mode("overwrite").parquet(vdir)
        _TTF_HISTORY_CACHE[ckey] = vdir
    ver_sdf = spark.readStream.schema(right_df.schema).parquet(vdir)
    return _plan_streaming_asof(
        probe_sdf, ver_sdf, right_time, on_l, on_r, arg_col, items,
        left_join=False, what="streaming LATERAL TABLE",
    )


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
    fm = re.match(
        r"FROM\s+(\w+)"
        r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|HAVING\b|ORDER\b|LIMIT\b"
        r"|UNION\b|JOIN\b)\w+)?"
        r"\s*(.*)$",
        inner[fk:], re.IGNORECASE | re.DOTALL,
    )
    if fm is None:
        raise ValueError(
            "streaming Top-N: the subquery must read one named table "
            "(no joins — rank a pre-joined streaming view instead)"
        )
    tbl, tail = fm.group(1), fm.group(2).strip()
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
        pm = re.match(r"^([\w.]+)(?:\s+AS\s+(\w+))?$", it, re.IGNORECASE)
        if pm is None:
            raise ValueError(
                f"streaming Top-N: unsupported subquery item {it!r} — "
                "plain columns plus one ROW_NUMBER() OVER (...) AS rn"
            )
        col = pm.group(1).split(".")[-1]
        passthrough.append((col, pm.group(2) or col))
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
    sdf = resolver(tbl)
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
            om = re.match(r"^([\w.]+)(?:\s+AS\s+(\w+))?$", item.strip(),
                          re.IGNORECASE)
            if om is None:
                raise ValueError(
                    f"streaming Top-N: unsupported outer item {item!r}"
                )
            ref = om.group(1).split(".")[-1]
            al = om.group(2) or ref
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
        pm = re.match(r"^([\w.]+)(?:\s+AS\s+(\w+))?$", it, re.IGNORECASE)
        if pm is None:
            raise ValueError(
                f"streaming window Top-N: unsupported subquery item {it!r}"
            )
        col = pm.group(1).split(".")[-1]
        passthrough.append((col, pm.group(2) or col))
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
            om = re.match(r"^([\w.]+)(?:\s+AS\s+(\w+))?$", item.strip(),
                          re.IGNORECASE)
            if om is None:
                raise ValueError(
                    f"streaming window Top-N: unsupported outer item {item!r}"
                )
            ref = om.group(1).split(".")[-1]
            al = om.group(2) or ref
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
