"""Source-scan pin: ``session.py`` finds the DDL sources a statement reads,
and binds them to their streams, only through the statement reader and
binder of ``sql_clauses`` (``read_statement``, ``read_relations``,
``bind_relations``). A word-boundary regex built from a table name also
matches the name where it is a column, an alias or a qualifier, and a
split on string literals of its own is a second quote rule; either one
in ``session.py`` brings back a per-caller rule the reader replaced."""

from __future__ import annotations

import ast
import pathlib

SESSION = pathlib.Path(__file__).resolve().parents[1] / "flink_1_16_0_src_spark" / "session.py"
WORD_START = r"(?<![\w.])"
LITERAL = r"'(?:[^']|'')*'"


def _constants(node):
    return [n.value for n in ast.walk(node)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)]


def test_no_word_boundary_regex_from_a_table_name():
    """No f-string or string concatenation in ``session.py`` puts
    ``re.escape(<name>)`` inside a ``(?<![\\w.])`` word match."""
    offenders = set()
    for node in ast.walk(ast.parse(SESSION.read_text())):
        if not isinstance(node, (ast.JoinedStr, ast.BinOp)):
            continue
        escapes = any(
            (isinstance(n, ast.Attribute) and n.attr == "escape")
            or (isinstance(n, ast.Name) and n.id == "escape")
            for n in ast.walk(node)
        )
        if escapes and any(WORD_START in c for c in _constants(node)):
            offenders.add(node.lineno)
    assert not offenders, f"table-name word regex in session.py, lines {sorted(offenders)}"


def test_no_literal_split_of_its_own():
    """``session.py`` holds no string-literal pattern of its own; it
    uses ``sql_clauses._LITERAL_SPLIT`` or the reader."""
    offenders = sorted(
        node.lineno for node in ast.walk(ast.parse(SESSION.read_text()))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and LITERAL in node.value
    )
    assert not offenders, f"string-literal split in session.py, lines {offenders}"
