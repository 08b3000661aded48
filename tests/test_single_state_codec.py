"""Source-scan pin: every Python-state operator of the library stores
per-key row buffers through exactly one codec, ``stateful.RowState``:
its declared layout is one typed array per buffered column, and Spark
stores it as one binary field that only ``RowState`` pickles and reads
back through its restricted unpickler. A second encoding (JSON strings
per row, timestamps as text, a whitelist of carried columns, a pickled
pandas frame) reads rows back with other types than they were stored
with, or past the restricted unpickler, so a new operator must not
bring one back. The streaming statement set's SESSION branch
(``session.py``) is scanned too."""

from __future__ import annotations

import ast
import collections
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "flink_1_16_0_src_spark"
MODULES = [
    "streaming/stateful.py", "streaming/dedup.py", "streaming/joins.py", "streaming/late.py",
    "streaming/windows.py", "streaming/triggers.py", "operators/cep.py",
]
# modules with a state operator that may use JSON for other things
STATE_MODULES = MODULES + ["session.py"]

# The one exemption: the per-window ``Trigger`` state dict of
# triggered_tumble_window. Its documented contract is "a JSON-serializable
# dict" whose format the user's trigger owns, so the library stores it as
# one JSON string per open window (the map value of ``__trigger_state``,
# keyed by the typed window start): one json.loads when the state is
# read, one json.dumps when it is written. It holds no row.
JSON_EXEMPTION = ("streaming/triggers.py", {"loads": 1, "dumps": 1})


def _trees(modules=MODULES):
    for name in modules:
        yield name, ast.parse((PACKAGE / name).read_text())


def _functions(tree):
    """Module-level functions and the methods of module-level classes."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from (n for n in node.body if isinstance(n, ast.FunctionDef))


def _callee(node: ast.Call) -> str | None:
    f = node.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def test_no_json_state():
    offenders, exempt = [], collections.Counter()
    for name, tree in _trees():
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                mods = [a.name for a in node.names] + [getattr(node, "module", None)]
                if "json" in mods and name != JSON_EXEMPTION[0]:
                    offenders.append((name, node.lineno, "import json"))
            elif (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "json"
            ):
                if name == JSON_EXEMPTION[0]:
                    exempt[node.attr] += 1
                else:
                    offenders.append((name, node.lineno, f"json.{node.attr}"))
    assert not offenders, f"JSON state encoding: {offenders}"
    assert exempt == JSON_EXEMPTION[1], f"JSON beyond the Trigger state dict: {dict(exempt)}"


def test_no_string_array_state_field():
    offenders = []
    for name, tree in _trees():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and _callee(node) == "ArrayType"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and _callee(node.args[0]) == "StringType"
            ):
                offenders.append((name, node.lineno))
    assert not offenders, f"ArrayType(StringType()) row buffer: {offenders}"


def _scalar_struct(node) -> bool:
    """A literal ``StructType([...])`` with no ``ArrayType`` in it: state
    of scalar fields only, which holds no row buffer."""
    return (
        isinstance(node, ast.Call)
        and _callee(node) == "StructType"
        and not any(
            isinstance(n, ast.Call) and _callee(n) == "ArrayType" for n in ast.walk(node)
        )
    )


def test_every_state_schema_comes_from_the_codec():
    """The state-schema argument of every ``applyInPandasWithState`` is
    ``<x>.schema`` where ``x`` is a ``RowState(...)`` of the same
    operator, or a name bound to a literal ``StructType`` of scalar
    fields (an operator that buffers no rows)."""
    calls, offenders = 0, []
    for name, tree in _trees(STATE_MODULES):
        for fn in _functions(tree):
            assigns = [
                (t.id, node.value)
                for node in ast.walk(fn)
                if isinstance(node, ast.Assign)
                for t in node.targets
                if isinstance(t, ast.Name)
            ]
            codecs = {n for n, v in assigns if isinstance(v, ast.Call) and _callee(v) == "RowState"}
            scalar = {n for n, v in assigns if _scalar_struct(v)}
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and _callee(node) == "applyInPandasWithState":
                    calls += 1
                    arg = node.args[2] if len(node.args) > 2 else None
                    from_codec = (
                        isinstance(arg, ast.Attribute)
                        and arg.attr == "schema"
                        and isinstance(arg.value, ast.Name)
                        and arg.value.id in codecs
                    )
                    if not (from_codec or (isinstance(arg, ast.Name) and arg.id in scalar)):
                        offenders.append((name, fn.name, node.lineno))
    assert calls >= 17, f"found only {calls} applyInPandasWithState calls"
    assert not offenders, f"state schema not from RowState: {offenders}"


def test_only_the_codec_pickles():
    """``pickle`` appears in ``stateful.py`` alone, where ``RowState``
    writes and reads its binary field."""
    offenders = []
    for name, tree in _trees(STATE_MODULES):
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                mods = [a.name for a in node.names] + [getattr(node, "module", None)]
                if any(m and "pickle" in m for m in mods) and name != "streaming/stateful.py":
                    offenders.append((name, node.lineno))
    assert not offenders, f"state pickled outside RowState: {offenders}"
