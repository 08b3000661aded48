"""Source-scan pin: every Python-state operator of the library stores
per-key row buffers through exactly one layout, ``stateful.RowState`` —
one typed array per buffered column. A second encoding (JSON strings per
row, timestamps as text, a whitelist of carried columns) reads rows back
with other types than they were stored with, so a new operator must
not bring one back."""

from __future__ import annotations

import ast
import collections
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "flink_1_16_0_src_spark"
MODULES = [
    "streaming/stateful.py", "streaming/dedup.py", "streaming/joins.py", "streaming/late.py",
    "streaming/windows.py", "streaming/triggers.py", "operators/cep.py",
]

# The one exemption: the per-window ``Trigger`` state dict of
# triggered_tumble_window. Its documented contract is "a JSON-serializable
# dict" whose format the user's trigger owns, so the library stores it as
# one JSON string per open window (the map value of ``__trigger_state``,
# keyed by the typed window start): one json.loads when the state is
# read, one json.dumps when it is written. It holds no row.
JSON_EXEMPTION = ("streaming/triggers.py", {"loads": 1, "dumps": 1})


def _trees():
    for name in MODULES:
        yield name, ast.parse((PACKAGE / name).read_text())


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
    for name, tree in _trees():
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
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
    assert calls >= 16, f"found only {calls} applyInPandasWithState calls"
    assert not offenders, f"state schema not from RowState: {offenders}"
