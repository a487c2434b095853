"""The at-rest index guards must live in one place.

``operators/dedup.py`` holds the at-rest index protocol: ``write_index``
stamps a family's scheme, ``read_index`` checks it, ``commit_index``
refuses a path list and an epoch-partitioned root. A module that calls
the guards underneath them (``check_index_meta``, ``_refuse_epoch_layout``,
``write_index_meta``) starts a copy that can drift from the others, so
this reads the source (without importing it) and allows those calls only
inside the three protocol functions.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
DEDUP = REPO / "klepto_spark" / "operators" / "dedup.py"
GUARDS = {"check_index_meta", "_refuse_epoch_layout", "write_index_meta"}
PROTOCOL = {"write_index", "read_index", "commit_index"}


def _called(node) -> set[str]:
    """Guard names ``node`` calls, bare or as an attribute."""
    out = set()
    for call in ast.walk(node):
        if isinstance(call, ast.Call):
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name in GUARDS:
                out.add(name)
    return out


def test_no_module_outside_the_protocol_calls_the_guards():
    sources = [p for p in (REPO / "klepto_spark").rglob("*.py") if p != DEDUP]
    sources.append(REPO / "__spark_entry__.py")
    offenders = {str(p.relative_to(REPO)): sorted(_called(ast.parse(
        p.read_text()))) for p in sources}
    assert {p: g for p, g in offenders.items() if g} == {}


def test_only_the_protocol_functions_call_the_guards_in_dedup():
    tree = ast.parse(DEDUP.read_text())
    callers = {node.name: _called(node) for node in tree.body
               if isinstance(node, ast.FunctionDef)}
    assert {n for n, g in callers.items() if g} == PROTOCOL
    # each guard is reached through the protocol, and only through it
    assert set().union(*callers.values()) == GUARDS
    # the meta file is written by the stamp alone
    writers = {node.name for node in tree.body
               if isinstance(node, ast.FunctionDef)
               and any(isinstance(n, ast.Name) and n.id == "INDEX_META"
                       for n in ast.walk(node))}
    assert writers == {"write_index_meta", "check_index_meta"}
