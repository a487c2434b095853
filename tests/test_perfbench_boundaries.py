"""The benchmark's trace boundaries must stay real functions.

``perfbench/spans.py`` wraps the engine functions listed in ``WRAPPED``
for its traced pass; a boundary removed or renamed in the engine makes
``Tracer.installed`` raise ``KeyError`` there. The benchmark's own tests
are not part of the ``tests/`` run, so this reads ``WRAPPED`` from the
source (without importing or changing it) and resolves every entry the
way the tracer does.
"""

import ast
import importlib
import inspect
from pathlib import Path

SPANS = Path(__file__).resolve().parent.parent / "perfbench" / "spans.py"


def _wrapped() -> tuple:
    for node in ast.parse(SPANS.read_text()).body:
        if (isinstance(node, ast.Assign)
                and [t.id for t in node.targets] == ["WRAPPED"]):
            return ast.literal_eval(node.value)
    raise AssertionError(f"no WRAPPED in {SPANS}")


def test_perfbench_wrapped_boundaries_resolve_to_functions():
    wrapped = _wrapped()
    assert wrapped
    for module, attr in wrapped:
        owner = importlib.import_module(module)
        *path, name = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        # the tracer reads the owner's own __dict__, so must this
        assert inspect.isfunction(owner.__dict__.get(name)), (module, attr)
