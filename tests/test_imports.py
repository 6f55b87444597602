"""Import-resolution guard: every ``tantalus_spark`` import written in the
engine, the tests, the benchmark or the scripts names a module that
exists and names that exist in it. Function-local imports count too: a
lazy import left pointing at a deleted module fails only when its
function runs, which no other test may reach. Needs no Spark session."""

from __future__ import annotations

import ast
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ("tantalus_spark", "tests", "perfbench", "scripts")


def _engine_imports():
    """(file:line, module, names) for every tantalus_spark import; names
    is empty for a plain ``import``."""
    for root in ROOTS:
        for dirpath, _, files in os.walk(os.path.join(REPO, root)):
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                where = os.path.relpath(path, REPO)
                for node in ast.walk(tree):
                    if isinstance(node, ast.Import):
                        for alias in node.names:
                            if alias.name.split(".")[0] == "tantalus_spark":
                                yield (f"{where}:{node.lineno}",
                                       alias.name, [])
                    elif (isinstance(node, ast.ImportFrom) and node.module
                          and node.level == 0 and
                          node.module.split(".")[0] == "tantalus_spark"):
                        yield (f"{where}:{node.lineno}", node.module,
                               [a.name for a in node.names])


def test_every_engine_import_resolves():
    dangling, seen = [], 0
    for where, module, names in _engine_imports():
        seen += 1
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            dangling.append(f"{where}: {module} ({exc})")
            continue
        for name in names:
            if hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                dangling.append(f"{where}: {module}.{name}")
    assert seen > 100, seen               # the walk really found the imports
    assert not dangling, "\n".join(dangling)
