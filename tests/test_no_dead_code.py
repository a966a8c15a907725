"""Guard against code that nothing calls: every top-level, undecorated
function or class in ``nsp_bolt_pipeline_spark/`` and ``tools/``, and
every module-level name bound by a plain or annotated assignment
(dunders such as ``__all__`` exempt), must be referenced somewhere in
the repo's Python — the package, tools, tests, perfbench,
``bench.py`` or ``__spark_entry__.py``. The binding itself does not
count as a reference.

A reference is any use of the name as an identifier (a call, an
attribute access, an import) or as an identifier-shaped string
constant (a ``getattr``/registry lookup by name). The match is by name
across all files, so it errs towards keeping code: a helper whose name
is reused elsewhere passes. Decorated definitions (registry
``@query`` entries, pytest fixtures) are reached through their
decorator and are not checked.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKED = ("nsp_bolt_pipeline_spark", "tools")
SCANNED_DIRS = CHECKED + ("tests", "perfbench")
SCANNED_FILES = ("bench.py", "__spark_entry__.py")


def _python_files():
    for d in SCANNED_DIRS:
        for root, _dirs, files in os.walk(os.path.join(REPO, d)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(root, f)
    for f in SCANNED_FILES:
        yield os.path.join(REPO, f)


def _references(tree: ast.AST) -> Counter:
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                and node.value.isidentifier():
            refs[node.value] += 1
    return refs


def unreferenced_definitions() -> list[str]:
    refs: Counter = Counter()
    defs: list[tuple[str, int, str]] = []
    for path in _python_files():
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        refs.update(_references(tree))
        rel = os.path.relpath(path, REPO)
        if rel.split(os.sep)[0] not in CHECKED:
            continue
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.decorator_list:
                defs.append((rel, node.lineno, node.name))
            for name in _assigned_names(node):
                refs[name] -= 1  # the binding's own Name node
                if not (name.startswith("__") and name.endswith("__")):
                    defs.append((rel, node.lineno, name))
    return [
        f"{rel}:{line} {name}" for rel, line, name in defs if refs[name] <= 0
    ]


def _assigned_names(node: ast.stmt) -> list[str]:
    """Names a module-level ``x = ...``/``x: T = ...`` statement binds
    (tuple targets unpacked)."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    out, stack = [], list(targets)
    while stack:
        t = stack.pop()
        if isinstance(t, ast.Name):
            out.append(t.id)
        elif isinstance(t, (ast.Tuple, ast.List)):
            stack.extend(t.elts)
    return out


def test_every_top_level_definition_is_referenced():
    dead = unreferenced_definitions()
    assert not dead, "defined but referenced nowhere:\n" + "\n".join(dead)
