"""No top-level name in ``anytomd_spark/`` is dead.

Every module-level ``def``, ``class`` and assignment target in the
package must be loaded somewhere in the repo's Python: the package
itself, ``scripts/``, ``tests/``, ``perfbench/``, ``__spark_entry__.py``
or ``bench*.py``. A load is a ``Name`` read, an attribute access, a
``from ... import`` of the name, or an identifier-shaped string constant
(so ``getattr`` lookups and ``__all__`` entries count). Dunder names are
exempt. The scan is by name, not by binding, so it under-reports: a dead
name that shares its spelling with a live one elsewhere is not caught.
"""

from __future__ import annotations

import ast
import os
from glob import glob

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "anytomd_spark")


def _py_files(*roots: str) -> list[str]:
    out = []
    for root in roots:
        if os.path.isfile(root):
            out.append(root)
        else:
            out.extend(glob(os.path.join(root, "**", "*.py"), recursive=True))
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _target_names(target: ast.expr):
    if isinstance(target, ast.Name):
        yield target.id
    elif isinstance(target, (ast.Tuple, ast.List)):
        for elt in target.elts:
            yield from _target_names(elt)


def _definitions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                yield from _target_names(target)
        elif isinstance(node, ast.AnnAssign):
            yield from _target_names(node.target)


def _loads(tree: ast.Module) -> set[str]:
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            used.add(node.id)
        elif (isinstance(node, ast.Attribute)
              and isinstance(node.ctx, ast.Load)):
            used.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            used.update(alias.name for alias in node.names)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            used.add(node.value)
    return used


def test_every_top_level_name_is_loaded():
    scanned = _py_files(
        PACKAGE, os.path.join(REPO, "scripts"), os.path.join(REPO, "tests"),
        os.path.join(REPO, "perfbench"),
        os.path.join(REPO, "__spark_entry__.py"),
        *glob(os.path.join(REPO, "bench*.py")),
    )
    used = set()
    for path in scanned:
        used |= _loads(_parse(path))
    dead = sorted(
        f"{os.path.relpath(path, REPO)}:{name}"
        for path in _py_files(PACKAGE)
        for name in set(_definitions(_parse(path)))
        if name not in used
        and not (name.startswith("__") and name.endswith("__"))
    )
    assert not dead, "top-level names never loaded:\n" + "\n".join(dead)
