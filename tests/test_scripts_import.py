"""Every script under ``scripts/`` and ``bench_extra.py`` still imports.

Each file is loaded as a module (``importlib.util.spec_from_file_location``)
without running its ``main``, so a module-level import of a name the
package no longer has fails here instead of on the next manual run.
Imports made inside ``main()`` (or any other function) are not covered.
"""

from __future__ import annotations

import importlib.util
import os
import sys
from glob import glob

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob(os.path.join(REPO, "scripts", "*.py"))) + [
    os.path.join(REPO, "bench_extra.py")
]


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[os.path.relpath(p, REPO) for p in SCRIPTS]
)
def test_script_imports(path, monkeypatch):
    # scripts prepend the repo to sys.path at import time; undo it after
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "_script_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(module.main)
