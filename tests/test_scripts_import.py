"""Every script under ``scripts/`` and ``bench_extra.py`` still imports.

Each file is loaded as a module (``importlib.util.spec_from_file_location``)
without running its ``main``, so a module-level import of a name the
package no longer has fails here instead of on the next manual run.
Imports made inside ``main()`` (or any other function) are not covered.
The scripts' shared BENCH/BASELINE.md section writer is tested on strings.
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
    assert callable(_load(path, monkeypatch).main)


def _load(path, monkeypatch):
    # scripts prepend the repo to sys.path at import time; undo it after
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "_script_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_baseline_section_rewrite_keeps_notes_below_the_table(monkeypatch):
    """memory_probe.py and ooxml_latency.py replace only their generated
    header line and table rows; a note written under the table, and the
    sections around it, survive."""
    replace = _load(
        os.path.join(REPO, "scripts", "ooxml_latency.py"), monkeypatch
    ).replace_generated_section
    doc = (
        "# Baseline\n\n## Peak memory (measured 2026-01-01)\n\n"
        "| case | MB |\n|---|---|\n| a | 1.0 |\n| b | 2.0 |\n\n"
        "Addendum: b was re-run by hand.\n\n## Later section\n\nkept\n"
    )
    section = ("\n## Peak memory (measured 2026-02-02)\n\n"
               "| case | MB |\n|---|---|\n| a | 1.5 |\n")
    assert replace(doc, "## Peak memory", section) == (
        "# Baseline\n\n## Peak memory (measured 2026-02-02)\n\n"
        "| case | MB |\n|---|---|\n| a | 1.5 |\n\n"
        "Addendum: b was re-run by hand.\n\n## Later section\n\nkept\n"
    )
    # no such section yet: appended
    assert replace("# Baseline\n", "## Peak memory", section) == (
        "# Baseline\n" + section)
