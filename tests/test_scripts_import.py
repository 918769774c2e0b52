"""Every script under ``scripts/`` and ``bench_extra.py`` still imports.

Each file is loaded as a module (``importlib.util.spec_from_file_location``)
without running its ``main``, so a module-level import of a name the
package no longer has fails here instead of on the next manual run.
Imports made inside ``main()`` (or any other function) are not covered.
``scripts/run_scaling.py`` is a module, not a script: it is checked for
the ``host_control`` that ``bench.py`` and ``perfbench/run.py`` import.
The scripts' shared BENCH/BASELINE.md section writer is tested on strings,
and ``bench_extra.py``'s leg names are validated without a JVM.
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
    entry = {"run_scaling.py": "host_control"}.get(
        os.path.basename(path), "main")
    assert callable(getattr(_load(path, monkeypatch), entry))


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


class _SessionStarted(Exception):
    pass


def test_bench_extra_validates_legs_before_the_session(monkeypatch):
    """An unknown leg exits 2 before any JVM starts; the two convert legs
    and every queries() name pass validation and reach the session."""
    import __spark_entry__ as entrymod
    from anytomd_spark import pipeline

    def no_session(**_kw):
        raise _SessionStarted

    monkeypatch.setattr(pipeline, "build_session", no_session)
    main = _load(os.path.join(REPO, "bench_extra.py"), monkeypatch).main

    monkeypatch.setattr(sys, "argv", ["bench_extra.py", "dedup_exact",
                                      "no_such_leg"])
    with pytest.raises(SystemExit) as exc:
        main()
    assert exc.value.code == 2

    legs = ["convert_pipeline", "convert_pipeline_salted",
            *entrymod.queries()]
    monkeypatch.setattr(sys, "argv", ["bench_extra.py", *legs])
    with pytest.raises(_SessionStarted):
        main()
