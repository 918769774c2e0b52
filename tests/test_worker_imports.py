"""What a Python worker imports: the package zip the driver ships, the
native walker built from inside that zip, and the zip importers the
conversion binding drops so later tasks stop re-reading archives.
Most tests use a stub session that records ``addPyFile``; one starts a
real local session in a subprocess outside the checkout."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import tempfile
import types
import zipfile
import zipimport

from anytomd_spark import pipeline
from anytomd_spark.kernels._html_native import convert_html_native


def _ship(tmp_dir, monkeypatch) -> str:
    """Run ``_ship_package`` on a stub session with the temp dir at
    ``tmp_dir``; returns the one path it added."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_dir))
    added: list[str] = []
    sc = types.SimpleNamespace(addPyFile=added.append)
    pipeline._ship_package(types.SimpleNamespace(sparkContext=sc))
    assert len(added) == 1 and sc._anytomd_shipped
    return added[0]


def test_drop_zip_importers_stops_archive_rereads(tmp_path, monkeypatch):
    name = "zipped_probe_pkg"
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}/__init__.py", "")
        zf.writestr(f"{name}/sub.py", "VALUE = 7\n")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(f"{name}.sub").VALUE == 7
        reads.clear()
        importlib.invalidate_caches()
        assert archive in reads  # every cached zipimporter re-reads

        pipeline._drop_zip_importers()
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        # the package still imports, from the directory cache
        for mod in (f"{name}.sub", name):
            del sys.modules[mod]
        assert importlib.import_module(f"{name}.sub").VALUE == 7
        assert reads == []
    finally:
        for mod in (f"{name}.sub", name):
            sys.modules.pop(mod, None)
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        zipimport._zip_directory_cache.pop(archive, None)


def test_ship_package_replaces_a_stale_zip(tmp_path, monkeypatch):
    stale = tmp_path / f"anytomd_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w"):
        pass  # an empty archive left by an earlier process with this pid
    assert _ship(tmp_path, monkeypatch) == str(stale)
    with zipfile.ZipFile(stale) as zf:
        names = zf.namelist()
    assert "anytomd_spark/pipeline.py" in names
    assert "anytomd_spark/kernels/_html_fast.c" in names
    assert os.listdir(tmp_path) == [stale.name]  # no temporary left behind


_PROBE = r"""
import json, sys
import anytomd_spark
from anytomd_spark.kernels._html_native import _get_lib, convert_html_native
print(json.dumps({
    "file": anytomd_spark.__file__,
    "lib": _get_lib() is not None,
    "out": convert_html_native(sys.argv[1]),
}))
"""


def test_native_walker_builds_from_the_shipped_zip(tmp_path, monkeypatch):
    """A worker that imports the package from the shipped zip (any cwd
    other than the checkout, or ``--py-files``) compiles the walker from
    the source inside the zip and converts exactly as a directory import
    does."""
    archive = _ship(tmp_path, monkeypatch)
    cwd, so_dir = tmp_path / "cwd", tmp_path / "so"
    cwd.mkdir()
    so_dir.mkdir()  # empty: the library must be built, not reused
    doc = ("<title>T</title><h1>Head</h1><p>a <b>b</b></p>"
           "<table><tr><th>x</th><th>y</th></tr><tr><td>1|2</td></tr></table>")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYTHONPATH=archive, TMPDIR=str(so_dir))
    child = subprocess.run(
        [sys.executable, "-c", _PROBE, doc], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert child.returncode == 0, child.stderr[-2000:]
    got = json.loads(child.stdout)
    assert got["file"].startswith(archive + os.sep)
    assert got["lib"]
    assert [f for f in os.listdir(so_dir) if f.endswith(".so")]
    want = convert_html_native(doc)
    assert want is not None and got["out"] == want


_SESSION_PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])  # the driver imports the checkout
from anytomd_spark.pipeline import build_session

def probe(batches):
    import pandas as pd
    from pyspark import SparkFiles
    import anytomd_spark
    from anytomd_spark.kernels._html_native import _get_lib
    for _ in batches:
        yield pd.DataFrame({
            "file": [anytomd_spark.__file__],
            "user_files": [SparkFiles.getRootDirectory()],
            "lib": [_get_lib() is not None],
        })

spark = build_session(master="local[1]",
                      extra_conf={"spark.driver.memory": "1g"})
row = spark.range(1, numPartitions=1).mapInPandas(
    probe, "file string, user_files string, lib boolean").collect()[0]
print(json.dumps(row.asDict()))
spark.stop()
"""


def test_worker_imports_the_shipped_zip_outside_the_checkout(tmp_path):
    """A session started from a directory outside the checkout: its
    Python worker imports the package from the zip in Spark's
    ``userFiles`` directory, and the native walker loads there."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    child = subprocess.run(
        [sys.executable, "-c", _SESSION_PROBE, repo], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert child.returncode == 0, child.stderr[-2000:]
    got = json.loads(child.stdout.strip().splitlines()[-1])
    archive, _, inner = got["file"].partition(".zip" + os.sep)
    assert inner == os.path.join("anytomd_spark", "__init__.py")
    assert os.path.dirname(archive) == got["user_files"]
    assert os.path.basename(got["user_files"]).startswith("userFiles-")
    assert got["lib"]
