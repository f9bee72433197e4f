"""The package import makes zipimporters re-read an archive's directory only
when the archive changed (CPython < 3.13; `radar_output_restructure_spark/
__init__.py`)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import radar_output_restructure_spark as pkg

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 invalidates zip caches lazily"
)


def _zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _zip(archive, ["zipgate_m1"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zipgate_m1", "zipgate_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipgate_m1").NAME == "zipgate_m1"

    reads: list[str] = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()  # first invalidation after import reads
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    _zip(archive, ["zipgate_m1", "zipgate_m2"])  # a new inode
    importlib.invalidate_caches()
    assert reads.count(archive) >= 1
    assert importlib.import_module("zipgate_m2").NAME == "zipgate_m2"

    # installing again keeps the one wrapper
    method = zipimport.zipimporter.invalidate_caches
    pkg._skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is method


def test_unreadable_archive_keeps_original_behaviour(tmp_path, monkeypatch):
    archive = str(tmp_path / "gone.zip")
    _zip(archive, ["zipgate_m3"])
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    os.remove(archive)
    importer.invalidate_caches()  # stat fails: the original empties it
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_reused_worker_task_reads_no_zip_directory():
    """Three one-task jobs on local[1] (scripts/pytask_cost.py): pyspark's
    worker invalidates import caches before every task; from the third task
    on, it re-reads none of Spark's archives."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "pytask_cost.py"),
         "--tasks", "3", "--json"],
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    rows = json.loads(out.strip().splitlines()[-1])
    assert [r["same_worker"] for r in rows] == [True, True]
    assert rows[0]["zip_reads"] > 0  # the first invalidation after install
    assert rows[1]["zip_reads"] == 0
