"""Lazy zip-importer invalidation (``zipimport_lazy``), checked without Spark.

Every PySpark task calls ``importlib.invalidate_caches()``; these tests pin
that the package makes that call cheap for zip importers while keeping the
import semantics, and that a worker unpickling a kernel gets the fix.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import machine_readability_checker_spark  # noqa: F401  (installs the backport)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, pkg, modules):
    """A zip holding package ``pkg`` with a subpackage ``sub`` and ``modules``
    (name -> value) as ``pkg/<name>.py``."""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/sub/__init__.py", "")
        for name, value in modules.items():
            zf.writestr(f"{pkg}/{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """(zip path, package name) on sys.path; the package and its subpackage
    are imported so the archive has two cached importers."""
    pkg = f"lazyzip_{tmp_path.name.replace('-', '_')}"
    path = str(tmp_path / "mods.zip")
    _write_zip(path, pkg, {"a": 1})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{pkg}.sub")
    yield path, pkg
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_invalidate_caches_does_not_reread_zip_directories(zipped, monkeypatch):
    path, pkg = zipped
    importers = [f for k, f in sys.path_importer_cache.items()
                 if k.startswith(path) and isinstance(f, zipimport.zipimporter)]
    assert len(importers) == 2
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []
    # the next lookup re-reads the archive once, for all its importers
    assert importlib.import_module(f"{pkg}.a").VALUE == 1
    assert calls == [path]


def test_rewritten_zip_is_importable_after_invalidation(zipped):
    path, pkg = zipped
    assert importlib.import_module(f"{pkg}.a").VALUE == 1
    with pytest.raises(ImportError):
        importlib.import_module(f"{pkg}.b")
    _write_zip(path, pkg, {"a": 1, "b": 2})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.b").VALUE == 2


def test_deleted_zip_lookup_raises_import_error(zipped):
    path, pkg = zipped
    _write_zip(path, pkg, {"a": 1, "c": 3})
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    for _ in range(2):
        with pytest.raises(ImportError):
            importlib.import_module(f"{pkg}.c")
    assert path not in zipimport._zip_directory_cache


_UNPICKLE = """
import json, pickle, sys, zipimport
before = hasattr(zipimport.zipimporter, "_get_files")
loaded = "machine_readability_checker_spark" in sys.modules
pickle.loads(sys.stdin.buffer.read())
print(json.dumps({"before": before, "loaded_before": loaded,
                  "after": hasattr(zipimport.zipimporter, "_get_files")}))
"""


def test_unpickling_the_kernel_installs_lazy_invalidation():
    from pyspark import cloudpickle

    from machine_readability_checker_spark.operators.extract import _kernel

    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _UNPICKLE], input=cloudpickle.dumps(_kernel),
        capture_output=True, env=env, cwd=ROOT, check=True,
    )
    state = json.loads(out.stdout.decode().strip().splitlines()[-1])
    assert state["loaded_before"] is False
    assert state["after"] is True
    if sys.version_info < (3, 13):
        assert state["before"] is False
