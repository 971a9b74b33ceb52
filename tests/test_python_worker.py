"""The zipimporter guard of :mod:`knime_core_columnar_spark.pyworker`.

The guard stops ``importlib.invalidate_caches()`` from re-parsing a zip
archive whose ``(st_mtime_ns, st_size)`` has not changed. It is
installed in Spark's Python workers only; the guard tests below patch it
into the driver's ``zipimporter`` for their own duration.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from knime_core_columnar_spark import pyworker
from knime_core_columnar_spark.sources.io import _decode_arrow_ipc


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture()
def guarded_zip(tmp_path, monkeypatch):
    """(archive path, module in it, read counter): the archive is on
    sys.path with the guard installed, and ``reads[archive]`` counts the
    central-directory parses of that archive."""
    archive = str(tmp_path / "lib.zip")
    mod = f"zmod_{uuid.uuid4().hex[:8]}"
    _write_zip(archive, {mod: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker._invalidate_if_changed)
    reads: dict[str, int] = {}
    read_directory = zipimport._read_directory

    def counting(path):
        reads[path] = reads.get(path, 0) + 1
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert importlib.import_module(mod).VALUE == 1
    importlib.invalidate_caches()  # first guarded call: records the version
    yield archive, mod, reads
    for name in [m for m in sys.modules if m.startswith(mod)]:
        del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_zip_is_not_reread(guarded_zip):
    archive, _mod, reads = guarded_zip
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.get(archive, 0) == 0


def test_rewritten_zip_is_reread(guarded_zip):
    archive, mod, reads = guarded_zip
    fresh = f"{mod}_fresh"
    _write_zip(archive, {mod: "VALUE = 2\n", fresh: "VALUE = 3\n"})
    st = os.stat(archive)
    # a later mtime even where the filesystem's clock is coarse
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.get(archive, 0) == 1
    assert importlib.import_module(fresh).VALUE == 3


def test_driver_zipimport_is_untouched():
    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches is pyworker._reread


def test_engine_kernel_installs_guard_in_worker(spark):
    """A module-level engine kernel is pickled by reference, so shipping
    one imports the engine in the worker, which installs the guard
    before the task runs."""
    kernel = _decode_arrow_ipc

    def probe(batches):
        assert callable(kernel)
        import zipimport as zi

        method = zi.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame({"method": [f"{method.__module__}.{method.__qualname__}"]})

    got = {r["method"] for r in spark.range(2, numPartitions=2)
           .mapInPandas(probe, "method string").collect()}
    assert got == {"knime_core_columnar_spark.pyworker._invalidate_if_changed"}
