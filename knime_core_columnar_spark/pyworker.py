"""A stat-guarded ``zipimporter.invalidate_caches`` for Spark's Python workers.

Spark runs ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``). Under Python
3.11 each ``zipimporter`` on ``sys.path_importer_cache`` then re-parses
the whole central directory of its archive in pure Python. A local-mode
worker of Spark 4.1 holds 93 path importers, 16 of them zipimporters:
two over the 5,359-entry Spark core jar and 14 over ``pyspark.zip`` and
its subpackages. On a 4-core host that one call took 0.23 s of every
task, and a 1-row ``mapInArrow`` took 0.28 s from submit to UDF entry
(median of 10 on ``local[1]``). Guarded, the call takes 0.1 ms and
submit to entry 0.11 s.

:func:`install` swaps in a version that re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed since that importer last read it,
the same version rule as ``catalog._registry._table_version``: a zip
rewritten in place is still picked up, and an archive that cannot be
stat'ed is always re-read. The package installs it on import inside a
Python worker only, so it takes effect from the task after a worker
first imports the engine; the driver's ``zipimport`` is untouched.

Starting workers from a daemon module that imports the engine
(``spark.python.daemon.module``) would also skip the re-parse, but that
import runs before any task ships an ``addPyFile`` zip: from another
working directory or on a cluster it fails, and every Python UDF with
it.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive changed since
    this importer last read it (stat'ed before the read, so a rewrite
    racing the read is seen on the next call)."""
    try:
        st = os.stat(self.archive)
        version = (st.st_mtime_ns, st.st_size)
    except OSError:
        version = None
    if version is None or getattr(self, "_read_version", None) != version:
        _reread(self)
        self._read_version = version


def install() -> None:
    """Guard every ``zipimporter`` of this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
