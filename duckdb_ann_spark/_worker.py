"""Worker-side zip-directory guard: stop every PySpark task from
re-reading the archives its worker imports from.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark/worker_util.py`, `setup_spark_files`). On CPython
< 3.13 that makes each `zipimport.zipimporter` re-read the whole central
directory of its archive, eagerly. Spark puts `pyspark.zip` first on
every worker's `PYTHONPATH` and the import system holds one importer per
package prefix inside it, so a task re-parses that ~27k-entry directory
many times over before it runs any user code: on a 4-core host that is
most of the ~0.25 s of CPU a trivial `mapInArrow` task costs.

`install()` wraps `zipimporter.invalidate_caches` so an importer
re-reads its archive only when the archive file changed since that
importer last read it (`(st_mtime_ns, st_size, st_ino)`). An unchanged
archive then behaves as on CPython 3.13, whose `invalidate_caches` only
drops the cached directory and re-reads lazily. A changed archive is
still re-read, and a newly added one (`sc.addPyFile`) gets a new
importer with nothing remembered, so it is read as before.

The guard acts only inside a PySpark Python worker, recognised by the
`PYTHON_WORKER_FACTORY_SECRET` variable Spark's `PythonWorkerFactory`
gives its workers; the driver never has it. The package calls
`install()` on import, so any task whose function imports the package
installs it for every later task its (reused) worker runs. `install()`
also records the current key of every importer already in
`sys.path_importer_cache`: the task that installs the guard re-read
them all at its start (or created them since), so only a fresh
worker's first task pays the re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_MARK = "_duckdb_ann_spark_zip_guard"
_KEY = "_duckdb_ann_spark_archive_key"


def install() -> bool:
    """Install the guard where it applies; idempotent. → whether it is
    active in this process."""
    if sys.version_info >= (3, 13) or not os.environ.get(
        "PYTHON_WORKER_FACTORY_SECRET"
    ):
        return False
    if active():
        return True
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            key = _archive_key(self.archive)
            if self.__dict__.get(_KEY) == key:
                return
        except Exception:  # the guard must never fail an import
            return original(self)
        # stat before the read: a write racing the read re-reads next time
        original(self)
        self.__dict__[_KEY] = key

    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                importer.__dict__[_KEY] = _archive_key(importer.archive)
            except Exception:  # unrecorded: the next call re-reads it
                pass
    setattr(invalidate_caches, _MARK, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def _archive_key(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def active() -> bool:
    """Whether the guard is installed in this process."""
    return bool(getattr(zipimport.zipimporter.invalidate_caches, _MARK, False))
