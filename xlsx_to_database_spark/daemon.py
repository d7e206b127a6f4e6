"""PySpark worker daemon for the engine's sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts it with ``python -m`` in place of ``pyspark.daemon``.
Every Python task begins with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that
makes each ``zipimport.zipimporter`` re-read its archive's central
directory at once; the workers import pyspark and py4j from zip
archives through a dozen or more importers, so every task pays for
tens of thousands of directory entries before it runs. CPython 3.12
made the invalidation lazy: it drops the cached directory, and the next
lookup that needs it reads it again, once. On older interpreters this
module back-ports that behaviour into the daemon before it hands over
to ``pyspark.daemon``; the workers it forks inherit it. On 3.12 and
later it only delegates.

Spark forks the data-source planner workers (``create_data_source``,
``plan_data_source_read``, ``write_into_data_source``,
``commit_data_source_write``) from the stock ``pyspark.daemon`` whatever
``spark.python.daemon.module`` says, so this module never runs there.
They get the back-port from ``sources/xlsx.py`` instead, which applies
it on import inside any Python worker (those carry
``PYTHON_WORKER_FACTORY_SECRET``; the driver does not). The first call
in each planner worker has already invalidated the caches eagerly
before that import, so it still pays the re-read; later calls in the
reused worker do not.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self) -> dict:
    """The archive's directory, read on first use after an invalidation
    (CPython 3.12 ``zipimporter._get_files``)."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self) -> None:
    """Invalidate the cached directory of the archive (CPython 3.12)."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def backport_lazy_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` lazy on CPython < 3.12.

    Every read of ``zipimporter._files`` goes through the shared
    directory cache, so an importer sees an archive rewritten after an
    invalidation. The only writer of ``_files`` left is
    ``zipimporter.__init__``, which stores the same directory in the
    cache first, so assignments are dropped. Returns whether the class
    was patched.
    """
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    backport_lazy_zip_invalidation()
    from pyspark import daemon

    daemon.manager()
