"""Python worker daemon: pyspark's own, minus a per-task zip re-read.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython 3.11/3.12 that makes
every ``zipimporter`` on the worker's path re-read its archive's central
directory (pyspark.zip, the py4j zip and the spark-core jar: about 130 ms
per task on a reused worker). Here ``invalidate_caches`` runs only when
the archive's ``(st_mtime_ns, st_size)`` differs from the stamp taken
when the importer's directory was read or last invalidated, or when the
archive cannot be stat-ed, so a changed or new zip (``addPyFile``) is
still seen.

The daemon itself is ``pyspark.daemon.manager``; ``session.get_spark``
selects this module through ``spark.python.daemon.module``.
"""

import os
import zipimport

_read = zipimport._read_directory
_init = zipimport.zipimporter.__init__
_invalidate = zipimport.zipimporter.invalidate_caches
# archive -> stamp taken just before its cached directory was read
_read_at = {}


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    stamp = _stamp(archive)
    files = _read(archive)
    _read_at[archive] = stamp
    return files


def __init__(self, path):
    _init(self, path)
    # the directory may come from the shared cache, read earlier
    self._stamp = _read_at.get(self.archive)


def invalidate_caches(self):
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _invalidate(self)
        self._stamp = stamp


def install():
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.__init__ = __init__
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # install from the importable module, not from this ``-m`` copy, so
    # the wrappers are lakerunner_spark.pydaemon's own functions; before
    # pyspark's import, so its importers are stamped as they are built
    from lakerunner_spark import pydaemon

    pydaemon.install()
    from pyspark import daemon

    daemon.manager()
