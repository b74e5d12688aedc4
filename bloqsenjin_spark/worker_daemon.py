"""The engine's PySpark worker daemon: ``pyspark.daemon`` with a cheaper
``zipimporter.invalidate_caches``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task (``pyspark.worker_util.setup_spark_files``). On Python 3.10–3.12 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory in pure Python. A worker's path carries 16 such
entries (``pyspark.zip`` and its subpackages, the py4j zip, the spark-core
jar; 1,328 + 9 + 5,359 archive entries with Spark 4.1), so each task paid a
fixed ~250 ms of worker CPU (4-core Xeon, Python 3.11) before the UDF ran.
This module replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_ino, st_mtime_ns, st_size)``
changed since that importer last read it, then hands over to
``pyspark.daemon.manager()``. Forked workers inherit the patch. Python 3.13
made the stdlib invalidation lazy, so there the module only delegates.

Selected with ``spark.python.daemon.module`` (``session.get_spark`` sets
it). The daemon starts before any task ships ``--py-files``, so the package
must already be importable on the executor's ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read this importer's archive only if the file changed since this
    importer last read it; on a failed stat, do what the stdlib does."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or getattr(self, "_read_stat", None) != key:
        _stdlib_invalidate_caches(self)
        self._read_stat = key


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
