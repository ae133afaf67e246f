"""PySpark worker daemon that re-reads a zip archive only when it changed.

PySpark's worker runs ``worker_util.setup_spark_files`` on every task,
and that ends with ``importlib.invalidate_caches()``. On CPython 3.11
``zipimport.zipimporter.invalidate_caches`` re-parses its archive's
central directory eagerly on each call. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` and hold one importer per
package directory they imported from it (12 in a ``mapInArrow``
task), so every task re-parsed the archive's directory that many
times before running any user code. Measured on a 4-vCPU host,
``local[2]``: the call took 0.13-0.24 s inside a task under the stock
daemon and 0.0001 s under this one, and an identity ``mapInArrow``
job over 3 partitions took 0.44-0.61 s against 0.21-0.26 s.

``install()`` makes an importer re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` differs from the last read, the
staleness rule CPython's path finder applies to directories, so an
archive rewritten in place is still picked up. ``session.get_spark``
starts the workers through ``python -m rsbsa_etl_spark.pydaemon``
(``spark.python.daemon.module``). Importing this module patches
nothing.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    An importer's first call always reads, since its stat at creation
    is not known."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _stock_invalidate_caches(self)
    self._read_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
