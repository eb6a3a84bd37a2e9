"""Python worker daemon: ``pyspark.daemon`` with stat-checked zip
import caches.

Before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that
makes every ``zipimporter`` re-read its archive's central directory;
``pyspark.zip`` has ~1,300 entries and a worker holds ~16 importers on
it, a fixed cost of about a quarter CPU-second per task. Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from what it saw at its last read, so a zip that changed (a
re-shipped ``--py-files`` archive) is still picked up.

Started by Spark as ``python -m resume_parser_service_spark.worker_daemon``
through ``spark.python.daemon.module`` (see ``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory unless it is unchanged since
    this importer last read it (an archive that cannot be stat'ed is
    always handed to the stock method)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _stock_invalidate(self)
    self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # stamp the importers the forked workers inherit, so the read is
    # paid once here instead of once per worker
    importlib.invalidate_caches()
    daemon.manager()
