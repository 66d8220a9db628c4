"""Python worker daemon: PySpark's own daemon, with zip archives re-read
only when they change.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before
Python 3.13 that makes every ``zipimporter`` re-read its archive's
whole central directory at once. A worker holds 14-16 importers into
``pyspark.zip`` (about 1,700 entries), so each task paid about 0.13 s
before running any of its own code; 3.13 made the re-read lazy. This
module gates the re-read on the archive's ``(st_mtime_ns, st_size)``:
an importer re-reads when it never has or when its archive changed, so
a rewritten or newly added zip (``addPyFile``) is still picked up.
``session.get_spark`` runs it as ``spark.python.daemon.module``; every
worker the daemon forks inherits the gate. On 3.13+ it changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Stat-gated ``zipimporter.invalidate_caches``."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:  # a vanished archive: the stock method empties the importer
        stamp = None
    if stamp is None or getattr(self, "_archive_stamp", None) != stamp:
        _ORIGINAL(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
