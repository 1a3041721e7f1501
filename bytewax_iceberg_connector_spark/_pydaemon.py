"""Python worker daemon that re-reads an import archive only when it changed.

``get_spark`` names this module in ``spark.python.daemon.module``, so Spark
starts Python workers with ``python -m bytewax_iceberg_connector_spark._pydaemon``
instead of ``python -m pyspark.daemon``. Why, and what it saves: see the
``session`` module docstring.

Run as ``__main__``, this module replaces ``zipimporter.invalidate_caches``,
which pyspark triggers at the start of every task, with a version that
stats the archive and re-reads it only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp of the last read
by that importer, then hands off to ``pyspark.daemon``. Directory finders
are still invalidated on every task (newly shipped ``SparkFiles`` need
that), and an archive rewritten on disk is still re-read. Importing this
module does nothing.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    An importer with no stamp yet, or an archive that cannot be stat'ed,
    is re-read as before."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
        return
    _reread(self)
    self._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
