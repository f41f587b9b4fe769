"""PySpark worker daemon that pays the Python worker's set-up once.

``get_spark`` selects this module with ``spark.python.daemon.module``.
Spark starts it as ``python -m x17a5_spark.worker_daemon``; it prepares
the daemon process and then runs ``pyspark.daemon.manager()`` unchanged,
so every forked worker inherits the prepared state:

- On CPython < 3.13, pyspark's per-task ``importlib.invalidate_caches()``
  makes every ``zipimporter`` re-read its whole archive (``pyspark.zip``
  once per package path, ~16 times a task). The patched method re-reads
  an archive only when its ``(st_mtime_ns, st_size)`` differs from the
  one seen at this importer's last read. CPython 3.13 made the stock
  method lazy, so it is left alone there.
- pyspark's worker, pandas, pyarrow and the engine's kernel modules are
  imported once here instead of once per forked worker.
- ``gc.freeze()`` moves that import heap out of the collector's reach,
  so the ``gc.collect()`` the daemon runs after each task walks only
  the task's own garbage.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_x17a5_stamp", None):
        _stock_invalidate_caches(self)
        self._x17a5_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
        importlib.invalidate_caches()  # stamp every importer before the fork

    from pyspark import daemon

    for name in (
        "pyspark.worker",
        "pandas",
        "pyarrow",
        "x17a5_spark.operators.kernel_part",
        "x17a5_spark.operators.splits",
        "x17a5_spark.operators.row_split",
        "x17a5_spark.operators.scaler",
        "x17a5_spark.operators.totals_check",
        "x17a5_spark.sources.ocr",
    ):
        importlib.import_module(name)
    gc.collect()
    gc.freeze()
    daemon.manager()
