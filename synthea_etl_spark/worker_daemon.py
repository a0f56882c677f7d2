"""The engine's Python worker daemon: ``pyspark.daemon`` whose forked
workers stop re-reading their zip archives at the start of every task.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` for every task. Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, and a worker holds 16 zip importers (``pyspark.zip``'s
sub-packages, py4j and the spark-core jar): ~200 ms of CPU per task.
Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
changed since it was last read, so a zip shipped by ``addPyFile`` or
replaced on disk is still picked up.

pyspark also runs a full ``gc.collect()`` after every task, which walks
every object a worker holds (~73k once pyarrow and pandas are loaded:
~40 ms per task). The daemon loads the Arrow stack itself and freezes
what it holds before it forks, so a worker's collection walks only the
objects made after the fork, and the workers share those pages instead
of each importing pyarrow and pandas again. ``get_session`` selects this
module through ``spark.python.daemon.module``. Only the daemon patches
zipimport (under ``__main__``), so importing this module, as the driver
may, changes nothing.
"""

import gc
import importlib
import os
import sys
import zipimport

_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stat when read
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _read_at[self.archive] = key  # stat before the read: a change during it re-reads
    _stock_invalidate(self)


if __name__ == "__main__":
    from pyspark.daemon import manager

    if sys.version_info < (3, 13):  # 3.13 made the stock method lazy
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # read once here; every forked worker inherits it
    import pandas  # noqa: F401  (what every Arrow task would import)
    import pyarrow  # noqa: F401

    gc.freeze()
    manager()
