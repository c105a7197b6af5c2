"""Python worker daemon: ``pyspark.daemon`` with zip directories cached.

Before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
each ``zipimporter`` on ``sys.path_importer_cache`` — 16 for
``pyspark.zip`` alone, one per package prefix — re-read the archive's
whole central directory: about 0.2 s of worker CPU per task (64 trivial
pandas-UDF tasks on a 4-core host: 196–229 ms a task, 32–38 ms with this
daemon). Here an importer re-reads only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read, so a rewritten
archive is still picked up and new ``sys.path`` entries still get fresh
finders. A worker that cannot import this package fails at daemon start.

``get_spark`` sets ``spark.python.daemon.module`` to this module
(``pyspark.daemon`` takes a custom *worker* module only under a
``pyspark`` name, so the hook has to be the daemon). Run as
``python -m computer_vision_foundations_spark._daemon pyspark.worker``.
"""

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive -> stat key of its last directory read. Process-wide, like the
# zipimport directory cache it guards; forked workers inherit a copy.
_read_at: dict[str, tuple[int, int]] = {}


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
    _stock_invalidate(self)
    if key is not None:
        _read_at[self.archive] = key


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # record the stat keys once here, so forked workers skip even the
    # first task's re-read
    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
