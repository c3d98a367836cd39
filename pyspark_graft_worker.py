"""Python worker entry for this engine's Spark apps (``spark.python.worker.module``).

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimport.zipimporter`` re-read its archive's central directory: about 16
importers over ``pyspark.zip`` (1,328 entries) re-read it, which is most of a
reused worker's fixed per-task cost (on a 4-core VM, CPython 3.11.7: 0.78 s of
the 0.82 s a profiled ``pyspark.worker.main`` took).

Importing this module replaces ``zipimporter.invalidate_caches`` with one that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differ from the
last read. A changed or new archive (``addPyFile``, a rewritten zip) is
invalidated exactly as before, and so are all non-zip finders. On an
interpreter whose zipimporter only drops its cache entry there (3.13)
nothing is recorded, so every call falls through to the original.

``pyspark/daemon.py`` imports a worker module only when its name starts with
``pyspark``; the daemon imports it before forking, so every worker inherits
the patch. ``session.get_spark`` sets ``spark.python.worker.module`` to this
module, and puts the repo root on the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_at: "dict[str, tuple[int, int]]" = {}


def _stat_key(path: str) -> "tuple[int, int] | None":
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    key = _stat_key(archive)
    cache = zipimport._zip_directory_cache
    if key is not None and _read_at.get(archive) == key and archive in cache:
        if hasattr(self, "_files"):
            # the archive's other importers may have re-read it: share the
            # cached directory, as the original re-read leaves them
            self._files = cache[archive]
        return
    _invalidate(self)
    if key is not None and archive in cache:
        _read_at[archive] = key
    else:
        _read_at.pop(archive, None)


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    # the non-daemon worker runs ``python -m <worker module>``
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401  (the daemon calls main)
