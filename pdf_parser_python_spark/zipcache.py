"""Worker-side fix for a per-task fixed cost at the Python boundary.

At the start of every Python task, PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). That call visits every finder in
``sys.path_importer_cache``. The workers' ``sys.path`` carries
``pyspark.zip``, the py4j zip and the Spark core jar, so the cache
holds one ``zipimport.zipimporter`` per archive plus one per
``pyspark.zip`` sub-package that was imported (16 in a local-mode
worker). On Python 3.11 and 3.12, ``zipimporter.invalidate_caches``
re-reads the whole central directory of its archive eagerly
(``zipimport._read_directory``); 3.13 only drops the cached entry.
Those 16 re-reads cost about 0.3 CPU-s per task, on every Python task
of every job, whatever the kernel does.

:func:`drop_zip_finders` deletes the ``zipimporter`` entries from
``sys.path_importer_cache`` and leaves every other finder alone. Every
function the package hands to a Spark Python operator calls it first.
This is safe: a cache miss makes ``importlib`` build a fresh finder
through ``sys.path_hooks``, and a new ``zipimporter`` takes its file
list from ``zipimport._zip_directory_cache`` without reading the
archive, so imports resolve exactly as before. Once a reused worker's
cache is clean, only a new top-level import re-adds a zip finder, so
later tasks skip the re-read; the first task of a freshly forked
worker still pays it once. The call itself costs microseconds.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_finders() -> None:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
