"""Keep PySpark's per-task set-up from re-reading zip archives.

Before every Python task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory. A worker holds about 16 of them: one per
imported package of ``pyspark.zip`` (1328 entries, ~12 ms a read), py4j's
zip, and the Spark core jar that ``PythonUtils.sparkPythonPath`` puts on
every worker's path (5359 entries, ~52 ms a read). Together that is
0.14-0.27 s of CPU before each task reads a row.

The Python task entry points (``segment.extract_batches``,
``corpus.corpus_df``'s generator) call :func:`drop_zip_importers` first,
so the next task's ``invalidate_caches()`` finds no zip importer to
refresh and a worker pays the reads once, on its first task.
``sys.path`` is left alone: an import through an archive (``pyspark.zip``,
or ``extraction`` itself under ``--py-files``) still works, because the
path hooks make a new importer on demand, from ``zipimport``'s directory
cache, without reading the archive again.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_importers() -> None:
    """Remove every zip importer from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
