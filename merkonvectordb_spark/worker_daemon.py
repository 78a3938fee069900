"""Spark's Python worker daemon, minus the per-task re-read of the Spark
install's zip archives.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task; on CPython 3.11 each cached ``zipimporter`` then re-reads its
archive's directory (``pyspark.zip``, py4j, the ``spark-core`` jar),
150-230 ms per task.  The archives on ``sys.path`` at daemon start are
the install's and never change under a worker, so their importers are
set aside during the call.  ``addPyFile`` zips and the files directory
join ``sys.path`` per task and are invalidated as before.  Forked
workers inherit the patch; ``session.get_spark`` selects this daemon.
"""

import importlib
import os
import sys
import zipimport

from pyspark import daemon


def invalidate_keeping(archives: frozenset):
    """``importlib.invalidate_caches`` that leaves the importers of
    ``archives`` as they are."""
    invalidate = importlib.invalidate_caches

    def invalidate_caches() -> None:
        cache = sys.path_importer_cache
        kept = {
            path: finder for path, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter) and finder.archive in archives
        }
        for path in kept:
            del cache[path]
        try:
            invalidate()
        finally:
            cache.update(kept)

    return invalidate_caches


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_keeping(
        frozenset(p for p in sys.path if os.path.isfile(p))
    )
    daemon.manager()
