"""Python worker daemon for the engine's sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts it (``python -m mapreducego_spark.pyworker``) in place of
``pyspark.daemon``; it forks the same workers, with one difference.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.12 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read the whole central directory of its archive: ``pyspark.zip``
once per imported subpackage and the Spark core jar, about 0.1-0.2 CPU-s
a task. The importers made here keep the listing they read instead.
That is safe because the archives on a worker's path do not change
while it lives: Spark refuses to re-add a file of the same name with
different content, and a zip shipped later with ``addPyFile`` lands on
a new path, which gets a new importer that reads it.
"""

import sys
import zipimport


class StaticZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` that reads its archive's listing once."""

    def invalidate_caches(self):
        pass


if __name__ == "__main__":
    sys.path_hooks[:] = [
        StaticZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    sys.path_importer_cache.clear()

    from pyspark import daemon

    daemon.manager()
