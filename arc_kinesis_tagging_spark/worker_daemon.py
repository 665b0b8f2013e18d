"""Python worker daemon whose zip finders read each archive once.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and in
Python 3.11 ``zipimporter.invalidate_caches`` re-reads the archive's
whole directory. A reused worker holds a finder for each ``pyspark.zip``
subpackage, py4j and the Spark core jar on its ``PYTHONPATH``, so under
Spark's default daemon every task re-reads thousands of zip entries
before any data arrives.

Spark never rewrites an archive in place while a worker is alive: a
file added later (``addPyFile``) is a new path, so it gets a new finder,
which reads its directory when it is created. Directory finders
(``FileFinder``, the per-task ``spark_files_dir``) are still invalidated
on every task. ``session.get_session`` sets this module as
``spark.python.daemon.module`` on local masters.
"""

import sys
import zipimport


class _StaticZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


if __name__ == "__main__":
    sys.path_hooks[sys.path_hooks.index(zipimport.zipimporter)] = _StaticZipImporter
    # finders made so far are plain zipimporters; forked workers inherit
    # the ones made from here on
    sys.path_importer_cache.clear()
    from pyspark.daemon import manager

    manager()
