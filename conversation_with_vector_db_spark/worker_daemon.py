"""Python worker daemon of the engine's local sessions.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``) so that files shipped
with ``addPyFile`` become importable. On CPython 3.11 that call makes
each cached ``zipimporter`` re-read its whole archive directory, and a
warm worker caches one per package directory of ``pyspark.zip``: about
0.2 s of every task. The zips Spark ships never change under a running
worker, and an ``addPyFile`` zip lands at a new path (so it gets a new
importer), so this daemon makes the zip re-read a no-op for the
worker's life. The directory (``FileFinder``) invalidation that shipped
``.py`` files need is untouched. ``session.get_spark`` points
``spark.python.daemon.module`` here; forked workers inherit the patch.
"""

import zipimport


def _keep_zip_directory(self) -> None:
    """zipimporter.invalidate_caches without the archive re-read."""


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    daemon.manager()
