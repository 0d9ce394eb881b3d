"""The engine's PySpark worker daemon: ``pyspark.daemon`` with the zip
importers' cache invalidation made a no-op.

Every Python task (one per partition of a ``createDataFrame`` frame
built from local rows, on every job that reads it) starts with
pyspark's ``setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes each
``zipimporter`` on the import path re-read its archive's directory; a
worker importing pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
holds about 16 of them, so each task re-parsed the 1,300-entry archive
16 times, about 0.25 s of CPU per task, far more than the task's own
work. The zips on the workers' path are Spark's own and never change
while the session runs, so their cached directories stay valid.
Filesystem finders still invalidate as before.

``session.get_spark`` starts a local session's workers through this
module (``spark.python.daemon.module``); it runs the stock daemon loop.
"""

import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
