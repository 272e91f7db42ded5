"""PySpark worker daemon that keeps zip archives' directory caches.

Run by Spark as ``python -m mojap_spark_daemon <worker module>`` when
``spark.python.daemon.module`` names it (``session.get_spark`` does).
It is ``pyspark.daemon`` with one change, made before the daemon forks
its workers: ``zipimport.zipimporter.invalidate_caches`` does nothing, so
``importlib.invalidate_caches`` no longer re-reads zip archives.

Why: every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.10+ that makes
each cached zipimporter re-read its archive's central directory. The
worker's ``sys.path`` holds ``pyspark.zip``, ``py4j-*-src.zip`` and the
``spark-core`` jar (Spark's ``PythonUtils.sparkPythonPath`` appends the
jar that holds its own classes; the jar carries no Python files), so
each task paid 0.17-0.30 s re-reading ~5,000 jar entries, against
0.2 ms for a trivial user function.

Everything else stays stock: path-entry finders are still invalidated,
``None`` and relative-path entries are still dropped, so a directory or
module created on ``sys.path`` after the session started is still found.

Caveat: a zip or jar already on ``sys.path`` that is rewritten in place
during a session is not re-scanned, so modules added to it are not
seen. ``SparkContext.addPyFile`` ships each file under a new path, so
it is unaffected.

This module is top level, not inside the package, and imports only the
stdlib until the daemon starts (then ``pyspark.daemon``): importing the
package would load pyarrow and pandas into the daemon before it forks.
"""

from __future__ import annotations

import zipimport


def keep_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op.

    That method is the only part of ``importlib.invalidate_caches`` that
    re-reads an archive; the stock ``PathFinder.invalidate_caches`` still
    drops ``None`` and relative-path entries and invalidates every other
    finder.
    """
    zipimport.zipimporter.invalidate_caches = lambda self: None


def main() -> None:
    from pyspark import daemon

    keep_zip_directories()
    daemon.manager()


if __name__ == "__main__":
    main()
