"""Python worker daemon for local masters (``spark.python.daemon.module``).

``pyspark.daemon`` with one change: ``zipimporter.invalidate_caches`` is a
no-op, so the ``importlib.invalidate_caches()`` every task runs no longer
re-reads the central directory of each zip archive on the worker path (see
``session.get_spark``).  A zip added later is a new path with its own
importer, so it still imports.
"""

import zipimport


def _keep_zip_directory(self) -> None:
    """Archives on a live worker's path do not change; keep their index."""


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    manager()
