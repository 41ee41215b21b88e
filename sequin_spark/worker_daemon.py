"""The engine's PySpark worker daemon: pyspark's own, with import caches
invalidated only when the shipped files change.

Stock pyspark calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark.worker_util.setup_spark_files``).  The
worker then re-reads the index of every archive on ``sys.path``
(``pyspark.zip`` among them) on its next import: ~150 ms before the
task body starts, on a reused worker too.  Here a worker invalidates
only when ``sys.path`` or the listing of the SparkFiles root differs
from its previous task's, i.e. when ``addFile``/``addPyFile`` shipped
something new.  Forking, worker reuse and exit on stdin close are
``pyspark.daemon.manager()``'s, unchanged.

``get_spark`` sets ``spark.python.daemon.module`` to this module.  It
cannot be a ``spark.python.worker.module`` instead: ``pyspark.daemon``
imports a worker module only if its name starts with ``pyspark``.
"""

import importlib
import os
import sys

import pyspark.daemon
import pyspark.worker
from pyspark.core.files import SparkFiles

_setup_spark_files = pyspark.worker.setup_spark_files
_shipped = None  # (sys.path, SparkFiles root listing) at the previous task


def setup_spark_files(infile) -> None:
    global _shipped
    invalidate = importlib.invalidate_caches
    importlib.invalidate_caches = lambda: None
    try:
        _setup_spark_files(infile)
    finally:
        importlib.invalidate_caches = invalidate
    try:
        listing = sorted(os.listdir(SparkFiles.getRootDirectory()))
    except OSError:
        listing = None
    shipped = (list(sys.path), listing)
    if shipped != _shipped:
        _shipped = shipped
        importlib.invalidate_caches()


if __name__ == "__main__":
    pyspark.worker.setup_spark_files = setup_spark_files
    pyspark.daemon.manager()
