"""Spark's Python daemon with the zip-directory memo installed before fork.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
daemon that forks the task workers installs
:func:`compat.memoize_zip_directories` once and every forked worker
inherits it, whatever its command imports.  Beyond ``pyspark.daemon`` it
imports only ``compat`` (os, sys, zipimport) and starts no thread, so the
daemon stays safe to fork.
"""

from pyspark import daemon

from . import compat

if __name__ == "__main__":
    compat.memoize_zip_directories()
    daemon.manager()
