"""Optional-dependency and Python-worker shims.

``ensure_protobuf`` makes ``google.protobuf`` importable by pointing
``sys.path`` (and ``PYTHONPATH``, so Spark's Python *workers* inherit it) at
the vendored minimal runtime — ONLY when no real protobuf distribution is
installed, so a genuine installation is never shadowed.  This unlocks
PySpark's ``transformWithStateInPandas`` state-server protocol
(``pyspark.sql.streaming.proto.StateMessage_pb2``) in containers without
protobuf.

``memoize_zip_directories`` removes a fixed ~0.2 s from every Spark Python
worker round trip on CPython < 3.12 (see its docstring).
"""

from __future__ import annotations

import os
import sys

_VENDOR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_vendor")
#: the directory holding the ``spark_iqmulus_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_pythonpath(path: str, env=os.environ) -> None:
    """Prepend ``path`` to ``env["PYTHONPATH"]`` unless already an entry."""
    existing = env.get("PYTHONPATH", "")
    if path not in existing.split(os.pathsep):
        env["PYTHONPATH"] = path + (os.pathsep + existing if existing else "")


def ensure_package_on_workers() -> None:
    """Put this package's parent directory on ``PYTHONPATH``.

    Spark's Python workers (the ``create_data_source`` / planner workers and
    the task workers) unpickle ``LasDataSource``, the readers and operator
    UDFs by reference, so they must be able to import the package.  They
    resolve imports from the ``PYTHONPATH`` the JVM captured at launch plus
    their working directory, so without this a driver started outside the
    directory holding the package fails every Python DataSource read with
    ``ModuleNotFoundError``.  Must run before the SparkSession starts.
    """
    _export_pythonpath(_PACKAGE_PARENT)


def ensure_protobuf() -> bool:
    """Return True if ``google.protobuf`` is importable, vendoring the
    minimal shim if (and only if) the real package is absent.

    Must run before the SparkSession starts for executor-side coverage:
    Python workers resolve imports from the PYTHONPATH the JVM captured at
    launch.
    """
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    if _VENDOR_DIR not in sys.path:
        sys.path.insert(0, _VENDOR_DIR)
    _export_pythonpath(_VENDOR_DIR)
    # a partially-imported namespace stub would mask the vendored package
    for mod in ("google", "google.protobuf"):
        m = sys.modules.get(mod)
        if m is not None and not getattr(m, "__file__", None):
            del sys.modules[mod]
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def ensure_protobuf_on_workers(spark) -> bool:
    """ensure_protobuf + make the vendored path visible to Spark-launched
    Python *worker* processes of an ALREADY-RUNNING session.

    A session created after :func:`ensure_protobuf` inherits PYTHONPATH at
    JVM launch; for a pre-existing session (e.g. one handed to us by an
    external harness) the JVM env is fixed, but worker/daemon processes also
    merge the ``PYTHONPATH`` entry of the Python function's ``envVars`` —
    which Spark reads from ``sparkContext.environment`` at function-wrap
    time.  Injecting there covers the transformWithState driver worker too.
    """
    if not ensure_protobuf():
        return False
    try:
        import google.protobuf as gp

        vendored = str(getattr(gp, "__file__", "")).startswith(_VENDOR_DIR)
        if not vendored:
            return True
        _export_pythonpath(_VENDOR_DIR, spark.sparkContext.environment)
        return True
    except Exception:
        return False


def in_spark_worker() -> bool:
    """True in a Spark-launched Python worker process: a task or planner
    worker forked by a daemon (``__main__`` is ``pyspark.daemon``), or a
    worker started directly as a ``pyspark.*worker*`` module (e.g.
    ``pyspark.sql.worker.plan_data_source_read`` when no daemon is used).
    """
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    name = getattr(spec, "name", None) or ""
    return name == "pyspark.daemon" or (
        name.startswith("pyspark.") and "worker" in name
    )


def memoize_zip_directories() -> bool:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    central directory only when the archive changed.  Returns True if the
    memo is (now) installed.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` on every task and every planner call.
    On CPython < 3.12 each ``zipimporter.invalidate_caches`` then re-parses
    its archive's whole central directory: a worker holds ~16 zipimporters
    on ``pyspark.zip`` (1,328 entries each), so every call re-reads ~27k
    entries — ~0.2 s of fixed cost per Python worker round trip.  CPython
    3.12 made that call lazy, so there this is a no-op.

    The memo keys each archive on ``(st_ino, st_mtime_ns, st_size)``, so a
    replaced or rewritten archive is re-read as before.  Failure semantics
    are stock: if the archive cannot be stat'ed, the entry is dropped and
    the original reader runs, raising ``ZipImportError`` (which
    ``zipimporter.invalidate_caches`` catches).  The returned dicts are the
    same objects zipimport already shares between the importers of one
    archive through ``zipimport._zip_directory_cache``; nothing mutates them.
    """
    if sys.version_info >= (3, 12):
        return False
    import zipimport

    if zip_memo_installed():
        return True
    read_directory = zipimport._read_directory
    memo: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def _read_directory(archive):
        try:
            st = os.stat(archive)
        except OSError:
            memo.pop(archive, None)
            return read_directory(archive)
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        hit = memo.get(archive)
        if hit is not None and hit[0] == key:
            return hit[1]
        files = read_directory(archive)
        memo[archive] = (key, files)
        return files

    _read_directory.__wrapped__ = read_directory
    zipimport._read_directory = _read_directory
    return True


def zip_memo_installed() -> bool:
    """True if :func:`memoize_zip_directories` is active in this process."""
    import zipimport

    return hasattr(zipimport._read_directory, "__wrapped__")
