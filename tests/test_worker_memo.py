"""The zip-directory memo that Spark Python workers install on import
(``compat.memoize_zip_directories``), and the worker ``PYTHONPATH`` that
``get_spark`` exports so the workers can import the package at all.

The memo tests patch ``zipimport`` process-wide, so each runs in a
subprocess and this pytest process stays unpatched.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from pyspark.sql.datasource import InputPartition

from spark_iqmulus_spark.compat import zip_memo_installed
from spark_iqmulus_spark.sources.las import LasDataSource, LasReader

from .fixtures import make_las

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: CPython 3.12 made zipimporter.invalidate_caches lazy: no memo there
MEMO_EXPECTED = sys.version_info < (3, 12)
needs_memo = pytest.mark.skipif(not MEMO_EXPECTED, reason="CPython >= 3.12")


def _run(code: str, cwd: str = ROOT, env: dict | None = None, timeout: int = 60) -> str:
    """Run ``code`` in a fresh interpreter; return its stdout, failing the
    test with its stderr if it exits non-zero."""
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


#: helpers for a zip ``ZIP`` holding package ``memopkg`` whose ``mod.VALUE``
#: is ``body``; ``reads`` counts the directory reads of ``ZIP``
_ZIP_PRELUDE = f"""
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, {ROOT!r})
from spark_iqmulus_spark.compat import memoize_zip_directories

def write_zip(path, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("memopkg/__init__.py", "")
        z.writestr("memopkg/mod.py", "VALUE = %r\\n" % body)

def load_value():
    for m in ("memopkg.mod", "memopkg"):
        sys.modules.pop(m, None)
    return importlib.import_module("memopkg.mod").VALUE

reads = []
stock = zipimport._read_directory
def counting(archive):
    if archive == ZIP:
        reads.append(archive)
    return stock(archive)
zipimport._read_directory = counting
"""


def _zip_script(zpath: str, body: str) -> str:
    return f"ZIP = {zpath!r}\n" + _ZIP_PRELUDE + textwrap.dedent(body)


@needs_memo
def test_memo_reads_unchanged_zip_once(tmp_path):
    zpath = str(tmp_path / "lib.zip")
    out = _run(_zip_script(zpath, """
        write_zip(ZIP, "one")
        sys.path.insert(0, ZIP)
        assert load_value() == "one"
        del reads[:]
        importlib.invalidate_caches()
        stock_reads = len(reads)       # one per zipimporter on the archive
        assert memoize_zip_directories()
        del reads[:]
        for _ in range(10):
            importlib.invalidate_caches()
        assert load_value() == "one"
        print(stock_reads, len(reads))
    """))
    stock_reads, memo_reads = map(int, out.split())
    assert stock_reads >= 2
    assert memo_reads == 1


@needs_memo
def test_memo_rereads_rewritten_zip(tmp_path):
    zpath = str(tmp_path / "lib.zip")
    out = _run(_zip_script(zpath, """
        write_zip(ZIP, "one")
        sys.path.insert(0, ZIP)
        assert memoize_zip_directories()
        importlib.invalidate_caches()
        assert load_value() == "one"
        write_zip(ZIP, "a different and longer body")
        importlib.invalidate_caches()
        print(load_value())
    """))
    assert out.strip() == "a different and longer body"


@needs_memo
def test_memo_deleted_zip_keeps_stock_semantics(tmp_path):
    zpath = str(tmp_path / "lib.zip")
    out = _run(_zip_script(zpath, """
        write_zip(ZIP, "one")
        sys.path.insert(0, ZIP)
        assert memoize_zip_directories()
        importlib.invalidate_caches()
        assert load_value() == "one"
        os.remove(ZIP)
        importlib.invalidate_caches()  # stock: ZipImportError caught inside
        importers = [v for k, v in sys.path_importer_cache.items()
                     if k.startswith(ZIP) and isinstance(v, zipimport.zipimporter)]
        assert importers and all(i._files == {} for i in importers)
        write_zip(ZIP, "back")           # the archive returns: read it again
        importlib.invalidate_caches()
        print(load_value())
    """))
    assert out.strip() == "back"


def test_driver_import_leaves_zipimport_untouched():
    out = _run(f"""
        import sys, zipimport
        sys.path.insert(0, {ROOT!r})
        stock = zipimport._read_directory
        import spark_iqmulus_spark
        from spark_iqmulus_spark.sources import register_sources
        print(zipimport._read_directory is stock)
    """)
    assert out.strip() == "True"


def test_worker_main_installs_memo_on_import():
    out = _run(f"""
        import sys, types
        sys.path.insert(0, {ROOT!r})
        sys.modules["__main__"].__spec__ = types.SimpleNamespace(name="pyspark.daemon")
        import spark_iqmulus_spark
        from spark_iqmulus_spark.compat import zip_memo_installed
        print(zip_memo_installed())
    """)
    assert out.strip() == str(MEMO_EXPECTED)


class MemoProbeSource(LasDataSource):
    """A LAS read whose planner and task workers report the memo state."""

    @classmethod
    def name(cls) -> str:
        return "las_memo_probe"

    def schema(self):
        return "planner boolean, task boolean, points long"

    def reader(self, schema):
        return MemoProbeReader(self._paths(), self.options, super().schema())


class MemoProbeReader(LasReader):
    def partitions(self):
        planner = zip_memo_installed()
        return [InputPartition((p, planner)) for p in super().partitions()]

    def read(self, partition):
        part, planner = partition.value
        points = sum(b.num_rows for b in super().read(part))
        yield planner, zip_memo_installed(), points


def test_spark_workers_install_memo_driver_does_not(spark, tmp_path):
    path = str(tmp_path / "t.las")
    make_las(path, n=3000)
    spark.dataSource.register(MemoProbeSource)
    rows = spark.read.format("las_memo_probe").load(path).collect()
    assert sum(r.points for r in rows) == 3000
    assert {(r.planner, r.task) for r in rows} == {(MEMO_EXPECTED, MEMO_EXPECTED)}
    assert not zip_memo_installed()


def test_las_read_outside_repo_root(tmp_path):
    """A driver started elsewhere, with no PYTHONPATH, can still read LAS:
    ``get_spark`` exports the package's directory to the workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = _run(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from tests.fixtures import make_las
        from spark_iqmulus_spark.session import get_spark
        from spark_iqmulus_spark.sources import register_sources
        make_las("t.las", n=2000)
        spark = get_spark("outside", cpus=2)
        register_sources(spark)
        print(spark.read.format("las").load("t.las").count())
        spark.stop()
    """, cwd=str(tmp_path), env=env, timeout=240)
    assert out.strip().splitlines()[-1] == "2000"
