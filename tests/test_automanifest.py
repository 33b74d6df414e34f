"""Auto-manifest sidecar (sources/automanifest.py, round 13): the general
LAS/PLY/PCD sinks emit ``<dir>/_manifest`` at commit time and the
transparent min/max fast path (plans/fused_read.py) auto-discovers it —
``write → stock df.agg(min/max/count)`` answers with ZERO Spark jobs, no
user option.  Freshness/coverage declines are pinned here too: the
sidecar can only ever make an answer free, never wrong."""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_iqmulus_spark.sources.automanifest import (
    StatsAcc,
    column_bounds,
    discover,
    merge_bounds,
)


def _jobs(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


@pytest.fixture()
def las_out(spark, tmp_path):
    """General-sink LAS write with an int64 ExtraBytes column whose values
    exceed 2^53 — the shape float64 manifest bounds had to decline."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "x": np.arange(4000, dtype=np.int32) - 700,
                "y": (np.arange(4000, dtype=np.int32) * 3) % 900,
                "intensity": (np.arange(4000) % 555).astype(np.int16),
                "big": np.arange(4000, dtype=np.int64) * (2**52)
                + (2**61),
            }
        )
    )
    out = str(tmp_path / "las_out")
    df.write.format("las").mode("overwrite").save(out)
    return out


def test_sidecar_written_and_minmax_zero_jobs(spark, las_out):
    assert os.path.isdir(os.path.join(las_out, "_manifest"))
    back = spark.read.format("las").load(las_out)
    before = _jobs(spark)
    row = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_x"),
        F.max("intensity").alias("max_i"),
        F.min("big").alias("min_big"),
        F.max("big").alias("max_big"),
    ).collect()[0]
    assert _jobs(spark) == before, "sidecar aggregate ran a Spark job"
    # truth from the real scan (fast path off)
    spark.conf.set("spark.iqmulus.fusedRead", "false")
    try:
        truth = back.agg(
            F.count(F.lit(1)),
            F.min("x"),
            F.max("intensity"),
            F.min("big"),
            F.max("big"),
        ).collect()[0]
    finally:
        spark.conf.set("spark.iqmulus.fusedRead", "true")
    assert list(row) == list(truth)
    # the bigint leg really is past float64 exactness
    assert truth[4] > 2**53


def test_stale_file_falls_back_same_answer(spark, las_out):
    back = spark.read.format("las").load(las_out)
    want = back.agg(F.min("x"), F.max("big")).collect()[0]
    f = next(
        os.path.join(las_out, n)
        for n in os.listdir(las_out)
        if n.endswith(".las")
    )
    os.utime(f, ns=(1234567, 1234567))  # mtime drifts from the sidecar row
    before = _jobs(spark)
    got = back.agg(F.min("x"), F.max("big")).collect()[0]
    assert len(_jobs(spark) - before) >= 1, "stale sidecar must real-scan"
    assert list(got) == list(want)


def test_foreign_file_declines_and_scan_sees_it(spark, las_out, tmp_path):
    """A file the sidecar has never seen lands in the directory: coverage
    mismatch declines the fast path and the real scan includes its rows."""
    import pandas as pd

    extra = str(tmp_path / "extra_out")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "x": np.array([-99999], dtype=np.int32),
                "y": np.array([1], dtype=np.int32),
                "intensity": np.array([7], dtype=np.int16),
                "big": np.array([5], dtype=np.int64),
            }
        )
    ).write.format("las").mode("overwrite").option("manifest", "false").save(
        extra
    )
    src = next(
        os.path.join(extra, n)
        for n in os.listdir(extra)
        if n.endswith(".las")
    )
    shutil.copy(src, os.path.join(las_out, "zz_foreign.las"))
    back = spark.read.format("las").load(las_out)
    # min(x) still answers zero-job — from the HEADER-BOUNDS leg, which
    # parses every file's header (foreign one included) and needs no
    # manifest; the value reflects the foreign row
    before = _jobs(spark)
    got = back.agg(F.min("x").alias("mn")).collect()[0]
    assert _jobs(spark) == before
    assert got["mn"] == -99999
    # a NON-xyz column has no header bounds → manifest leg → coverage
    # mismatch (sidecar never saw zz_foreign.las) → real scan, right answer
    before = _jobs(spark)
    got = back.agg(F.min("intensity").alias("mi")).collect()[0]
    assert len(_jobs(spark) - before) >= 1
    assert got["mi"] == 0


def test_write_option_manifest_false_skips_sidecar(spark, tmp_path):
    import pandas as pd

    out = str(tmp_path / "nosc")
    spark.createDataFrame(
        pd.DataFrame({"x": np.arange(10, dtype=np.int32)})
    ).write.format("las").mode("overwrite").option("manifest", "false").save(
        out
    )
    assert not os.path.exists(os.path.join(out, "_manifest"))


def test_read_option_manifest_false_disables_fast_path(spark, las_out):
    back = (
        spark.read.format("las").option("manifest", "false").load(las_out)
    )
    before = _jobs(spark)
    back.agg(F.min("intensity")).collect()
    assert len(_jobs(spark) - before) >= 1


def test_ply_nan_semantics_zero_jobs(spark, tmp_path):
    """Float bounds replay Spark's NaN-largest order: min = smallest
    non-NaN, max = NaN as soon as any value is NaN."""
    import pandas as pd

    x = np.arange(64, dtype=np.float64)
    x[x % 7 == 0] = np.nan
    out = str(tmp_path / "ply_out")
    spark.createDataFrame(
        pd.DataFrame(
            {"x": x.astype(np.float32), "c": (np.arange(64) % 5).astype(np.int8)}
        )
    ).write.format("ply").mode("overwrite").save(out)
    assert os.path.isdir(os.path.join(out, "_manifest"))
    back = spark.read.format("ply").load(out)
    before = _jobs(spark)
    row = back.agg(
        F.min("x").alias("mn"), F.max("x").alias("mx"), F.max("c").alias("mc")
    ).collect()[0]
    assert _jobs(spark) == before
    assert row["mn"] == 1.0 and math.isnan(row["mx"]) and row["mc"] == 4


def test_pcd_sidecar_zero_jobs(spark, tmp_path):
    import pandas as pd

    out = str(tmp_path / "pcd_out")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "x": np.arange(100, dtype=np.float32) / 4,
                "c": (np.arange(100) % 9).astype(np.int8),
            }
        )
    ).write.format("pcd").mode("overwrite").save(out)
    back = spark.read.format("pcd").load(out)
    before = _jobs(spark)
    row = back.agg(F.min("x").alias("mn"), F.max("c").alias("mc")).collect()[0]
    assert _jobs(spark) == before
    assert (row["mn"], row["mc"]) == (0.0, 8)


def test_manifest_scan_bigint_bounds_are_int64(spark, tmp_path):
    """plans/manifest.build_manifest_scan stores integer columns' bounds
    as INT64 (VERDICT r12 next #4): min/max(bigint) past 2^53 answers
    zero-job through an EXPLICIT .option('manifest') too."""
    import pandas as pd
    import pyarrow.parquet as pq

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan

    out = str(tmp_path / "ply_big")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "x": np.arange(50, dtype=np.float32),
                "t": np.arange(50, dtype=np.int64) * (2**52) + (2**60),
            }
        )
    ).write.format("ply").mode("overwrite").option("manifest", "false").save(
        out
    )
    assert not os.path.exists(os.path.join(out, "_manifest"))
    import glob

    mpath = str(tmp_path / "m")
    write_manifest_scan(
        spark, sorted(glob.glob(os.path.join(out, "*.ply"))), mpath,
        fmt="ply", columns=("x", "t"),
    )
    tbl = pq.read_table(mpath)
    import pyarrow as pa

    assert pa.types.is_integer(tbl.schema.field("t_min").type)
    assert pa.types.is_floating(tbl.schema.field("x_min").type)
    back = spark.read.format("ply").option("manifest", mpath).load(out)
    before = _jobs(spark)
    row = back.agg(F.min("t").alias("mn"), F.max("t").alias("mx")).collect()[0]
    assert _jobs(spark) == before
    assert row["mn"] == 2**60 and row["mx"] == 49 * 2**52 + 2**60


def test_column_bounds_signed_view_and_nan_rules():
    # unsigned storage → same-width signed view (the scan's value space)
    b = column_bounds(np.array([1, 65535], dtype=np.uint16), "u2")
    assert b == (-1, 1)
    # ints are exact Python ints, full int64 range
    b = column_bounds(np.array([2**62, -5], dtype=np.int64), "i8")
    assert b == (-5, 2**62)
    # float: min = smallest non-NaN, max = NaN if any NaN
    lo, hi = column_bounds(np.array([3.0, np.nan, 1.0]), "f8")
    assert lo == 1.0 and math.isnan(hi)
    lo, hi = column_bounds(np.array([np.nan, np.nan]), "f8")
    assert math.isnan(lo) and math.isnan(hi)
    assert column_bounds(np.array([], dtype=np.float64), "f8") is None


def test_merge_bounds_and_acc_compaction():
    pairs = [(1.0, 2.0), (float("nan"), float("nan")), None, (0.5, 9.0)]
    lo, hi = merge_bounds(pairs, "f8")
    assert lo == 0.5 and math.isnan(hi)  # one all-NaN part poisons max
    assert merge_bounds([None, None], "f8") is None
    assert merge_bounds([(1, 5), (-2, 3)], "i4") == (-2, 5)
    # the running list compacts past 64 updates without changing results
    acc = StatsAcc([("v", "i4")])
    for i in range(200):
        acc.update(
            np.array([(i,), (-i,)], dtype=[("v", "<i4")])
        )
    assert acc.finalize() == {"v": (-199, 199)}


def test_discover_requires_single_directory(tmp_path):
    d1 = tmp_path / "a"
    d1.mkdir()
    (d1 / "_manifest").mkdir()
    p1, p2 = str(d1 / "x.las"), str(tmp_path / "y.las")
    assert discover([p1]) == str(d1 / "_manifest")
    assert discover([p1, p2]) is None
    assert discover([]) is None


def test_fused_byte_path_write_emits_sidecar(spark, tmp_path):
    """The TRANSCODE byte path (what a stock scan→filter→write actually
    takes) emits the sidecar too, so las2las-produced directories answer
    min/max/count zero-job — including a non-xyz column, which LAS
    headers never covered."""
    from .fixtures import make_las

    tiles = str(tmp_path / "tiles")
    os.makedirs(tiles)
    make_las(os.path.join(tiles, "a.las"), n=4000, fmt=1)
    make_las(os.path.join(tiles, "b.las"), n=2500, fmt=1, seed=5)

    out = str(tmp_path / "filtered")
    df = spark.read.format("las").load(tiles).where(
        F.col("classification") <= 3
    )
    from spark_iqmulus_spark.sources import fused_write as fw

    assert (
        fw.plan_fused_save(df, "las", out, "overwrite", {}) is not None
    ), fw._LAST_DECLINE  # this write takes the byte path, not the sink
    df.write.format("las").mode("overwrite").save(out)
    assert os.path.isdir(os.path.join(out, "_manifest"))

    back = spark.read.format("las").load(out)
    before = _jobs(spark)
    row = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("intensity").alias("mn"),
        F.max("intensity").alias("mx"),
    ).collect()[0]
    assert _jobs(spark) == before
    spark.conf.set("spark.iqmulus.fusedRead", "false")
    try:
        truth = back.agg(
            F.count(F.lit(1)), F.min("intensity"), F.max("intensity")
        ).collect()[0]
    finally:
        spark.conf.set("spark.iqmulus.fusedRead", "true")
    assert list(row) == list(truth)

    # manifest=false on the write: byte path still engages, no sidecar
    out2 = str(tmp_path / "nosc")
    df.write.format("las").mode("overwrite").option(
        "manifest", "false"
    ).save(out2)
    assert not os.path.exists(os.path.join(out2, "_manifest"))
    assert sorted(
        f for f in os.listdir(out2) if f.endswith(".las")
    ) == ["a.las", "b.las"]


def test_sink_sidecar_failure_is_logged_and_las_commits(
    spark, tmp_path, monkeypatch, caplog
):
    """The general LAS sink (``fusedWrite=false``) treats the ``_manifest``
    sidecar as advisory: a failing sidecar write is logged as a warning
    with its traceback, and the ``.las`` file still commits.  In a Spark
    write the commit runs in a planner worker process, out of this
    process's ``caplog`` and monkeypatch, so the test drives the sink's
    own ``write``/``commit`` here."""
    import logging

    from spark_iqmulus_spark.sources import automanifest
    from spark_iqmulus_spark.sources.las import LasDataSource
    from spark_iqmulus_spark.sources.las_format import LasHeader

    from .fixtures import make_las

    def fail(*args, **kwargs):
        raise OSError("sidecar store unavailable")

    src = str(tmp_path / "src.las")
    make_las(src, n=3000)
    df = spark.read.format("las").load(src).drop("fid", "pid")
    out = str(tmp_path / "out")
    writer = LasDataSource({"path": out, "fusedWrite": "false"}).writer(
        df.schema, True
    )
    monkeypatch.setattr(automanifest, "write_sidecar", fail)
    with caplog.at_level(logging.WARNING, logger="spark_iqmulus_spark"):
        writer.commit([writer.write(iter(df.toArrow().to_batches()))])
    [las] = [f for f in os.listdir(out) if f.endswith(".las")]
    assert LasHeader.parse_file(os.path.join(out, las)).pdr_nb == 3000
    assert spark.read.format("las").load(out).count() == 3000
    assert not os.path.exists(os.path.join(out, "_manifest"))
    [rec] = [r for r in caplog.records if "_manifest" in r.getMessage()]
    assert rec.levelno == logging.WARNING
    assert rec.name == "spark_iqmulus_spark.sources.automanifest"
    assert str(rec.exc_info[1]) == "sidecar store unavailable"
