"""End-to-end DataSource tests: read → DataFrame, write round-trips, schema
merge, provenance columns, header-catalog consistency — the coverage the
reference *lacks* (its tests stop at header parsing; SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from .fixtures import make_las, make_ply_xyz, make_xyz_text


def test_ply_read(spark, tmp_path):
    p = str(tmp_path / "a.ply")
    arr = make_ply_xyz(p, n=5995)  # the reference fixture's point count
    df = spark.read.format("ply").load(p)
    assert df.columns == ["fid", "pid", "x", "y", "z"]  # PlySuite.scala:46-51
    assert df.count() == 5995
    row = df.agg(
        F.min("x"), F.max("x"), F.sum(F.col("z").cast("double")), F.countDistinct("pid")
    ).collect()[0]
    assert row[0] == pytest.approx(float(arr["x"].min()))
    assert row[1] == pytest.approx(float(arr["x"].max()))
    assert row[2] == pytest.approx(float(arr["z"].astype(np.float64).sum()), rel=1e-9)
    assert row[3] == 5995  # pid is a dense unique index


def test_ply_multifile_fid(spark, tmp_path):
    p1, p2 = str(tmp_path / "a.ply"), str(tmp_path / "b.ply")
    make_ply_xyz(p1, n=100, seed=1)
    make_ply_xyz(p2, n=200, seed=2)
    df = spark.read.format("ply").load(str(tmp_path))
    per_file = dict(
        (r.fid, r.n) for r in df.groupBy("fid").agg(F.count("*").alias("n")).collect()
    )
    assert per_file == {0: 100, 1: 200}  # fid = sorted-path index
    # pid restarts per file
    assert df.where("fid = 1").agg(F.min("pid"), F.max("pid")).collect()[0] == (0, 199)


def test_ply_big_endian(spark, tmp_path):
    p = str(tmp_path / "be.ply")
    arr = make_ply_xyz(p, n=50, little_endian=False)
    df = spark.read.format("ply").load(p)
    got = sorted(r.x for r in df.select("x").collect())
    np.testing.assert_allclose(got, np.sort(arr["x"]), rtol=1e-6)


def test_ply_write_roundtrip(spark, tmp_path):
    src = str(tmp_path / "src.ply")
    make_ply_xyz(src, n=3000)
    df = spark.read.format("ply").load(src)
    out = str(tmp_path / "out_ply")
    df.write.format("ply").mode("overwrite").save(out)
    back = spark.read.format("ply").load(out)
    assert back.count() == 3000
    # write(read(df)) ≡ df on content (order-insensitive)
    a = set(map(tuple, df.select("x", "y", "z").collect()))
    b = set(map(tuple, back.select("x", "y", "z").collect()))
    assert a == b


@pytest.mark.parametrize("fmt", list(range(11)))
def test_las_read(spark, tmp_path, fmt):
    p = str(tmp_path / f"f{fmt}.las")
    arr = make_las(p, n=5000, fmt=fmt)
    df = spark.read.format("las").load(p)
    assert df.count() == 5000
    assert df.columns[:2] == ["fid", "pid"]
    got = df.agg(F.min("x"), F.max("x"), F.sum("intensity")).collect()[0]
    assert got[0] == int(arr["x"].min())
    assert got[1] == int(arr["x"].max())
    assert got[2] == int(arr["intensity"].astype(np.int64).sum())
    # scale/offset metadata on x/y/z (A12 storage model)
    xf = next(f for f in df.schema.fields if f.name == "x")
    assert xf.metadata["scale"] == 0.01 and xf.metadata["offset"] == 0.0


def test_las_world_coords(spark, tmp_path):
    from spark_iqmulus_spark.functions.scaled import with_world_coords

    p = str(tmp_path / "w.las")
    arr = make_las(p, n=1000, fmt=0, scale=(0.001, 0.001, 0.001), offset=(100.0, 200.0, 300.0))
    df = with_world_coords(spark.read.format("las").load(p))
    got = df.agg(F.min("x"), F.max("z")).collect()[0]
    assert got[0] == pytest.approx(100.0 + 0.001 * arr["x"].min())
    assert got[1] == pytest.approx(300.0 + 0.001 * arr["z"].astype(np.float64).max())


def test_las_extrabytes_nodata_null(spark, tmp_path):
    p = str(tmp_path / "e.las")
    arr = make_las(p, n=2000, fmt=0, extra=True)
    df = spark.read.format("las").load(p)
    n_nodata = int((arr["amplitude"] == -9999).sum())
    assert df.where(F.col("amplitude").isNull()).count() == n_nodata
    got = df.agg(F.sum("amplitude")).collect()[0][0]
    want = int(arr["amplitude"][arr["amplitude"] != -9999].astype(np.int64).sum())
    assert got == want


def test_las_schema_merge_heterogeneous(spark, tmp_path):
    """F9: files with different formats merge; absent fields become null."""
    p0, p1 = str(tmp_path / "a0.las"), str(tmp_path / "a1.las")
    make_las(p0, n=100, fmt=0, seed=1)
    make_las(p1, n=150, fmt=1, seed=2)  # adds time: double
    df = spark.read.format("las").load([p0, p1])
    assert "time" in df.columns
    assert df.count() == 250
    assert df.where(F.col("time").isNull()).count() == 100  # fmt-0 rows
    tf = next(f for f in df.schema.fields if f.name == "time")
    assert tf.nullable


def test_las_write_roundtrip_with_stats(spark, tmp_path):
    from spark_iqmulus_spark.sources.las_format import LasHeader

    src = str(tmp_path / "src.las")
    make_las(src, n=4000, fmt=1)
    df = spark.read.format("las").load(src)
    out = str(tmp_path / "out_las")
    df.write.format("las").mode("overwrite").save(out)
    back = spark.read.format("las").load(out)
    assert back.count() == 4000
    a = df.agg(F.sum("x"), F.sum("intensity"), F.sum(F.col("time").cast("double"))).collect()[0]
    b = back.agg(F.sum("x"), F.sum("intensity"), F.sum(F.col("time").cast("double"))).collect()[0]
    assert a[0] == b[0] and a[1] == b[1] and a[2] == pytest.approx(b[2])
    # writer header stats must equal scanned truth (A18); the input
    # carried fid provenance, so the output restores the source name
    hdr = LasHeader.parse_file(f"{out}/src.las")
    assert hdr.pdr_nb == 4000
    assert sum(hdr.pdr_return_nb) == 4000
    xmin = df.agg(F.min("x")).collect()[0][0]
    assert hdr.pmin[0] == pytest.approx(0.01 * xmin)
    # format inferred back to 1 (A19)
    assert hdr.pdr_format == 1


def test_las_format_inference_on_write(spark, tmp_path):
    """A19/A22: subset schema → smallest covering format; lasformat forces."""
    src = str(tmp_path / "s.las")
    make_las(src, n=500, fmt=3)
    df = spark.read.format("las").load(src).select("fid", "pid", "x", "y", "z", "intensity")
    out = str(tmp_path / "inferred")
    df.write.format("las").mode("overwrite").save(out)
    from spark_iqmulus_spark.sources.las_format import LasHeader

    assert LasHeader.parse_file(f"{out}/s.las").pdr_format == 0
    out2 = str(tmp_path / "forced")
    df.write.format("las").mode("overwrite").option("lasformat", "1").save(out2)
    hdr2 = LasHeader.parse_file(f"{out2}/s.las")
    assert hdr2.pdr_format == 1  # absent time column zero-filled


def test_header_catalog_consistency(spark, tmp_path):
    """A13/A14: metadata-only count/minmax == scanned truth."""
    from spark_iqmulus_spark.functions.scaled import with_world_coords
    from spark_iqmulus_spark.plans.header_catalog import (
        count_from_headers,
        minmax_from_headers,
    )

    paths = []
    for i in range(3):
        p = str(tmp_path / f"c{i}.las")
        make_las(p, n=1000 + i * 500, fmt=1, seed=i)
        paths.append(p)
    assert count_from_headers(spark, paths) == 1000 + 1500 + 2000
    mm = minmax_from_headers(spark, paths)
    df = with_world_coords(spark.read.format("las").load(paths))
    truth = df.agg(F.min("x"), F.max("x"), F.min("z"), F.max("z")).collect()[0]
    assert mm["x_min"] == pytest.approx(truth[0])
    assert mm["x_max"] == pytest.approx(truth[1])
    assert mm["z_min"] == pytest.approx(truth[2])
    assert mm["z_max"] == pytest.approx(truth[3])


def test_header_minmax_skips_empty_tiles(spark, tmp_path):
    """An empty tile's header bounds (0, 0, 0) are not points: header
    MIN/MAX is taken over non-empty files only, and is None (SQL NULL)
    when every file is empty."""
    from spark_iqmulus_spark.plans.header_catalog import minmax_from_headers
    from spark_iqmulus_spark.sources.las_format import LasHeader

    full, empty = str(tmp_path / "full.las"), str(tmp_path / "empty.las")
    off = (20000.0, 20000.0, 20000.0)  # every world coordinate > 0
    arr = make_las(full, n=1000, fmt=1, offset=off)
    with open(empty, "wb") as f:
        f.write(LasHeader(location=empty, pdr_format=1, offset=off).to_bytes())
    mm = minmax_from_headers(spark, [full, empty])
    for c in "xyz":
        assert mm[f"{c}_min"] == pytest.approx(20000.0 + 0.01 * int(arr[c].min()))
        assert mm[f"{c}_max"] == pytest.approx(20000.0 + 0.01 * int(arr[c].max()))
    assert set(minmax_from_headers(spark, [empty]).values()) == {None}


def test_las_file_skipping_pushdown(spark, tmp_path):
    """Range predicates outside a file's header bounds skip the file but
    never change results (skipping is I/O-only)."""
    lo, hi = str(tmp_path / "lo.las"), str(tmp_path / "hi.las")
    # two disjoint x-ranges via offsets: world lo [-10000,10000], hi shifted
    make_las(lo, n=1000, fmt=0, offset=(0.0, 0.0, 0.0), seed=1)
    make_las(hi, n=1000, fmt=0, offset=(50000.0, 0.0, 0.0), seed=2)
    df = spark.read.format("las").option("pushdown", "true").load([lo, hi])
    # raw-coordinate predicate matching only data present in both files
    n_all = df.where(F.col("x") > 0).count()
    lo_df = spark.read.format("las").load(lo)
    hi_df = spark.read.format("las").load(hi)
    want = lo_df.where(F.col("x") > 0).count() + hi_df.where(F.col("x") > 0).count()
    assert n_all == want


def test_xyz_roundtrip(spark, tmp_path):
    from spark_iqmulus_spark.sources.xyz import read_xyz, write_xyz

    p = str(tmp_path / "pts.xyz")
    n = make_xyz_text(p, n=1000)
    df = read_xyz(spark, p)
    assert df.count() == n
    assert df.columns == ["x", "y", "z", "r", "g", "b"]
    # every 5th line has no rgb → nulls (XyzRelation.scala:69 semantics)
    assert df.where(F.col("r").isNull()).count() == n // 5
    out = str(tmp_path / "out_xyz")
    write_xyz(df, out)
    back = read_xyz(spark, out)
    assert back.count() == n
    assert back.agg(F.round(F.sum("x"), 2)).collect() == df.agg(F.round(F.sum("x"), 2)).collect()


def test_schema_merge_unit():
    from pyspark.sql import types as T

    from spark_iqmulus_spark.functions.schema_merge import merge_schemas, merge_types

    # widening lattice (package.scala:83-117)
    assert merge_types(T.ByteType(), T.ShortType()) == T.ShortType()
    assert merge_types(T.IntegerType(), T.LongType()) == T.LongType()
    assert merge_types(T.FloatType(), T.DoubleType()) == T.DoubleType()
    assert merge_types(T.ShortType(), T.FloatType()) == T.FloatType()
    assert merge_types(T.IntegerType(), T.FloatType()) == T.DoubleType()
    assert merge_types(T.LongType(), T.FloatType()) == T.DoubleType()
    # F9: A(x,y,z float) + B(x,y,z double, intensity short)
    a = T.StructType([T.StructField(c, T.FloatType(), False) for c in "xyz"])
    b = T.StructType(
        [T.StructField(c, T.DoubleType(), False) for c in "xyz"]
        + [T.StructField("intensity", T.ShortType(), False)]
    )
    m = merge_schemas(a, b)
    assert [f.dataType for f in m.fields[:3]] == [T.DoubleType()] * 3
    inten = m.fields[3]
    assert inten.name == "intensity" and inten.nullable  # one-sided → nullable


def test_unreadable_files_skipped(spark, tmp_path):
    """Unreadable/corrupt files are skipped with a warning by default —
    reference behavior (PlyRelation.scala:101-115, LasRelation.scala:41-55);
    ``.option("ignoreCorruptFiles", "false")`` opts into fail-fast."""
    import pytest

    from .fixtures import make_las, make_ply_xyz

    good_ply = str(tmp_path / "good.ply")
    make_ply_xyz(good_ply, n=50)
    (tmp_path / "bad.ply").write_bytes(b"not a ply file at all")
    df = spark.read.format("ply").load(str(tmp_path))
    assert df.count() == 50
    assert df.select("fid").distinct().count() == 1

    # strict opt-out: one bad tile fails fast
    with pytest.raises(Exception, match="unreadable"):
        (
            spark.read.format("ply")
            .option("ignoreCorruptFiles", "false")
            .load(str(tmp_path))
            .count()
        )

    las_dir = tmp_path / "las"
    las_dir.mkdir()
    good_las = str(las_dir / "good.las")
    make_las(good_las, n=70, fmt=0)
    (las_dir / "bad.las").write_bytes(b"LASX" + b"\0" * 100)  # bad magic
    (las_dir / "trunc.las").write_bytes(b"LASF" + b"\0" * 10)  # truncated
    df = spark.read.format("las").load(str(las_dir))
    assert df.count() == 70


def test_ply_element_option(spark, tmp_path):
    """A PLY with two fixed-stride elements: the ``element`` read option
    selects which section becomes the DataFrame (reference:
    PlyRelation.scala:98, default 'vertex')."""
    import numpy as np

    from spark_iqmulus_spark.sources.ply_format import (
        PlyElement,
        PlyHeader,
        PlyProperty,
    )

    rng = np.random.default_rng(11)
    verts = rng.random((40, 3)).astype(np.float32)
    normals = rng.random((25, 3)).astype(np.float32)
    hdr = PlyHeader(
        location="",
        little_endian=True,
        elements=[
            PlyElement(
                "vertex", 40, [PlyProperty(c, "f4") for c in ("x", "y", "z")]
            ),
            PlyElement(
                "normal", 25, [PlyProperty(c, "f4") for c in ("nx", "ny", "nz")]
            ),
        ],
    )
    p = str(tmp_path / "two.ply")
    with open(p, "wb") as f:
        f.write(hdr.to_bytes() + verts.tobytes() + normals.tobytes())

    dv = spark.read.format("ply").load(p)
    assert dv.count() == 40 and {"x", "y", "z"} <= set(dv.columns)
    dn = spark.read.format("ply").option("element", "normal").load(p)
    assert dn.count() == 25 and {"nx", "ny", "nz"} <= set(dn.columns)
    # the second section's decode starts after the first element's bytes
    got = sorted(round(r.nx, 5) for r in dn.collect())
    want = sorted(round(float(v), 5) for v in normals[:, 0])
    assert got == want


def test_user_journey_las_to_relational(spark, tmp_path):
    """End-to-end: LAS tiles → world coordinates → spatial filter → join
    with a parquet dimension → aggregate.  The full path a consumer of the
    reference library runs, crossing source / functions / relational."""
    from spark_iqmulus_spark.functions.scaled import with_world_coords
    from .fixtures import make_las

    tiles = []
    for i in range(3):
        p = str(tmp_path / f"tile_{i}.las")
        make_las(p, n=2000, fmt=1, seed=i)
        tiles.append(p)
    pts = spark.read.format("las").load(tiles)
    world = with_world_coords(pts)  # x/y/z become offset + scale * raw

    cls_dim = spark.createDataFrame(
        [(c, "ground" if c == 2 else "other") for c in range(1, 7)],
        "classification int, cls_name string",
    )
    out = (
        world.where(F.col("x") > 0)
        .join(F.broadcast(cls_dim), "classification")
        .groupBy("fid", "cls_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("x"), 4).alias("avg_x"),
        )
    )
    rows = out.collect()
    assert {r.fid for r in rows} == {0, 1, 2}
    assert {r.cls_name for r in rows} == {"ground", "other"}
    # ground truth for one tile from the raw array
    import numpy as np

    arr0 = make_las(str(tmp_path / "re.las"), n=2000, fmt=1, seed=0)
    mask = arr0["x"] > 0
    want_n = int(
        ((arr0["classification"][mask] == 2)).sum()
    )
    got_n = sum(r.n for r in rows if r.fid == 0 and r.cls_name == "ground")
    assert got_n == want_n


def test_las_file_skipping_reduces_partitions(spark, tmp_path):
    """Header-bounds pushdown must actually prune scan partitions: two
    tiles with disjoint raw x-ranges; a selective predicate plans a scan
    over only the matching tile's partitions."""
    from spark_iqmulus_spark.sources.save import save_las

    d = tmp_path / "tiles"
    lo = spark.range(1000).selectExpr(
        "CAST(id AS INT) AS x", "CAST(id AS INT) AS y", "CAST(0 AS INT) AS z"
    )
    hi = spark.range(1000).selectExpr(
        "CAST(id + 1000000 AS INT) AS x", "CAST(id AS INT) AS y", "CAST(0 AS INT) AS z"
    )
    save_las(lo.coalesce(1), str(d / "lo"))
    save_las(hi.coalesce(1), str(d / "hi"))
    paths = [str(d / "lo" / "data.las"), str(d / "hi" / "data.las")]

    plain = spark.read.format("las").load(paths)
    pushed = spark.read.format("las").option("pushdown", "true").load(paths)
    q = pushed.where(F.col("x") < 500000)
    assert q.count() == 1000  # correctness unchanged
    n_all = plain.rdd.getNumPartitions()
    n_skip = q.rdd.getNumPartitions()
    assert n_skip < n_all, (n_skip, n_all)


def test_las_extrabytes_bounds_file_skipping(spark, tmp_path):
    """VERDICT r4 item 5: range predicates on ExtraBytes-described fields
    skip whole files via the descriptor's min/max.  A file whose
    reflectance bounds cannot match contributes ZERO partitions; columns
    without header bounds never skip; correctness is unchanged (Spark
    re-evaluates every filter)."""
    from pyspark.sql.datasource import GreaterThan, LessThan

    from spark_iqmulus_spark.sources.las import LasReaderWithPushdown

    src = str(tmp_path / "eb.las")
    arr = make_las(src, n=400, fmt=1, extra=True)
    refl_max = float(arr["reflectance"].max())

    # direct reader: a filter beyond the descriptor max prunes the file
    reader = LasReaderWithPushdown([src], {}, None)
    reader.pushFilters([GreaterThan(("reflectance",), refl_max + 1.0)])
    assert reader.partitions() == []

    # within bounds → file planned
    reader2 = LasReaderWithPushdown([src], {}, None)
    reader2.pushFilters([LessThan(("reflectance",), refl_max)])
    assert len(reader2.partitions()) > 0

    # column with no header bounds (intensity) can never skip
    reader3 = LasReaderWithPushdown([src], {}, None)
    reader3.pushFilters([GreaterThan(("intensity",), 10_000_000.0)])
    assert len(reader3.partitions()) > 0

    # e2e: correctness identical with and without pushdown
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    plain = spark.read.format("las").load(src)
    pushed = spark.read.format("las").option("pushdown", "true").load(src)
    pred = F.col("reflectance") > refl_max - 5.0
    assert pushed.where(pred).count() == plain.where(pred).count()
    assert pushed.where(F.col("reflectance") > refl_max + 1.0).count() == 0


def test_las_write_v14(spark, tmp_path):
    """Writer 'minor' option: LAS 1.4 output (375-byte header, u64 counts)
    round-trips and records the version."""
    from spark_iqmulus_spark.sources.las_format import LasHeader
    from spark_iqmulus_spark.sources.save import save_las

    src = str(tmp_path / "s.las")
    make_las(src, n=1500, fmt=1)
    df = spark.read.format("las").load(src)
    out = str(tmp_path / "v14")
    save_las(df, out, minor=4)
    hdr = LasHeader.parse_file(f"{out}/s.las")
    assert (hdr.version_major, hdr.version_minor) == (1, 4)
    assert hdr.header_size == 375 and hdr.pdr_nb == 1500
    back = spark.read.format("las").load(out)
    assert back.count() == 1500
    assert back.agg(F.sum("x")).collect()[0][0] == df.agg(F.sum("x")).collect()[0][0]


def test_pushdown_all_files_pruned_yields_empty(spark, tmp_path):
    """When header bounds prune every input file, the scan must return an
    empty DataFrame — not crash on Spark's read(None) probe (regression:
    the x>1000 filter at small SF prunes the only file)."""
    import os

    from pyspark.sql import functions as F

    from tests.fixtures import make_las

    las = os.path.join(str(tmp_path), "small.las")
    make_las(las, n=100, fmt=1)  # x raw ints 0..99
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = spark.read.format("las").option("pushdown", "true").load(las)
    assert df.where(F.col("x") > 10_000_000).count() == 0


def test_ply_ascii_read(spark, tmp_path):
    """format ascii 1.0 PLY (reference rejects it; we read it whole-file),
    including skipping a preceding element's rows."""
    p = str(tmp_path / "a.ply")
    with open(p, "wb") as f:
        f.write(
            b"ply\nformat ascii 1.0\n"
            b"element camera 2\nproperty float cx\n"
            b"element vertex 3\n"
            b"property float x\nproperty float y\nproperty int c\n"
            b"end_header\n"
            b"9.5\n8.5\n"  # camera rows (skipped)
            b"1.5 2.0 7\n-3.25 0.5 8\n10 20 9\n"
        )
    df = spark.read.format("ply").load(p)
    assert df.columns == ["fid", "pid", "x", "y", "c"]
    rows = sorted(df.select("x", "y", "c").collect())
    assert rows[0] == (-3.25, 0.5, 8)
    assert rows[2] == (10.0, 20.0, 9)
    assert df.count() == 3


def test_las_extrabytes_write_roundtrip(spark, tmp_path):
    """Extra (non-format) columns round-trip through the LAS writer as
    ExtraBytes dimensions, with merged min/max recorded in the descriptor
    (the bounds source for extra-field file skipping)."""
    from spark_iqmulus_spark.sources.las_format import LasHeader

    df = spark.createDataFrame(
        [(i, i * 2, 100 + i, float(i) * 1.5, 10 - i) for i in range(50)],
        "x int, y int, z int, reflect double, amp int",
    )
    out = str(tmp_path / "xb")
    df.write.format("las").mode("overwrite").save(out)
    files = [f for f in __import__("os").listdir(out) if f.endswith(".las")]
    assert files == ["data.las"]
    hdr = LasHeader.parse_file(f"{out}/{files[0]}")
    by_name = {e.name: e in hdr.extra_fields and e for e in hdr.extra_fields}
    assert set(by_name) == {"reflect", "amp"}
    assert by_name["reflect"].vmin == 0.0
    assert by_name["reflect"].vmax == 49 * 1.5
    assert by_name["amp"].vmin == 10 - 49 and by_name["amp"].vmax == 10

    back = spark.read.format("las").load(out)
    assert {"reflect", "amp"} <= set(back.columns)
    import pyspark.sql.functions as F

    row = back.agg(
        F.sum("x"), F.sum("reflect"), F.min("amp"), F.count("*")
    ).collect()[0]
    assert row[0] == sum(range(50))
    assert abs(row[1] - sum(i * 1.5 for i in range(50))) < 1e-9
    assert row[2] == 10 - 49
    assert row[3] == 50

    # descriptor bounds drive file skipping on the extra field
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    pushed = spark.read.format("las").option("pushdown", "true").load(out)
    assert pushed.where(F.col("amp") > 100).count() == 0  # skipped by bounds
    assert pushed.where(F.col("amp") > 0).count() == 10


def test_ply_ascii_zero_row_element(spark, tmp_path):
    """An element declaring 0 rows must be empty — not ingest the NEXT
    element's rows (regression: max_rows=None when n_rows == 0)."""
    p = str(tmp_path / "a.ply")
    with open(p, "wb") as f:
        f.write(
            b"ply\nformat ascii 1.0\n"
            b"element vertex 0\nproperty float x\n"
            b"element face 2\nproperty float q\n"
            b"end_header\n"
            b"1.0\n2.0\n"  # face rows — must NOT appear as vertices
        )
    df = spark.read.format("ply").schema("fid int, pid long, x float").load(p)
    assert df.count() == 0


def test_ply_ascii_int64_precision(spark, tmp_path):
    """ascii int64 properties parse with native dtype, not via float64
    (values above 2^53 would silently round)."""
    big = 2**60 + 1
    p = str(tmp_path / "a.ply")
    with open(p, "wb") as f:
        f.write(
            b"ply\nformat ascii 1.0\n"
            b"element vertex 2\n"
            b"property float x\nproperty int64 t\n"
            b"end_header\n" + f"1.5 {big}\n2.5 {-big}\n".encode()
        )
    rows = sorted(spark.read.format("ply").load(p).select("x", "t").collect())
    assert rows[0] == (1.5, big)
    assert rows[1] == (2.5, -big)


def test_append_file_partial_sendfile_raises(tmp_path, monkeypatch):
    """After a PARTIAL sendfile transfer, a fallback restart-from-zero
    would duplicate bytes in the merged output — it must raise instead."""
    import os as _os

    from spark_iqmulus_spark.sources.pointcloud_common import append_file

    src = tmp_path / "src.bin"
    src.write_bytes(b"0123456789" * 100)

    calls = {"n": 0}
    real_sendfile = _os.sendfile

    def flaky_sendfile(out_fd, in_fd, offset, count):
        calls["n"] += 1
        if calls["n"] == 1:
            return real_sendfile(out_fd, in_fd, offset, 64)
        raise OSError("simulated mid-transfer failure")

    monkeypatch.setattr(_os, "sendfile", flaky_sendfile)
    with open(tmp_path / "out.bin", "wb") as out:
        with pytest.raises(OSError):
            append_file(out, str(src))

    # with no bytes transferred the chunked fallback is still taken
    calls["n"] = 0

    def failing_sendfile(out_fd, in_fd, offset, count):
        raise OSError("simulated immediate failure")

    monkeypatch.setattr(_os, "sendfile", failing_sendfile)
    with open(tmp_path / "out2.bin", "wb") as out:
        append_file(out, str(src))
    assert (tmp_path / "out2.bin").read_bytes() == src.read_bytes()


def test_stream_settle_skips_in_flight_files(tmp_path):
    """latestOffset must not claim a file whose size/mtime is still moving
    (offsets are path sets — a claimed partial file is never re-read)."""
    import time

    from spark_iqmulus_spark.sources.las_stream import _stable_files

    import os as _os

    stable = tmp_path / "stable.las"
    stable.write_bytes(b"x" * 100)
    old = time.time() - 60
    _os.utime(stable, (old, old))

    growing = tmp_path / "growing.las"
    growing.write_bytes(b"partial")  # mtime = now → inside settle window

    # grow the file during the settle re-check by appending from a thread
    import threading

    def _grow():
        time.sleep(0.1)
        with open(growing, "ab") as f:
            f.write(b"more bytes")

    t = threading.Thread(target=_grow)
    t.start()
    got = _stable_files(str(tmp_path), ".las", settle=0.4)
    t.join()
    assert str(stable) in got
    assert str(growing) not in got
    # once quiescent past the settle window, it is picked up
    time.sleep(0.5)
    got2 = _stable_files(str(tmp_path), ".las", settle=0.4)
    assert str(growing) in got2


def test_many_destination_commit_parallel_merge(spark, tmp_path):
    """A fid-restoring commit over many source tiles merges destinations
    concurrently (pmap_merges) — every output must still be byte-complete."""
    src = tmp_path / "tiles"
    src.mkdir()
    n_tiles, per = 40, 25
    for i in range(n_tiles):
        make_las(str(src / f"tile{i:03d}.las"), n=per, fmt=1, seed=i)
    df = spark.read.format("las").load(str(src))
    out = str(tmp_path / "out")
    df.write.format("las").mode("overwrite").save(out)
    import os as _os

    files = sorted(f for f in _os.listdir(out) if f.endswith(".las"))
    assert files == [f"tile{i:03d}.las" for i in range(n_tiles)]
    back = spark.read.format("las").load(out)
    assert back.count() == n_tiles * per
    # per-file counts survive the concurrent merge
    per_fid = {
        r["fid"]: r["n"]
        for r in back.groupBy("fid").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_fid.values()) == {per}


def test_columns_option_prunes_and_matches(spark, tmp_path):
    """Explicit column pruning (`columns` option): schema shrinks to the
    requested fields (+fid/pid), values match the unpruned read, and an
    unknown name raises."""
    p = str(tmp_path / "a.las")
    make_las(p, n=3000, fmt=3, seed=5)  # fmt 3: many fields incl. rgb+time
    full = spark.read.format("las").load(p)
    pruned = spark.read.format("las").option("columns", "x,z").load(p)
    assert pruned.columns == ["fid", "pid", "x", "z"]
    a = full.agg(F.sum("x"), F.sum("z")).collect()[0]
    b = pruned.agg(F.sum("x"), F.sum("z")).collect()[0]
    assert (a[0], a[1]) == (b[0], b[1])
    with pytest.raises(Exception, match="unknown"):
        spark.read.format("las").option("columns", "x,nope").load(p).count()
    # JSON-list form + ply
    q = str(tmp_path / "a.ply")
    make_ply_xyz(q, n=500)
    pr = spark.read.format("ply").option("columns", '["y"]').load(q)
    assert pr.columns == ["fid", "pid", "y"]
    assert pr.count() == 500


