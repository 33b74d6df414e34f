"""Fused LAS transcode (sources/transcode.py): merge/filter without the
JVM→Python Arrow hop.  Certifies record bytes, merged header stats, world
vs stored-value predicate semantics, and the uniform-layout guard."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from .fixtures import make_las
from spark_iqmulus_spark.sources.las_format import LasHeader
from spark_iqmulus_spark.sources.transcode import transcode_las


@pytest.fixture(scope="module")
def las_tiles(tmp_path_factory):
    d = tmp_path_factory.mktemp("tc_tiles")
    paths = []
    for i, seed in enumerate((1, 2, 3)):
        p = str(d / f"tile{i}.las")
        make_las(p, n=5000, fmt=1, seed=seed)
        paths.append(p)
    return paths


def test_merge_matches_union_read(spark, las_tiles, tmp_path):
    out = str(tmp_path / "merged.las")
    r = transcode_las(spark, las_tiles, out)
    assert r == {"points": 15000, "read": 15000, "files": 3, "parts": r["parts"]}
    merged = spark.read.format("las").load(out)
    # aggregate equality against the reader over the individual tiles
    import json

    union = spark.read.format("las").option(
        "paths", json.dumps(las_tiles)
    ).load()
    aggs = [
        F.count(F.lit(1)),
        F.sum("x"),
        F.sum("y"),
        F.sum("z"),
        F.sum("intensity"),
        F.sum("classification"),
        F.min("x"),
        F.max("x"),
    ]
    assert merged.agg(*aggs).collect() == union.agg(*aggs).collect()
    # merged header stats are exact
    hdr = LasHeader.parse_file(out)
    bounds = union.agg(
        F.min(F.col("x") * 0.01),
        F.max(F.col("x") * 0.01),
        F.min(F.col("y") * 0.01),
        F.max(F.col("y") * 0.01),
    ).collect()[0]
    assert hdr.pdr_nb == 15000
    assert hdr.pmin[0] == pytest.approx(bounds[0])
    assert hdr.pmax[0] == pytest.approx(bounds[1])
    assert hdr.pmin[1] == pytest.approx(bounds[2])
    assert hdr.pmax[1] == pytest.approx(bounds[3])


def test_filter_world_and_stored_semantics(spark, las_tiles, tmp_path):
    """x compares in WORLD coords (offset + scale*raw); classification on
    the stored value — the same semantics a reader-side filter sees."""
    out = str(tmp_path / "filt.las")
    transcode_las(
        spark,
        las_tiles,
        out,
        where=[("x", ">", 100.0), ("classification", "<=", 2)],
    )
    got = spark.read.format("las").load(out)
    import json

    union = spark.read.format("las").option(
        "paths", json.dumps(las_tiles)
    ).load()
    want = union.where(
        (F.col("x") * 0.01 > 100.0) & (F.col("classification") <= 2)
    )
    aggs = [F.count(F.lit(1)), F.sum("x"), F.sum("intensity")]
    assert got.agg(*aggs).collect() == want.agg(*aggs).collect()


def test_zero_match_filter_yields_valid_empty_las(spark, las_tiles, tmp_path):
    out = str(tmp_path / "empty.las")
    r = transcode_las(spark, las_tiles, out, where=[("classification", ">", 99)])
    assert r["points"] == 0
    hdr = LasHeader.parse_file(out)
    assert hdr.pdr_nb == 0
    assert spark.read.format("las").load(out).count() == 0


def test_record_bytes_are_preserved_verbatim(spark, tmp_path):
    """Pure merge copies record bytes untouched — byte-compare the point
    block of a single-file transcode against the source."""
    src = str(tmp_path / "src.las")
    make_las(src, n=2000, fmt=1, seed=7)
    out = str(tmp_path / "copy.las")
    transcode_las(spark, src, out)
    h_in, h_out = LasHeader.parse_file(src), LasHeader.parse_file(out)
    with open(src, "rb") as f:
        f.seek(h_in.offset_to_points)
        body_in = f.read()
    with open(out, "rb") as f:
        f.seek(h_out.offset_to_points)
        body_out = f.read()
    assert body_in == body_out


def test_heterogeneous_layout_rejected(spark, tmp_path):
    a = str(tmp_path / "a.las")
    b = str(tmp_path / "b.las")
    make_las(a, n=100, fmt=1)
    make_las(b, n=100, fmt=1, scale=(0.001, 0.001, 0.001))
    with pytest.raises(ValueError, match="uniform layout"):
        transcode_las(spark, [a, b], str(tmp_path / "o.las"))


def test_extra_bytes_roundtrip(spark, tmp_path):
    """ExtraBytes fields survive the byte copy and the merged descriptors
    carry recomputed min/max."""
    src = str(tmp_path / "e.las")
    arr = make_las(src, n=3000, fmt=1, extra=True, seed=9)
    out = str(tmp_path / "eo.las")
    transcode_las(spark, src, out)
    hdr = LasHeader.parse_file(out)
    by_name = {e.name: e for e in hdr.extra_fields}
    assert set(by_name) == {"reflectance", "amplitude"}
    assert by_name["amplitude"].vmin == int(arr["amplitude"].min())
    assert by_name["amplitude"].vmax == int(arr["amplitude"].max())
    got = spark.read.format("las").load(out)
    want = spark.read.format("las").load(src)
    aggs = [F.count(F.lit(1)), F.sum("amplitude"), F.sum("reflectance")]
    assert got.agg(*aggs).collect() == want.agg(*aggs).collect()


def test_int64_extra_stats_exact_beyond_2p53(spark, tmp_path):
    """int64 ExtraBytes min/max must survive the merge EXACTLY — these
    bounds drive read-side file skipping (las.py::_file_can_match), so a
    float64 round-trip (which collapses values past 2^53) could wrongly
    prune a transcoded file.  Stats now travel as decimal strings."""
    from spark_iqmulus_spark.sources.las_format import (
        POINT_FORMATS,
        ExtraField,
        LasHeader as LH,
    )

    n = 100
    lo, hi = 2**62 + 1, 2**62 + 9  # adjacent int64s float64 cannot separate
    fields = list(POINT_FORMATS[1]) + [("huge", "i8")]
    dtype = np.dtype([(nm, "<" + ch) for nm, ch in fields])
    arr = np.zeros(n, dtype=dtype)
    arr["huge"] = lo + (np.arange(n, dtype=np.int64) % (hi - lo + 1))
    extras = [ExtraField("huge", "i8", vmin=lo, vmax=hi)]
    src = str(tmp_path / "big.las")
    hdr = LH(
        location=src, version_minor=2, pdr_format=1, pdr_nb=n,
        scale=(0.01,) * 3, offset=(0.0,) * 3, pmin=(0.0,) * 3,
        pmax=(0.0,) * 3, pdr_return_nb=(n,) + (0,) * 14,
        extra_fields=extras,
    )
    with open(src, "wb") as f:
        f.write(hdr.to_bytes())
        f.write(arr.tobytes())
    out = str(tmp_path / "big_out.las")
    transcode_las(spark, src, out)
    got = {e.name: e for e in LasHeader.parse_file(out).extra_fields}["huge"]
    assert got.vmin == lo and got.vmax == hi
    assert float(lo) == float(lo + 2)  # the rounding the fix guards against


def test_unknown_field_and_op_rejected(spark, las_tiles, tmp_path):
    with pytest.raises(ValueError, match="unknown field"):
        transcode_las(spark, las_tiles, str(tmp_path / "x.las"), where=[("nope", "<", 1)])
    with pytest.raises(ValueError, match="unknown op"):
        transcode_las(spark, las_tiles, str(tmp_path / "x.las"), where=[("x", "~", 1)])


# ---------------------------------------------------------------------------
# transcode_ply — the PLY twin (round 8)
# ---------------------------------------------------------------------------

from .fixtures import make_ply_xyz  # noqa: E402
from spark_iqmulus_spark.sources.ply_format import PlyHeader  # noqa: E402
from spark_iqmulus_spark.sources.transcode import transcode_ply  # noqa: E402


@pytest.fixture(scope="module")
def ply_tiles(tmp_path_factory):
    d = tmp_path_factory.mktemp("tcp_tiles")
    paths = []
    for i, seed in enumerate((1, 2, 3)):
        p = str(d / f"tile{i}.ply")
        make_ply_xyz(p, n=4000 + i * 100, seed=seed)
        paths.append(p)
    return paths


def test_ply_merge_matches_union_read(spark, ply_tiles, tmp_path):
    out = str(tmp_path / "merged.ply")
    r = transcode_ply(spark, ply_tiles, out)
    assert r["points"] == r["read"] == 12300 and r["files"] == 3
    merged = spark.read.format("ply").load(out)
    import json

    union = spark.read.format("ply").option(
        "paths", json.dumps(ply_tiles)
    ).load()
    aggs = [
        F.count(F.lit(1)),
        F.sum(F.col("x").cast("double")),
        F.sum(F.col("y").cast("double")),
        F.min("z"),
        F.max("z"),
    ]
    assert merged.agg(*aggs).collect() == union.agg(*aggs).collect()
    hdr = PlyHeader.parse_file(out)
    assert hdr.element("vertex").count == 12300


def test_ply_filter_stored_value_semantics(spark, ply_tiles, tmp_path):
    out = str(tmp_path / "filt.ply")
    transcode_ply(spark, ply_tiles, out, where=[("x", ">", 50.0), ("z", "<=", 80.0)])
    got = spark.read.format("ply").load(out)
    import json

    union = spark.read.format("ply").option(
        "paths", json.dumps(ply_tiles)
    ).load()
    want = union.where((F.col("x") > 50.0) & (F.col("z") <= 80.0))
    aggs = [F.count(F.lit(1)), F.sum(F.col("x").cast("double"))]
    assert got.agg(*aggs).collect() == want.agg(*aggs).collect()


def test_ply_record_bytes_preserved_verbatim(spark, tmp_path):
    src = str(tmp_path / "src.ply")
    make_ply_xyz(src, n=1500, rgb=True, seed=5)
    out = str(tmp_path / "copy.ply")
    transcode_ply(spark, src, out)
    h_in, h_out = PlyHeader.parse_file(src), PlyHeader.parse_file(out)
    with open(src, "rb") as f:
        f.seek(h_in.header_length)
        body_in = f.read()
    with open(out, "rb") as f:
        f.seek(h_out.header_length)
        body_out = f.read()
    assert body_in == body_out
    # rgb properties carried through the layout signature
    assert [p.name for p in h_out.element("vertex").properties] == [
        "x", "y", "z", "r", "g", "b",
    ]


def test_ply_zero_match_yields_valid_empty(spark, ply_tiles, tmp_path):
    out = str(tmp_path / "empty.ply")
    r = transcode_ply(spark, ply_tiles, out, where=[("x", ">", 1e9)])
    assert r["points"] == 0
    assert PlyHeader.parse_file(out).element("vertex").count == 0
    assert spark.read.format("ply").load(out).count() == 0


def test_ply_heterogeneous_and_invalid_rejected(spark, tmp_path):
    a, b = str(tmp_path / "a.ply"), str(tmp_path / "b.ply")
    make_ply_xyz(a, n=100)
    make_ply_xyz(b, n=100, rgb=True)
    with pytest.raises(ValueError, match="uniform layout"):
        transcode_ply(spark, [a, b], str(tmp_path / "o.ply"))
    with pytest.raises(ValueError, match="unknown property"):
        transcode_ply(spark, a, str(tmp_path / "o.ply"), where=[("nope", "<", 1)])
    # big-endian merges with big-endian, but not with little
    c = str(tmp_path / "c.ply")
    make_ply_xyz(c, n=100, little_endian=False)
    with pytest.raises(ValueError, match="uniform layout"):
        transcode_ply(spark, [a, c], str(tmp_path / "o.ply"))
    out = str(tmp_path / "be.ply")
    transcode_ply(spark, c, out, where=[("x", "<", 50.0)])
    got = spark.read.format("ply").load(out)
    assert got.count() == got.where("x < 50").count()


def _add_extra_element(path: str, n_extra: int = 5, first: bool = False):
    """Rewrite a single-element PLY with a second fixed-stride ``extra``
    element (before or after vertex) — the multi-element fixture shape."""
    import numpy as np

    from spark_iqmulus_spark.sources.ply_format import (
        PlyElement,
        PlyProperty,
    )

    h = PlyHeader.parse_file(path)
    v = h.element("vertex")
    with open(path, "rb") as f:
        f.seek(h.section_offset("vertex"))
        vbytes = f.read(v.byte_size)
    endian = "<" if h.little_endian else ">"
    ebytes = (np.arange(n_extra, dtype=endian + "i4") * 2).tobytes()
    velem = PlyElement("vertex", v.count, list(v.properties))
    eelem = PlyElement("extra", n_extra, [PlyProperty("tag", "i4")])
    elements = [eelem, velem] if first else [velem, eelem]
    sections = [ebytes, vbytes] if first else [vbytes, ebytes]
    nh = PlyHeader(location="", little_endian=h.little_endian, elements=elements)
    with open(path, "wb") as f:
        f.write(nh.to_bytes())
        for s in sections:
            f.write(s)


def test_ply_multi_element_requires_opt_in(spark, tmp_path):
    a = str(tmp_path / "a.ply")
    make_ply_xyz(a, n=100)
    _add_extra_element(a)
    with pytest.raises(ValueError, match="element_only"):
        transcode_ply(spark, a, str(tmp_path / "o.ply"))


def test_ply_multi_element_element_only_transcode(spark, tmp_path):
    """element_only=True must merge exactly the vertex sections of
    multi-element sources — including one whose vertex section sits AFTER
    another element (section-offset arithmetic) — filter them, and emit a
    valid single-element output."""
    a, b = str(tmp_path / "a.ply"), str(tmp_path / "b.ply")
    make_ply_xyz(a, n=120, seed=1)
    make_ply_xyz(b, n=80, seed=2)
    exp = sorted(
        map(
            tuple,
            spark.read.format("ply")
            .load(str(tmp_path))
            .where("x < 50")
            .drop("fid", "pid")
            .collect(),
        )
    )
    _add_extra_element(a, first=False)
    _add_extra_element(b, first=True)  # vertex offset shifted by extras
    out = str(tmp_path / "merged.ply")
    transcode_ply(
        spark, [a, b], out, where=[("x", "<", 50.0)], element_only=True
    )
    h = PlyHeader.parse_file(out)
    assert [e.name for e in h.elements] == ["vertex"]
    got = sorted(
        map(
            tuple,
            spark.read.format("ply").load(out).drop("fid", "pid").collect(),
        )
    )
    assert got == exp and got


# ---------------------------------------------------------------------------
# transcode_las_to_ply — cross-format (round 8)
# ---------------------------------------------------------------------------

from spark_iqmulus_spark.sources.transcode import transcode_las_to_ply  # noqa: E402


def test_las2ply_values_match_reader_chain(spark, las_tiles, tmp_path):
    """The fused conversion must equal read('las')→world coords→the same
    column subset, for both the pure merge and the filtered variant."""
    import json

    out = str(tmp_path / "conv.ply")
    r = transcode_las_to_ply(spark, las_tiles, out)
    assert r["points"] == 15000 and r["files"] == 3
    got = spark.read.format("ply").load(out)
    assert [f.name for f in got.schema.fields if f.name not in ("fid", "pid")] == [
        "x", "y", "z", "intensity", "classification",
    ]
    union = spark.read.format("las").option("paths", json.dumps(las_tiles)).load()
    want = union.select(
        (F.col("x") * 0.01).alias("wx"),
        F.col("intensity"),
        F.col("classification"),
    )
    aggs_got = got.agg(
        F.count(F.lit(1)), F.round(F.sum("x"), 4), F.sum("intensity"),
        F.sum("classification"),
    ).collect()
    aggs_want = want.agg(
        F.count(F.lit(1)), F.round(F.sum("wx"), 4), F.sum("intensity"),
        F.sum("classification"),
    ).collect()
    assert aggs_got == aggs_want


def test_las2ply_filter_and_heterogeneous_grids(spark, tmp_path):
    """Sources with DIFFERENT scale/offset convert through their own grids
    (allowed here, unlike same-format transcode) and the world-coord
    predicate applies uniformly."""
    a, b = str(tmp_path / "a.las"), str(tmp_path / "b.las")
    arr_a = make_las(a, n=2000, fmt=1, seed=1)
    arr_b = make_las(b, n=2000, fmt=1, seed=2, scale=(0.001, 0.001, 0.001))
    out = str(tmp_path / "c.ply")
    transcode_las_to_ply(spark, [a, b], out, where=[("x", ">", 0.0)])
    got = spark.read.format("ply").load(out)
    want_n = int((arr_a["x"] * 0.01 > 0.0).sum() + (arr_b["x"] * 0.001 > 0.0).sum())
    assert got.count() == want_n
    assert got.agg(F.min("x")).collect()[0][0] > 0.0


def test_las2ply_column_selection_and_errors(spark, las_tiles, tmp_path):
    out = str(tmp_path / "sel.ply")
    transcode_las_to_ply(spark, las_tiles, out, columns=["z", "source"])
    got = spark.read.format("ply").load(out)
    assert [f.name for f in got.schema.fields if f.name not in ("fid", "pid")] == ["z", "source"]
    with pytest.raises(ValueError, match="unknown column"):
        transcode_las_to_ply(spark, las_tiles, out, columns=["nope"])
    with pytest.raises(ValueError, match="one point layout"):
        a, b = str(tmp_path / "f2a.las"), str(tmp_path / "f2b.las")
        make_las(a, n=50, fmt=1)
        make_las(b, n=50, fmt=6)
        transcode_las_to_ply(spark, [a, b], str(tmp_path / "x.ply"))


# ---------------------------------------------------------------------------
# transcode_pcd — the PCD twin (round 8)
# ---------------------------------------------------------------------------

from .fixtures import make_pcd  # noqa: E402
from spark_iqmulus_spark.sources.pcd_format import PcdHeader  # noqa: E402
from spark_iqmulus_spark.sources.transcode import transcode_pcd  # noqa: E402


def test_pcd_merge_filter_and_bytes(spark, tmp_path):
    paths = []
    for i, seed in enumerate((1, 2)):
        p = str(tmp_path / f"t{i}.pcd")
        make_pcd(p, n=3000 + i * 100, seed=seed)
        paths.append(p)
    out = str(tmp_path / "merged.pcd")
    r = transcode_pcd(spark, paths, out)
    assert r["points"] == 6100 and r["files"] == 2
    import json

    merged = spark.read.format("pcd").load(out)
    union = spark.read.format("pcd").option("paths", json.dumps(paths)).load()
    aggs = [
        F.count(F.lit(1)),
        F.sum(F.col("x").cast("double")),
        F.sum("label"),
        F.min("z"),
    ]
    assert merged.agg(*aggs).collect() == union.agg(*aggs).collect()
    assert PcdHeader.parse_file(out).points == 6100
    # filtered variant on the stored value
    out2 = str(tmp_path / "f.pcd")
    transcode_pcd(spark, paths, out2, where=[("label", "<=", 3)])
    got = spark.read.format("pcd").load(out2)
    want = union.where(F.col("label") <= 3)
    assert got.agg(*aggs).collect() == want.agg(*aggs).collect()
    # single-file pure merge is a verbatim byte copy
    out3 = str(tmp_path / "c.pcd")
    transcode_pcd(spark, paths[0], out3)
    h_in, h_out = PcdHeader.parse_file(paths[0]), PcdHeader.parse_file(out3)
    assert (
        open(paths[0], "rb").read()[h_in.data_offset :]
        == open(out3, "rb").read()[h_out.data_offset :]
    )


def test_pcd_nonbinary_and_heterogeneous_rejected(spark, tmp_path):
    a = str(tmp_path / "a.pcd")
    make_pcd(a, n=100)
    # forge an ascii header variant
    txt = str(tmp_path / "b.pcd")
    with open(txt, "w") as f:
        f.write(
            "VERSION 0.7\nFIELDS x\nSIZE 4\nTYPE F\nCOUNT 1\nWIDTH 1\n"
            "HEIGHT 1\nVIEWPOINT 0 0 0 1 0 0 0\nPOINTS 1\nDATA ascii\n1.5\n"
        )
    with pytest.raises(ValueError, match="DATA binary"):
        transcode_pcd(spark, [a, txt], str(tmp_path / "o.pcd"))
    with pytest.raises(ValueError, match="unknown field"):
        transcode_pcd(spark, a, str(tmp_path / "o.pcd"), where=[("nope", "<", 1)])


@pytest.mark.parametrize("little", [True, False])
@pytest.mark.parametrize(
    "fields",
    [
        [("x", "f4"), ("q", "u1")],
        [("a", "i8"), ("b", "f8"), ("c", "u2")],
        [("v", "i2"), ("w", "u4"), ("t", "f8"), ("s", "i1")],
    ],
)
def test_ply_transcode_layout_matrix(spark, tmp_path, little, fields):
    """Layout sweep: the fused PLY path must byte-preserve and
    filter-correctly for any scalar dtype mix and either endianness."""
    from spark_iqmulus_spark.sources.ply_format import (
        PlyElement,
        PlyHeader as PH,
        PlyProperty,
    )

    rng = np.random.default_rng(hash((little, tuple(f for f, _ in fields))) & 0xFFFF)
    n = 700
    prefix = "<" if little else ">"
    dtype = np.dtype([(nm, prefix + ch) for nm, ch in fields])
    arr = np.zeros(n, dtype=dtype)
    for nm, ch in fields:
        if ch[0] == "f":
            arr[nm] = rng.uniform(-50, 50, n)
        else:
            info = np.iinfo(prefix + ch)
            arr[nm] = rng.integers(info.min, min(info.max, 1000), n)
    src = str(tmp_path / "m.ply")
    hdr = PH(
        location=src,
        little_endian=little,
        elements=[
            PlyElement("vertex", n, [PlyProperty(nm, ch) for nm, ch in fields])
        ],
    )
    with open(src, "wb") as f:
        f.write(hdr.to_bytes())
        f.write(arr.tobytes())
    first = fields[0][0]
    cut = float(np.median(arr[first].astype(np.float64)))
    out = str(tmp_path / "mo.ply")
    r = transcode_ply(spark, src, out, where=[(first, "<=", cut)])
    want = arr[arr[first] <= cut]
    assert r["points"] == len(want)
    h_out = PlyHeader.parse_file(out)
    with open(out, "rb") as f:
        f.seek(h_out.header_length)
        assert f.read() == want.tobytes()


def test_pcd_merge_compute_recenters(spark, tmp_path):
    """Round 12: the PCD MERGE variant accepts compute — a recenter
    program replays over each record and the merged header keeps the
    program's storage char."""
    import numpy as np

    paths = []
    for i, seed in enumerate((5, 6)):
        p = str(tmp_path / f"c{i}.pcd")
        make_pcd(p, n=400 + i * 50, seed=seed)
        paths.append(p)
    out = str(tmp_path / "recentered.pcd")
    prog = [("col", "x"), ("todouble",), ("lit", 50.0), ("sub",)]
    transcode_pcd(spark, paths, out, compute={"x": (prog, "f4")})
    got = spark.read.format("pcd").load(out)
    import json

    union = spark.read.format("pcd").option("paths", json.dumps(paths)).load()
    want = sorted(
        np.float32(np.float64(r["x"]) - 50.0) for r in union.select("x").collect()
    )
    have = sorted(r["x"] for r in got.select("x").collect())
    assert np.array_equal(np.array(have, np.float32), np.array(want, np.float32))
    assert PcdHeader.parse_file(out).points == 850
    # f8-rooted program widens the merged header field
    out2 = str(tmp_path / "widened.pcd")
    transcode_pcd(
        spark, paths, out2,
        compute={"x": ([("col", "x"), ("todouble",), ("lit", 0.5), ("mul",)], "f8")},
    )
    h2 = PcdHeader.parse_file(out2)
    assert {f.name: f.np_char for f in h2.fields}["x"] == "f8"


def test_compute_legacy_bare_program(spark, las_tiles, tmp_path):
    """ADVICE r12: a pre-r12 bare program (no out_char pair, bare
    ``("col",)`` leaves) passed straight to ``compute=`` still replays —
    the normalization rebinds bare leaves to the entry's own column name
    before the executor sees the structured record."""
    import json

    out = str(tmp_path / "legacy.las")
    prog = [("col",), ("todouble",), ("lit", 2.0), ("mul",)]
    r = transcode_las(spark, las_tiles, out, compute={"x": prog})
    assert r["points"] == 15000
    got = spark.read.format("las").load(out)
    union = spark.read.format("las").option(
        "paths", json.dumps(las_tiles)
    ).load()
    assert (
        got.agg(F.sum("x")).collect()[0][0]
        == 2 * union.agg(F.sum("x")).collect()[0][0]
    )


def test_las_to_ply_emits_sidecar_zero_job_minmax(spark, las_tiles, tmp_path):
    """Round 13: the cross-format converter emits the _manifest sidecar
    too, so the produced PLY answers stock min/max with zero Spark jobs
    (and exactly — double world coords compared against the real scan)."""
    out = str(tmp_path / "conv.ply")
    transcode_las_to_ply(spark, las_tiles, out)
    assert os.path.isdir(str(tmp_path / "_manifest"))
    back = spark.read.format("ply").load(out)

    def jobs():
        return set(
            spark.sparkContext.statusTracker().getJobIdsForGroup(None) or []
        )

    before = jobs()
    row = back.agg(
        F.min("x").alias("mn"), F.max("intensity").alias("mi")
    ).collect()[0]
    assert jobs() == before
    spark.conf.set("spark.iqmulus.fusedRead", "false")
    try:
        truth = back.agg(F.min("x"), F.max("intensity")).collect()[0]
    finally:
        spark.conf.set("spark.iqmulus.fusedRead", "true")
    assert list(row) == list(truth)


def test_spec_frame_one_task_per_spec_no_shuffle(spark):
    """Round 13: the spec frame pins one task per byte-range spec at RDD
    creation — no Exchange in the plan (the old keyless repartition paid
    a shuffle per transcode job) and values survive the RDD path."""
    from spark_iqmulus_spark.sources.transcode import _spec_frame

    schema = "fid int, path string, offset long, rec_start long, n long"
    specs = [(i, f"/p/{i}.las", 96, i * 10, 10) for i in range(5)]
    df = _spec_frame(spark, specs, schema)
    assert df.rdd.getNumPartitions() == 5
    per_part = df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert per_part == [1] * 5
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(specs)


def test_sidecar_failure_is_logged_and_transcode_commits(
    spark, las_tiles, tmp_path, monkeypatch, caplog
):
    """The ``_manifest`` sidecar is advisory: a failing write is logged as
    a warning with its traceback, and the transcode still commits."""
    import logging

    from spark_iqmulus_spark.sources import automanifest

    def fail(*args, **kwargs):
        raise OSError("sidecar store unavailable")

    monkeypatch.setattr(automanifest, "write_sidecar", fail)
    out = str(tmp_path / "merged.las")
    with caplog.at_level(logging.WARNING, logger="spark_iqmulus_spark"):
        r = transcode_las(spark, las_tiles, out)
    assert r["points"] == 15000
    assert LasHeader.parse_file(out).pdr_nb == 15000
    assert spark.read.format("las").load(out).count() == 15000
    assert not os.path.exists(str(tmp_path / "_manifest"))
    [rec] = [r for r in caplog.records if "_manifest" in r.getMessage()]
    assert rec.levelno == logging.WARNING
    assert str(rec.exc_info[1]) == "sidecar store unavailable"
