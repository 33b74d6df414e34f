"""Filesystem routing (sources/fsio.py): the commit-side byte movers accept
a ``pyarrow.fs.FileSystem`` and produce byte-identical results through it.

``SubTreeFileSystem`` is the adversarial instance: it wraps LocalFileSystem
behind pyarrow streams (no fd → no sendfile, fs-relative paths), so passing
it exercises every generic branch while staying hermetic.  VERDICT r7
item 7 / SURVEY §1.4, §3.2.
"""

import os

import pytest
from pyarrow import fs as pafs

from .fixtures import make_las, make_pcd, make_ply_xyz
from spark_iqmulus_spark.sources import fsio
from spark_iqmulus_spark.sources.pointcloud_common import append_file


@pytest.fixture()
def subfs(tmp_path):
    """A pyarrow filesystem rooted at tmp_path; paths are tree-relative."""
    return pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())


# -- fsio primitives ---------------------------------------------------------


def test_from_uri_or_local():
    fs, p = fsio.from_uri_or_local("/plain/path/file.las")
    assert fs is None and p == "/plain/path/file.las"
    fs, p = fsio.from_uri_or_local("file:///plain/path/file.las")
    assert fs is None and p == "/plain/path/file.las"


def test_roundtrip_through_subtree_fs(subfs, tmp_path):
    with fsio.open_output("a.bin", subfs) as f:
        f.write(b"hello " * 1000)
    assert fsio.exists("a.bin", subfs)
    assert fsio.file_size("a.bin", subfs) == 6000
    with fsio.open_input("a.bin", subfs) as f:
        f.seek(6)
        assert f.read(5) == b"hello"
    # the bytes really landed under tmp_path via the local tree
    assert (tmp_path / "a.bin").stat().st_size == 6000


def test_dir_ops_and_rename(subfs):
    fsio.makedirs("d/nested", subfs)
    assert fsio.isdir("d/nested", subfs)
    with fsio.open_output("d/nested/x.las", subfs) as f:
        f.write(b"\0")
    assert fsio.listdir("d/nested", subfs) == ["x.las"]
    fsio.rename("d/nested/x.las", "d/nested/y.las", subfs)
    assert fsio.listdir("d/nested", subfs) == ["y.las"]
    fsio.remove("d/nested/y.las", subfs)
    fsio.rmtree("d", subfs)
    assert not fsio.exists("d", subfs)
    # missing paths are not errors for listdir/rmtree
    assert fsio.listdir("nope", subfs) == []
    fsio.rmtree("nope", subfs)


def test_copy_into_matches_sendfile_append(tmp_path, subfs):
    src = tmp_path / "src.bin"
    payload = os.urandom((1 << 20) + 37)  # spans >1 chunk, odd tail
    src.write_bytes(payload)
    via_fs = tmp_path / "via_fs.bin"
    with open(via_fs, "wb") as out:
        out.write(b"HDR")
        append_file(out, "src.bin", subfs)  # fs-routed chunked copy
    via_posix = tmp_path / "via_posix.bin"
    with open(via_posix, "wb") as out:
        out.write(b"HDR")
        append_file(out, str(src))  # default sendfile path
    assert via_fs.read_bytes() == via_posix.read_bytes() == b"HDR" + payload


# -- header parsers through a filesystem -------------------------------------


def test_parse_file_through_fs(tmp_path, subfs):
    from spark_iqmulus_spark.sources.las_format import LasHeader
    from spark_iqmulus_spark.sources.ply_format import PlyHeader

    make_las(str(tmp_path / "t.las"), n=100, fmt=1, seed=7)
    make_ply_xyz(str(tmp_path / "t.ply"), n=100, seed=7)
    h_local = LasHeader.parse_file(str(tmp_path / "t.las"))
    h_fs = LasHeader.parse_file("t.las", subfs)
    assert (h_fs.pdr_nb, h_fs.pdr_format, h_fs.pmin) == (
        h_local.pdr_nb,
        h_local.pdr_format,
        h_local.pmin,
    )
    p_local = PlyHeader.parse_file(str(tmp_path / "t.ply"))
    p_fs = PlyHeader.parse_file("t.ply", subfs)
    assert p_fs.element("vertex").count == p_local.element("vertex").count
    assert p_fs.header_length == p_local.header_length


# -- transcode through a filesystem: byte-identical output -------------------


@pytest.mark.parametrize("tiled", [False, True], ids=["merged", "tiled"])
@pytest.mark.parametrize("fmt", ["las", "ply", "pcd"])
def test_transcode_las_through_fs_byte_identical(spark, tmp_path, subfs, fmt, tiled):
    """Every transcoder routes source reads, worker part writes and the
    commit through ``filesystem=`` and writes the same bytes as the local
    sendfile path."""
    from spark_iqmulus_spark.sources import transcode as tc

    make, where = {
        "las": (make_las, [("intensity", ">", 100)]),
        "ply": (make_ply_xyz, [("x", "<", 60.0)]),
        "pcd": (make_pcd, [("label", "<=", 5)]),
    }[fmt]
    srcs = [f"tile{i}.{fmt}" for i in (0, 1)]
    for i, name in enumerate(srcs):
        make(str(tmp_path / name), n=2000, seed=i + 1)
    run = getattr(tc, f"transcode_{fmt}" + ("_tiled" if tiled else ""))
    out = "out" if tiled else f"out.{fmt}"
    r_local = run(
        spark, [str(tmp_path / n) for n in srcs], str(tmp_path / "local" / out),
        where=where,
    )
    # same sources read THROUGH the filesystem, parts + commit fs-routed
    r_fs = run(spark, srcs, f"fs/{out}", where=where, filesystem=subfs)
    assert r_fs == r_local
    local, remote = tmp_path / "local" / out, tmp_path / "fs" / out
    if tiled:
        names = sorted(f for f in os.listdir(local) if f.endswith(fmt))
        assert names == srcs
        assert sorted(f for f in os.listdir(remote) if f.endswith(fmt)) == names
        pairs = [(local / n, remote / n) for n in names]
    else:
        pairs = [(local, remote)]
    for a, b in pairs:
        assert a.read_bytes() == b.read_bytes()
    # part dirs cleaned up in both regimes
    assert not [d for d, _, _ in os.walk(tmp_path) if ".parts-" in d]


def test_transcode_dir_listing_through_fs(spark, tmp_path, subfs):
    from spark_iqmulus_spark.sources.transcode import transcode_las

    d = tmp_path / "tiles"
    d.mkdir()
    for i in (0, 1, 2):
        make_las(str(d / f"t{i}.las"), n=500, fmt=1, seed=i + 1)
    r = transcode_las(spark, "tiles", "merged.las", filesystem=subfs)
    assert r["files"] == 3 and r["points"] == 1500


# -- manifest swap through a filesystem ---------------------------------------


def test_update_manifest_through_fs(spark, tmp_path, subfs):
    from spark_iqmulus_spark.plans.manifest import (
        update_manifest,
        write_manifest,
    )

    tiles = tmp_path / "tiles"
    tiles.mkdir()
    for i in (0, 1):
        make_las(str(tiles / f"t{i}.las"), n=300, fmt=1, seed=i + 1)
    # initial manifest written by the (local) spark path — absolute paths
    mpath = str(tmp_path / "manifest")
    write_manifest(
        spark, [str(tiles / "t0.las"), str(tiles / "t1.las")], mpath
    )
    # no new tiles: fs-routed update is a no-op
    assert (
        update_manifest(
            spark,
            mpath,
            [str(tiles / "t0.las"), str(tiles / "t1.las")],
        )
        == 0
    )
    # new tile arrives; the fs-routed update folds exactly it in.
    # NOTE paths stay absolute (the manifest stores them); the filesystem
    # still routes the stat/rename sites — LocalFileSystem accepts both.
    make_las(str(tiles / "t2.las"), n=300, fmt=1, seed=9)
    added = update_manifest(
        spark,
        mpath,
        [str(tiles / f"t{i}.las") for i in (0, 1, 2)],
        filesystem=pafs.LocalFileSystem(),
    )
    assert added == 1
    assert spark.read.parquet(mpath).count() == 3
    # swap hygiene: no .tmp/.old residue
    assert not os.path.exists(mpath + ".tmp")
    assert not os.path.exists(mpath + ".old")
