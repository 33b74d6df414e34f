"""Direct save helpers (A20) + provenance-partitioned write-back (A17).

The reference exposes ``df.saveAsPly/saveAsLas/saveAsXyz`` direct actions
(``ply/package.scala:40-69``, ``las/package.scala:45-98``,
``xyz/package.scala:40-61``) that write one file per partition — and its
LAS variant materializes whole partitions in memory to compute stats
(``las/package.scala:67-68``), a scalability hazard.  Here the same user
intent routes through the DataSource writers (streaming stats, commit-phase
header merge), so ``save_las(df, path)`` is just ergonomic sugar.

``save_partitioned_by_fid`` restores the reference's commit-rename behavior
(``PlyRelation.scala:65-72``: ``fid=N`` partition dirs renamed back to the
original source file names recorded in the ``fid`` column metadata): one
output file per source file, named after the source — a single distributed
job riding the writers' fid-grouped commit.  ``save_tiled_las`` re-tiles to
a regular grid through the writer's ``namecol`` grouped commit, with no
driver-side tile enumeration.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .pointcloud_common import restore_names


def save_ply(df: DataFrame, path: str, little_endian: bool = True, mode: str = "overwrite") -> None:
    (
        df.write.format("ply")
        .mode(mode)
        .option("littleendian", "true" if little_endian else "false")
        .save(path)
    )


def save_las(
    df: DataFrame,
    path: str,
    lasformat: int | None = None,
    minor: int = 2,
    scale: tuple[float, float, float] = (0.01, 0.01, 0.01),
    offset: tuple[float, float, float] = (0.0, 0.0, 0.0),
    mode: str = "overwrite",
) -> None:
    w = (
        df.write.format("las")
        .mode(mode)
        .option("minor", str(minor))
        .option("scale", ",".join(str(v) for v in scale))
        .option("offset", ",".join(str(v) for v in offset))
    )
    if lasformat is not None:
        w = w.option("lasformat", str(lasformat))
    w.save(path)


def save_xyz(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    from .xyz import write_xyz

    write_xyz(df, path, mode=mode)


def save_pcd(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.format("pcd").mode(mode).save(path)


def save_tiled_las(
    df: DataFrame,
    out_dir: str,
    cell: tuple[float, float],
    x: str = "x",
    y: str = "y",
    on_invalid: str = "error",
    **opts,
) -> list[str]:
    """Re-tile a point cloud into a regular (x, y) grid of LAS files —
    the canonical LiDAR "retile" operation.

    Each point maps to tile ``(floor(x/cx), floor(y/cy))``; the output is
    one valid ``.las`` per occupied tile, named ``tile_{gx}_{gy}.las``,
    each with correct per-tile header stats.  Fully distributed: the tile
    name is computed as a *column expression* and the writer's ``namecol``
    grouped commit emits every tile from ONE job — no driver-side tile
    enumeration (at 100 TB a fine grid is 10⁶-10⁷ occupied cells; nothing
    here collects them).  Shuffle cost: one hash repartition on the tile
    name (co-locating each tile's points so each output merges from ~1
    part) + the write itself.

    Null/NaN ``x``/``y`` cannot be tiled: ``on_invalid="error"`` (default)
    fails the job with a clear message; ``"drop"`` filters such points out.

    Returns the written tile paths (sorted; listed from the output dir —
    O(tiles) driver memory for the *return value only*, not the write).
    """
    from pyspark.sql import functions as F

    cx, cy = cell
    xc, yc = F.col(x), F.col(y)
    valid = xc.isNotNull() & yc.isNotNull()
    dtypes = dict(df.dtypes)
    for cname in (x, y):
        if dtypes.get(cname) in ("float", "double"):
            valid = valid & ~F.isnan(F.col(cname))
    gx = F.floor(xc / cx).cast("long")
    gy = F.floor(yc / cy).cast("long")
    name = F.concat_ws(
        "", F.lit("tile_"), gx, F.lit("_"), gy, F.lit(".las")
    )
    if on_invalid == "drop":
        df = df.where(valid)
    elif on_invalid != "error":
        raise ValueError(f"on_invalid must be 'error' or 'drop', got {on_invalid!r}")
    # under "error", an invalid point yields a null name and the writer
    # task raises with a clear message (nulls never silently drop)
    tiled = (
        df.drop("fid", "pid")
        .withColumn("__file__", F.when(valid, name))
        .repartition("__file__")
    )
    w = (
        tiled.write.format("las")
        .mode("overwrite")
        .option("namecol", "__file__")
    )
    for k, v in opts.items():
        w = w.option(k, str(v))
    w.save(out_dir)
    return sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".las")
    )


def save_partitioned_by_fid(df: DataFrame, out_dir: str, fmt: str = "las", **opts) -> list[str]:
    """Write one output file per source file, restoring original base names.

    Source paths come from the ``fid`` column metadata (populated by the
    readers — the reference keeps them the same way,
    BinarySectionRelation.scala:138-142).  One SINGLE distributed job: the
    LAS/PLY writers' commit already groups parts by ``fid`` and restores
    per-source names, so this is sugar over ``df.write`` plus a
    co-locating repartition — no per-file rescan of the input (the r3
    helper ran one filtered job per fid: F passes over the data; gone).
    XYZ (no grouped-commit writer) routes through the CSV writer's
    ``partitionBy("fid")`` + a driver-side directory rename, still one job.
    """
    fid_field = next(f for f in df.schema.fields if f.name == "fid")
    paths = (fid_field.metadata or {}).get("paths")
    if not paths:
        raise ValueError("fid column has no 'paths' metadata — not a point-cloud read?")
    if fmt in ("las", "ply"):
        w = df.repartition("fid").write.format(fmt).mode("overwrite")
        for k, v in opts.items():
            w = w.option(k, str(v))
        w.save(out_dir)
        return [
            os.path.join(out_dir, name)
            for name in restore_names(paths, f".{fmt}").values()
        ]
    if fmt == "xyz":
        cols = [c for c in df.columns if c != "pid"]
        (
            df.select(*cols)
            .repartition("fid")
            .write.mode("overwrite")
            .partitionBy("fid")
            .options(sep="\t")
            .csv(out_dir)
        )
        written = []
        for fid, name in restore_names(paths, "").items():
            src = os.path.join(out_dir, f"fid={fid}")
            dest = os.path.join(out_dir, name)
            if os.path.isdir(src):
                os.rename(src, dest)
                written.append(dest)
        return written
    raise ValueError(f"unsupported format {fmt!r}")


def compact_tiles(
    spark,
    in_dir: str,
    out_dir: str,
    target_points: int = 2_000_000,
    fmt: str = "las",
    **opts,
) -> list[str]:
    """OPTIMIZE-style small-file compaction for tile directories.

    Streaming sinks and fine retiles produce many small files; small files
    tax every later scan (per-file header parse + per-file task floor).
    This packs whole input tiles into ~``target_points`` output files:

    1. per-file counts come from the header catalog — O(files) driver
       work, zero point data read;
    2. files are bin-packed greedily IN SORTED PATH ORDER (neighboring
       tiles usually sort adjacently, so spatial locality survives);
    3. the fid→output-name assignment joins onto the cloud as a broadcast
       map and the writer's ``namecol`` grouped commit emits every output
       in ONE distributed job — same shape as ``save_tiled_las``, no
       driver-side point handling.

    Returns the written paths.  Compaction never splits an input file, so
    an output can exceed ``target_points`` by at most one input file.
    """
    from pyspark.sql import functions as F

    if fmt != "las":
        raise ValueError(
            "compact_tiles supports fmt='las' (the writer's namecol grouped"
            " commit backs the single-job output assignment)"
        )
    df = spark.read.format(fmt).load(in_dir)
    meta = df.schema["fid"].metadata or {}
    src_paths = list(meta.get("paths", []))
    if not src_paths:
        raise ValueError(f"no readable {fmt} files in {in_dir}")
    from .las_format import LasHeader
    from .pointcloud_common import pmap_headers

    counts = [h.pdr_nb for h in pmap_headers(LasHeader.parse_file, src_paths)]

    assign: list[tuple[int, str]] = []  # (fid, out_name)
    bin_id, bin_points = 0, 0
    for fid, n in enumerate(counts):
        if bin_points and bin_points + n > target_points:
            bin_id, bin_points = bin_id + 1, 0
        assign.append((fid, f"compact-{bin_id:05d}.{fmt}"))
        bin_points += n
    mapping = spark.createDataFrame(assign, "fid int, __file__ string")

    w = (
        df.drop("pid")
        .join(F.broadcast(mapping), "fid")
        .drop("fid")
        .repartition("__file__")
        .write.format(fmt)
        .mode("overwrite")
        .option("namecol", "__file__")
    )
    for k, v in opts.items():
        w = w.option(k, str(v))
    w.save(out_dir)
    return sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith("." + fmt)
    )
