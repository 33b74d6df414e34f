"""Header-catalog metadata (A13/A14/A23 equivalents).

The reference answers ``COUNT(*)`` and ``MIN/MAX(x|y|z)`` from header
metadata via two custom Catalyst physical plans injected through
``extraStrategies`` (``/root/reference/src/main/scala/fr/ign/spark/iqmulus/ExtraStrategies.scala:35-76``)
— O(files) work, zero bytes of point data read.  Stock ``df.count()``,
``df.agg(min, max).collect()`` and SQL ``count(*)`` over a las/ply/pcd read
are answered that way transparently by ``plans/fused_read.py``.  This
module holds the explicit, driver-only side of the same header facts: a
small DataFrame of per-file header facts (the catalog, also the bounds
source for file skipping), count and bounds helpers that trust the headers
without any Spark session, and the read-completeness audit.  All of them
parse through the transcoder's per-format layouts
(``sources/transcode.py``), the one home of each format's header facts.

To audit header bounds against the data, run the same aggregate with the
fast path off: ``spark.read.format("las").option("fusedRead", "false")
.load(paths).agg(F.min("x"), F.max("x")).collect()``.

The reference's ``CountPlan`` returns ``n × Σcount`` for ``COUNT(n)`` — a
wrong-SQL quirk we deliberately do not replicate (SURVEY §2A A13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession

from ..sources.pointcloud_common import pmap_headers
from ..sources.transcode import read_layout


def _catalog(spark: SparkSession, fmt: str, paths: list[str], facts) -> DataFrame:
    """One row per file, sorted by path: ``location`` then ``facts(h)``."""
    paths = sorted(paths)
    headers = pmap_headers(read_layout(fmt).parse, paths)
    return spark.createDataFrame(
        [Row(location=p, **facts(h)) for p, h in zip(paths, headers)]
    )


def las_headers(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One row per LAS file: the FIXTURES.md F8 catalog schema."""
    return _catalog(spark, "las", paths, lambda h: dict(
        version_major=h.version_major,
        version_minor=h.version_minor,
        pdr_format=h.pdr_format,
        pdr_nb=h.pdr_nb,
        x_min=h.pmin[0], y_min=h.pmin[1], z_min=h.pmin[2],
        x_max=h.pmax[0], y_max=h.pmax[1], z_max=h.pmax[2],
        scale_x=h.scale[0], scale_y=h.scale[1], scale_z=h.scale[2],
        offset_x=h.offset[0], offset_y=h.offset[1], offset_z=h.offset[2],
        return_counts=list(h.pdr_return_nb),
    ))


def ply_headers(spark: SparkSession, paths: list[str], element: str = "vertex") -> DataFrame:
    """One row per PLY file: element count/stride and layout facts."""

    def facts(h):
        el = h.element(element)
        return dict(
            little_endian=h.little_endian,
            element=element,
            count=el.count if el else 0,
            stride=el.stride if el else 0,
            n_properties=len(el.properties) if el else 0,
            header_length=h.header_length,
        )

    return _catalog(spark, "ply", paths, facts)


def pcd_headers(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One row per PCD file: points/stride/layout facts (pcdinfo catalog)."""
    return _catalog(spark, "pcd", paths, lambda h: dict(
        version=h.version,
        data_kind=h.data_kind,
        points=h.points,
        width=h.width,
        height=h.height,
        stride=h.stride,
        n_fields=len(h.fields),
    ))


def count_from_headers(
    spark: SparkSession | None, paths: list[str], fmt: str = "las", element: str = "vertex"
) -> int:
    """Metadata-only COUNT(*): Σ per-file header counts — no data scan, no
    Spark job.  Like the reference's CountPlan (``executeCollect`` computes
    on the driver with zero executor work, ExtraStrategies.scala:37,41), this
    is O(files) of driver-side header reads that trust the headers (no
    whole-file guard, so ascii PLY and non-binary PCD count too); ``spark``
    is accepted for API symmetry but unused."""
    layout = read_layout(fmt, element)
    return sum(layout.section(h)[1] for h in pmap_headers(layout.parse, paths))


def world_bounds(headers) -> dict:
    """World MIN/MAX of x/y/z over LAS headers, taken over non-empty files
    only (an empty file's header bounds are not points); every value is
    None when all files are empty, as MIN/MAX over no rows is NULL."""
    live = [h for h in headers if h.pdr_nb > 0]
    out: dict = {}
    for i, c in enumerate("xyz"):
        out[f"{c}_min"] = min((h.pmin[i] for h in live), default=None)
        out[f"{c}_max"] = max((h.pmax[i] for h in live), default=None)
    return out


def minmax_from_headers(
    spark: SparkSession | None, paths: list[str]
) -> dict[str, float | None]:
    """Metadata-only MIN/MAX(x,y,z) in world coordinates from LAS headers
    (AggregatePlan semantics, ExtraStrategies.scala:49-76) — driver-side
    only, no Spark job; see ``world_bounds`` for empty files."""
    return world_bounds(pmap_headers(read_layout("las").parse, paths))


def las_info(path: str) -> str:
    """lasinfo-style header report (A23 — LasHeader.scala:246-284)."""
    return read_layout("las").parse(path).info()


def scan_report(paths: list[str], fmt: str = "las") -> dict:
    """Driver-side read-completeness audit for the skip-with-warning default.

    The point-cloud sources default to ``ignoreCorruptFiles=true`` (reference
    parity, PlyRelation.scala:101-115), so an unreadable tile degrades to a
    logged warning rather than a failed job.  This helper is the queryable
    counterpart: parse every header on the driver and report exactly which
    files a read of ``paths`` would include vs. skip, so pipelines can gate
    on ``report["skipped_count"] == 0`` before trusting a result.

    Returns ``{"readable": [...], "skipped": [(path, error_str), ...],
    "readable_count": int, "skipped_count": int}``.
    """
    parse_one = read_layout(fmt).parse

    def attempt(p):
        try:
            parse_one(p)
            return (p, None)
        except Exception as exc:
            return (p, str(exc))

    results = pmap_headers(attempt, sorted(paths))
    readable = [p for p, err in results if err is None]
    skipped = [(p, err) for p, err in results if err is not None]
    return {
        "readable": readable,
        "skipped": skipped,
        "readable_count": len(readable),
        "skipped_count": len(skipped),
    }
