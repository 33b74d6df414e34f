"""LAS Spark DataSource: ``spark.read.format("las")`` / ``df.write.format("las")``.

Read path (A2, A4-A12): 375/235/227-byte header parse per file (driver),
point formats 0-10, VLR walk with ExtraBytes custom fields (scale / offset /
nodata / min / max recorded in ``StructField.metadata``), cross-file schema
merge, record-aligned partitions, vectorized Arrow decode with ``fid``/``pid``.
``x/y/z`` stay raw int32 with scale/offset metadata — the reference's shipped
behavior (ScaledInteger UDTs are dormant, LasHeader.scala:351-353); use
``functions.scaled.with_world_coords`` for world coordinates.

Header-range file skipping (strict improvement over the reference): range
predicates on x/y/z are observed via ``pushFilters`` and used to skip whole
files whose header bounds cannot match; all filters are still returned to
Spark for re-evaluation, so this is purely an I/O optimization, never a
correctness dependency (SURVEY.md §4.1).

Write path (A18/A19/A22): tasks stream Arrow batches, zero-fill absent
format fields (package.scala:195-196 semantics), accumulate running
pmin/pmax (world coords, LasOutputWriter.scala:73-75) and per-return counts;
driver ``commit`` merges stats into one header and concatenates a single
valid ``.las``.  Options: ``lasformat`` (force point format — else inferred,
A19), ``minor`` (version, default 2), ``scale``/``offset`` (comma triples),
``partition_bytes``.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

import numpy as np

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from .binary_section import BinarySection, SectionField, plan_record_ranges
from .las_format import (
    NP_TO_SQL,
    POINT_FORMATS,
    LasHeader,
    format_from_schema,
)
from .pointcloud_common import (
    append_file,
    DEFAULT_PARTITION_BYTES,
    SectionPartition,
    adapt_batch,
    apply_columns_option,
    base_schema_fields,
    clear_existing_outputs,
    expand_paths,
    ignore_corrupt_option,
    pmap_merges,
    parse_sections,
    restore_names,
)
from ..functions.schema_merge import merge_all

_SQL_BY_NAME = {
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
}


def _las_sections(
    paths: list[str], ignore_corrupt: bool = False
) -> list[tuple[int, BinarySection, LasHeader]]:
    """Header-parse each file; fid = position in the kept list (so the
    schema's fid→path metadata and partition fids agree even when
    ``ignoreCorruptFiles`` drops entries — LasRelation.scala:41-55 parity)."""
    out = []
    for fid, path, hdr in parse_sections(
        paths, LasHeader.parse_file, ignore_corrupt, "LAS"
    ):
        fields = [SectionField(n, c) for n, c in POINT_FORMATS[hdr.pdr_format]]
        for ef in hdr.extra_fields:
            fields.append(SectionField(ef.name, ef.np_char, nodata=ef.nodata))
        section = BinarySection(
            path=path,
            offset=hdr.offset_to_points,
            count=hdr.pdr_nb,
            stride=hdr.stride,
            little_endian=True,  # LAS is little-endian by spec
            fields=fields,
        )
        out.append((fid, section, hdr))
    return out


def _las_schema(section: BinarySection, hdr: LasHeader) -> T.StructType:
    extra_meta = {ef.name: ef for ef in hdr.extra_fields}
    fields = []
    for f in section.fields:
        meta = {}
        if f.name in ("x", "y", "z"):
            axis = "xyz".index(f.name)
            meta = {"scale": hdr.scale[axis], "offset": hdr.offset[axis]}
        ef = extra_meta.get(f.name)
        nullable = False
        if ef is not None:
            for k in ("nodata", "scale", "offset", "vmin", "vmax"):
                v = getattr(ef, k)
                if v is not None:
                    meta["min" if k == "vmin" else "max" if k == "vmax" else k] = v
            nullable = ef.nodata is not None
        fields.append(
            T.StructField(f.name, _SQL_BY_NAME[NP_TO_SQL[f.np_char]], nullable, metadata=meta)
        )
    return T.StructType(fields)


class LasDataSource(DataSource):
    """``format("las")`` — ASPRS LAS 1.0-1.4, point formats 0-10."""

    @classmethod
    def name(cls) -> str:
        return "las"

    def _paths(self) -> list[str]:
        opts = dict(self.options)
        opts["ext"] = ".las"
        return expand_paths(opts)

    def schema(self):
        secs = _las_sections(self._paths(), ignore_corrupt_option(self.options))
        if not secs:
            raise ValueError("no readable LAS files found")
        merged = apply_columns_option(
            self.options, merge_all([_las_schema(s, h) for _, s, h in secs])
        )
        fid_meta = {"paths": [s.path for _, s, _ in secs]}
        fields = base_schema_fields()
        fields[0] = T.StructField("fid", T.IntegerType(), False, metadata=fid_meta)
        return T.StructType(fields + list(merged.fields))

    def reader(self, schema: T.StructType) -> "LasReader":
        # Implementing pushFilters() is rejected by Spark unless
        # spark.sql.python.filterPushdown.enabled is true, so header-bounds
        # file skipping is opt-in: .option("pushdown", "true") (our
        # get_spark() enables the session flag; see session.py).
        if self.options.get("pushdown", "false").lower() == "true":
            return LasReaderWithPushdown(self._paths(), self.options, schema)
        return LasReader(self._paths(), self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool) -> "LasWriter":
        return LasWriter(self.options, schema, overwrite)

    def streamReader(self, schema: T.StructType):
        """``spark.readStream.format("las")`` — continuous tile ingestion
        (see sources/las_stream.py for offset and schema semantics)."""
        from .las_stream import LasStreamReader

        return LasStreamReader(self.options, schema)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        """``df.writeStream.format("las")`` — one merged .las per
        micro-batch (see las_stream.make_las_stream_writer)."""
        from .las_stream import make_las_stream_writer

        return make_las_stream_writer(self.options, schema)


class LasReader(DataSourceReader):
    def __init__(self, paths: list[str], options, schema: T.StructType):
        self.paths = paths
        self.out_schema = schema
        self.partition_bytes = int(
            options.get("partition_bytes", DEFAULT_PARTITION_BYTES)
        )
        self.ignore_corrupt = ignore_corrupt_option(options)
        self.range_filters: list = []  # (axis_name, lo, hi) raw-coord bounds
    def _file_can_match(self, hdr: LasHeader) -> bool:
        for col, lo, hi in self.range_filters:
            if col in ("x", "y", "z"):
                axis = "xyz".index(col)
                scale, offset = hdr.scale[axis], hdr.offset[axis]
                # unscale world bounds into raw int space (ExtraStrategies.scala:53)
                raw_min = (hdr.pmin[axis] - offset) / scale if scale else hdr.pmin[axis]
                raw_max = (hdr.pmax[axis] - offset) / scale if scale else hdr.pmax[axis]
            else:
                # ExtraBytes-described fields may carry min/max in their
                # descriptor (las_format._parse_extra_bytes); either bound
                # may be absent → unbounded on that side.  Columns with no
                # header bounds can never skip.
                ef = next(
                    (e for e in hdr.extra_fields if e.name == col), None
                )
                if ef is None:
                    continue
                raw_min = ef.vmin if ef.vmin is not None else float("-inf")
                raw_max = ef.vmax if ef.vmax is not None else float("inf")
            if lo is not None and raw_max < lo:
                return False
            if hi is not None and raw_min > hi:
                return False
        return True

    def partitions(self):
        from .pointcloud_common import effective_partition_bytes

        kept = [
            (fid, section, hdr)
            for fid, section, hdr in _las_sections(self.paths, self.ignore_corrupt)
            if not (self.range_filters and not self._file_can_match(hdr))
        ]  # header says no point can match → whole file skipped
        total = sum(s.count * s.stride for _, s, _ in kept)
        target = effective_partition_bytes(total, self.partition_bytes)
        parts = []
        for fid, section, hdr in kept:
            for start, n in plan_record_ranges(section.count, section.stride, target):
                parts.append(SectionPartition(section, start, n, fid))
        return parts

    def read(self, partition: SectionPartition):
        if partition is None:
            # partitions() legitimately returned [] (every file pruned by
            # header bounds); Spark then probes read(None) — empty scan.
            return
        present = {sf.name for sf in partition.section.fields}
        want = [
            f.name
            for f in self.out_schema.fields
            if f.name not in ("fid", "pid") and f.name in present
        ]
        raw = partition.section.read_batch(
            partition.rec_start, partition.n_records, partition.fid,
            columns=want, allow_short=self.ignore_corrupt,
        )
        yield adapt_batch(raw, self.out_schema)


class LasReaderWithPushdown(LasReader):
    """LasReader + header-bounds file skipping (§4.1; replaces the
    reference A14 planner hook with an I/O-level optimization).  Separate
    class because merely *defining* pushFilters errors out when the session
    flag is off."""

    def pushFilters(self, filters):
        # any column is recorded: x/y/z skip via header pmin/pmax; other
        # columns skip when an ExtraBytes descriptor carries min/max bounds
        # (columns without header bounds are simply never skipped)
        for f in filters:
            try:
                col = f.attribute[-1] if hasattr(f, "attribute") else None
                if not col or col in ("fid", "pid"):
                    continue
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self.range_filters.append((col, float(f.value), None))
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self.range_filters.append((col, None, float(f.value)))
                elif isinstance(f, EqualTo):
                    self.range_filters.append((col, float(f.value), float(f.value)))
            except Exception:
                pass
        # every filter is re-evaluated by Spark: skipping is I/O-only
        return filters


@dataclass
class LasCommit(WriterCommitMessage):
    #: per-task part sidecars: (fid, part_path, count, pmin, pmax,
    #: return_counts, extra_min, extra_max, bounds).  fid is -1 for
    #: single-output mode (no provenance); bounds is the auto-manifest
    #: per-field stats dict (None when manifest=false).
    parts: list


class LasWriter(DataSourceArrowWriter):
    """Streaming stats writer (A18) + driver-side header-merge commit.

    Unlike the reference's ``saveAsLas`` (which materializes whole partitions
    to compute stats — las/package.scala:67-68, flagged in SURVEY §4.2), stats
    are running numpy min/max per batch: O(batch) memory.

    Like the PLY writer, the commit restores original source file names
    when the written DataFrame carries ``fid`` provenance — one valid
    ``.las`` per source tile (with per-tile header stats) from one
    distributed job; fid-less input merges into a single ``data.las``.
    """

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("write path required")
        # namecol: string column holding each row's destination basename —
        # fully distributed grouped output (no driver-side name enumeration;
        # the tile path save_tiled_las rides this).  Takes precedence over
        # fid-provenance naming.
        self.namecol = options.get("namecol")
        if self.namecol is not None and self.namecol not in schema.names:
            raise ValueError(f"namecol {self.namecol!r} not in schema")
        data_fields = [
            f for f in schema.fields if f.name not in ("fid", "pid", self.namecol)
        ]
        # columns named by NO point format become ExtraBytes-described extra
        # dimensions (A2 read parity in reverse: the reader already decodes
        # them; here they round-trip).  Core fields choose the point format.
        known = {n for flds in POINT_FORMATS.values() for n, _ in flds}
        data_names = {f.name for f in data_fields if f.name in known}
        _SPARK_TO_NP = {
            "tinyint": "i1",
            "smallint": "i2",
            "int": "i4",
            "bigint": "i8",
            "float": "f4",
            "double": "f8",
        }
        from .las_format import ExtraField

        self.extra_fields = [
            ExtraField(f.name, _SPARK_TO_NP[f.dataType.simpleString()])
            for f in data_fields
            if f.name not in known
        ]
        forced = options.get("lasformat")
        self.fmt = int(forced) if forced is not None else format_from_schema(data_names)
        self.minor = int(options.get("minor", options.get("version", "2")))
        self.scale = tuple(
            float(v) for v in options.get("scale", "0.01,0.01,0.01").split(",")
        )
        self.offset = tuple(
            float(v) for v in options.get("offset", "0,0,0").split(",")
        )
        self.schema = schema
        self.overwrite = overwrite
        self.fields = list(POINT_FORMATS[self.fmt]) + [
            (e.name, e.np_char) for e in self.extra_fields
        ]
        # auto-manifest sidecar (round 13): per-file bounds for EVERY
        # field, so later stock min/max answers zero-job; manifest=false
        # opts out of both the stat collection and the sidecar
        from .automanifest import manifest_disabled

        self.emit_manifest = not manifest_disabled(options)
        self.fid_paths = None
        restore = options.get("restorenames", "true").lower() != "false"
        if restore and any(f.name == "fid" for f in schema.fields):
            meta = schema["fid"].metadata or {}
            if meta.get("paths"):
                self.fid_paths = list(meta["paths"])

    def _dtype(self) -> np.dtype:
        return np.dtype([(n, "<" + c) for n, c in self.fields])

    def write(self, iterator) -> LasCommit:
        from .automanifest import StatsAcc

        os.makedirs(self.path, exist_ok=True)
        dtype = self._dtype()
        in_names = set(self.schema.names)
        # fid → [path, file, count, pmin, pmax, ret, emin, emax, stats]
        sinks: dict[int, list] = {}

        def _sink(fid) -> list:
            s = sinks.get(fid)
            if s is None:
                # key is an int fid or a namecol string; uuid alone keeps the
                # part name safe either way
                p = os.path.join(self.path, f".part-{uuid.uuid4().hex}.lasbin")
                s = [p, open(p, "wb"), 0, [np.inf] * 3, [-np.inf] * 3,
                     np.zeros(15, dtype=np.int64),
                     [np.inf] * len(self.extra_fields),
                     [-np.inf] * len(self.extra_fields),
                     StatsAcc(self.fields) if self.emit_manifest else None]
                sinks[fid] = s
            return s

        try:
            for batch in iterator:
                n = batch.num_rows
                rec = np.zeros(n, dtype=dtype)  # absent fields stay zero-filled
                for name, _np_char in self.fields:
                    if name in in_names:
                        col = batch.column(batch.schema.get_field_index(name))
                        rec[name] = col.to_numpy(zero_copy_only=False)
                if self.namecol is not None:
                    ncol = batch.column(
                        batch.schema.get_field_index(self.namecol)
                    )
                    if ncol.null_count:
                        raise ValueError(
                            f"null destination name in {self.namecol!r} —"
                            " null/NaN coordinates in the tiling keys?"
                        )
                    names_arr = np.asarray(ncol.to_pylist(), dtype=object)
                    groups = [
                        (str(nm), rec[names_arr == nm])
                        for nm in sorted(set(names_arr.tolist()))
                    ]
                elif self.fid_paths is None:
                    groups = [(-1, rec)]
                else:
                    fids = batch.column(
                        batch.schema.get_field_index("fid")
                    ).to_numpy(zero_copy_only=False)
                    groups = [
                        (int(fid), rec[fids == fid]) for fid in np.unique(fids)
                    ]
                for fid, sub in groups:
                    s = _sink(fid)
                    m = len(sub)
                    for axis, name in enumerate("xyz"):
                        world = (
                            self.offset[axis]
                            + self.scale[axis] * sub[name].astype(np.float64)
                        )
                        if m:
                            s[3][axis] = min(s[3][axis], float(world.min()))
                            s[4][axis] = max(s[4][axis], float(world.max()))
                    if self.fmt < 6:
                        r = sub["flags"] & 0x7
                    else:
                        r = sub["return"] & 0xF
                    s[5] += np.bincount(
                        np.minimum(r, 14), minlength=15
                    ).astype(np.int64)
                    if m:
                        for i, e in enumerate(self.extra_fields):
                            col = sub[e.name]
                            # .item() keeps ints exact (no float64 rounding)
                            s[6][i] = min(s[6][i], col.min().item())
                            s[7][i] = max(s[7][i], col.max().item())
                        if s[8] is not None:
                            s[8].update(sub)
                    s[1].write(sub.tobytes())
                    s[2] += m
        finally:
            for s in sinks.values():
                s[1].close()
        return LasCommit(
            parts=[
                (
                    fid,
                    s[0],
                    s[2],
                    tuple(s[3]),
                    tuple(s[4]),
                    tuple(int(v) for v in s[5]),
                    tuple(s[6]),
                    tuple(s[7]),
                    s[8].finalize() if s[8] is not None else None,
                )
                for fid, s in sinks.items()
            ]
        )

    def _merge_one(self, dest: str, parts: list) -> None:
        """parts: list of (part_path, count, pmin, pmax, ret, emin, emax)
        for one fid."""
        import dataclasses

        total = sum(p[1] for p in parts)
        pmin = [
            min((p[2][i] for p in parts if p[1]), default=0.0) for i in range(3)
        ]
        pmax = [
            max((p[3][i] for p in parts if p[1]), default=0.0) for i in range(3)
        ]
        ret = [sum(p[4][i] for p in parts) for i in range(15)]
        # ExtraBytes descriptors carry merged min/max (the bounds source for
        # extra-field file skipping — read side: _file_can_match)
        extras = []
        for i, e in enumerate(self.extra_fields):
            lo = min((p[5][i] for p in parts if p[1]), default=None)
            hi = max((p[6][i] for p in parts if p[1]), default=None)
            if lo is not None and e.np_char[0] != "f":
                lo, hi = int(lo), int(hi)  # <q descriptor slots need ints
            extras.append(dataclasses.replace(e, vmin=lo, vmax=hi))
        # formats 6-10 and >2^32 points require LAS 1.4 — auto-upgrade
        minor = 4 if (self.fmt >= 6 or total >= 2**32) else self.minor
        header = LasHeader(
            location=dest,
            version_minor=minor,
            pdr_format=self.fmt,
            pdr_nb=total,
            scale=self.scale,
            offset=self.offset,
            pmin=tuple(pmin),
            pmax=tuple(pmax),
            pdr_return_nb=tuple(ret),
            extra_fields=extras,
        )
        with open(dest, "wb") as out:
            out.write(header.to_bytes())
            for p in sorted(parts):
                append_file(out, p[0])
                os.remove(p[0])

    def commit(self, messages) -> None:
        clear_existing_outputs(self.path, ".las", self.overwrite)
        by_fid: dict[int, list] = {}
        bounds_by_fid: dict[int, list] = {}
        for m in messages:
            for (
                fid, part_path, count, pmin, pmax, ret, emin, emax, bounds
            ) in m.parts:
                by_fid.setdefault(fid, []).append(
                    (part_path, count, pmin, pmax, ret, emin, emax)
                )
                bounds_by_fid.setdefault(fid, []).append(bounds)
        if self.namecol is not None:
            jobs = []
            job_fids = []
            for name, parts in sorted(by_fid.items()):
                if (
                    not name
                    or "/" in name
                    or "\\" in name
                    or "\0" in name
                    or name in (".", "..")
                ):
                    raise ValueError(
                        f"invalid destination basename {name!r} in namecol"
                    )
                key = name
                if not name.endswith(".las"):
                    name += ".las"
                jobs.append((os.path.join(self.path, name), parts))
                job_fids.append(key)
        else:
            names: dict[int, str] = {}
            if self.fid_paths is not None:
                names = restore_names(self.fid_paths, ".las")
            jobs = []
            job_fids = []
            for fid, parts in sorted(by_fid.items()):
                if self.fid_paths is not None and fid not in names:
                    # silently funneling unknown fids into one shared dest
                    # would overwrite earlier merges ('wb' per fid) and
                    # lose points
                    raise ValueError(
                        f"fid {fid} has no entry in the fid column's 'paths'"
                        f" metadata ({len(self.fid_paths)} paths) — refusing"
                        " to write; fix the fid values or set"
                        " .option('restoreNames','false')"
                    )
                jobs.append(
                    (os.path.join(self.path, names.get(fid, "data.las")), parts)
                )
                job_fids.append(fid)
        pmap_merges(self._merge_one, jobs)
        if self.emit_manifest:
            from .automanifest import emit_from_commit

            emit_from_commit(
                self.path,
                self.fields,
                [(dest, sum(p[1] for p in parts)) for dest, parts in jobs],
                [bounds_by_fid[key] for key in job_fids],
            )

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for part in m.parts:
                if os.path.exists(part[1]):
                    os.remove(part[1])
