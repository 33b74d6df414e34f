"""PLY Spark DataSource: ``spark.read.format("ply")`` / ``df.write.format("ply")``.

Read path (A1/A4-A11 of SURVEY.md §2A): per-file header parse on the driver,
cross-file schema merge with numeric widening, record-aligned partitions,
vectorized numpy→Arrow decode on executors with ``fid``/``pid`` provenance
columns.  Unreadable files are skipped with a warning by default, as the
reference does unconditionally (PlyRelation.scala:101-115);
``.option("ignoreCorruptFiles", "false")`` opts into fail-fast.

Write path (A16/A17): each task streams Arrow batches into a binary sidecar
part-file and reports ``(part_path, count)``; the driver-side ``commit``
merges the counts into one header and concatenates header + parts into a
single valid ``.ply`` — the same commit-merge algorithm as the reference's
``PlyOutputCommitter.commitJob`` (PlyRelation.scala:31-82) on plain Python
file APIs.  Options: ``element`` (default ``vertex``), ``littleEndian``
(default true), ``partition_bytes``.
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
    InputPartition,
    WriterCommitMessage,
)

from .binary_section import BinarySection, SectionField, plan_record_ranges
from .ply_format import SPARK_TO_NP, PlyElement, PlyHeader, PlyProperty
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


def _sections(
    paths: list[str], element: str, ignore_corrupt: bool = False
) -> list[tuple[int, BinarySection, PlyHeader]]:
    """Header-parse each file; fid = position in the kept list (so the
    schema's fid→path metadata and partition fids agree even when
    ``ignoreCorruptFiles`` drops entries — PlyRelation.scala:101-115 parity)."""

    def parse_one(path: str) -> PlyHeader:
        hdr = PlyHeader.parse_file(path)
        if hdr.element(element) is None:
            raise ValueError(f"no element {element!r}")
        return hdr

    out = []
    for fid, path, hdr in parse_sections(paths, parse_one, ignore_corrupt, "PLY"):
        el = hdr.element(element)
        section = BinarySection(
            path=path,
            offset=hdr.section_offset(element),
            count=el.count,
            stride=el.stride,
            little_endian=hdr.little_endian,
            fields=[SectionField(p.name, p.np_char) for p in el.properties],
        )
        out.append((fid, section, hdr))
    return out


_SQL_BY_NAME = {
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
}


def _sql_type(np_char: str) -> T.DataType:
    from .las_format import NP_TO_SQL

    return _SQL_BY_NAME[NP_TO_SQL[np_char]]


def _section_schema(section: BinarySection) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, _sql_type(f.np_char), False) for f in section.fields]
    )


class PlyDataSource(DataSource):
    """``format("ply")`` — LiDAR point clouds in binary PLY."""

    @classmethod
    def name(cls) -> str:
        return "ply"

    def _paths(self) -> list[str]:
        opts = dict(self.options)
        opts["ext"] = ".ply"
        return expand_paths(opts)

    def schema(self):
        element = self.options.get("element", "vertex")
        secs = _sections(
            self._paths(), element, ignore_corrupt_option(self.options)
        )
        if not secs:
            raise ValueError("no readable PLY files found")
        merged = apply_columns_option(
            self.options, merge_all([_section_schema(s) for _, s, _ in secs])
        )
        fid_meta = {"paths": [s.path for _, s, _ in secs]}
        fields = base_schema_fields()
        fields[0] = T.StructField("fid", T.IntegerType(), False, metadata=fid_meta)
        return T.StructType(fields + list(merged.fields))

    def reader(self, schema: T.StructType) -> "PlyReader":
        return PlyReader(self._paths(), self.options, schema)

    def streamReader(self, schema: T.StructType):
        """``spark.readStream.format("ply")`` — continuous tile ingestion
        (shared machinery in sources/las_stream.py)."""
        from .las_stream import PlyStreamReader

        return PlyStreamReader(self.options, schema)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        """``df.writeStream.format("ply")`` — one merged .ply per
        micro-batch (las_stream.make_stream_writer)."""
        from .las_stream import make_stream_writer

        return make_stream_writer("ply", self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool) -> "PlyWriter":
        return PlyWriter(self.options, schema, overwrite)


class PlyReader(DataSourceReader):
    def __init__(self, paths: list[str], options, schema: T.StructType):
        self.paths = paths
        self.options = options
        self.out_schema = schema
        self.element = options.get("element", "vertex")
        self.partition_bytes = int(
            options.get("partition_bytes", DEFAULT_PARTITION_BYTES)
        )
        self.ignore_corrupt = ignore_corrupt_option(options)

    def partitions(self):
        from .pointcloud_common import effective_partition_bytes

        secs = _sections(self.paths, self.element, self.ignore_corrupt)
        total = sum(s.count * s.stride for _, s, _ in secs)
        target = effective_partition_bytes(total, self.partition_bytes)
        parts = []
        for fid, section, hdr in secs:
            if hdr.is_ascii:
                # text rows have no fixed stride → one task per file; skip
                # the rows of any elements preceding the requested one
                skip = 0
                for e in hdr.elements:
                    if e.name == self.element:
                        break
                    skip += e.count
                parts.append(
                    AsciiPlyPartition(
                        path=section.path,
                        fid=fid,
                        header_length=hdr.header_length,
                        skip_rows=skip,
                        n_rows=section.count,
                        fields=[(f.name, f.np_char) for f in section.fields],
                    )
                )
                continue
            for start, n in plan_record_ranges(section.count, section.stride, target):
                parts.append(SectionPartition(section, start, n, fid))
        return parts

    def read(self, partition):
        if partition is None:
            return  # empty partition list (all files pruned) → empty scan
        if isinstance(partition, AsciiPlyPartition):
            yield adapt_batch(_decode_ascii(partition), self.out_schema)
            return
        data_fields = [f for f in self.out_schema.fields if f.name not in ("fid", "pid")]
        want = [f.name for f in data_fields if any(sf.name == f.name for sf in partition.section.fields)]
        raw = partition.section.read_batch(
            partition.rec_start, partition.n_records, partition.fid,
            columns=want, allow_short=self.ignore_corrupt,
        )
        yield adapt_batch(raw, self.out_schema)


@dataclass
class AsciiPlyPartition(InputPartition):
    """One ascii-format PLY file's requested element, decoded whole."""

    path: str
    fid: int
    header_length: int
    skip_rows: int
    n_rows: int
    fields: list  # (name, np_char)


def _decode_ascii(p: AsciiPlyPartition):
    """Decode an ascii PLY element section to an Arrow batch with fid/pid
    (unsigned storage bit-preserved into signed, as the binary path does)."""
    import io as _io

    import pyarrow as pa

    from .binary_section import signed_char

    if p.n_rows == 0:
        # max_rows=None would ingest the NEXT element's rows as data; an
        # element declaring 0 rows is simply empty
        mat = np.empty((0, len(p.fields)), dtype=np.float64)
        text = b""
    else:
        with open(p.path, "rb") as fh:
            fh.seek(p.header_length)
            text = fh.read()
        mat = np.loadtxt(
            _io.BytesIO(text),
            dtype=np.float64,
            skiprows=p.skip_rows,
            max_rows=p.n_rows,
            ndmin=2,
        )
    if mat.shape[1] != len(p.fields):
        raise ValueError(
            f"{p.path}: ascii row width {mat.shape[1]} != "
            f"{len(p.fields)} declared properties"
        )
    n = mat.shape[0]
    names = ["fid", "pid"]
    arrays = [
        pa.array(np.full(n, p.fid, dtype=np.int32)),
        pa.array(np.arange(n, dtype=np.int64)),
    ]
    for i, (name, np_char) in enumerate(p.fields):
        if np_char in ("i8", "u8") and n:
            # float64 round-trip corrupts 8-byte ints above 2^53 —
            # re-parse the column with its native dtype
            col = np.loadtxt(
                _io.BytesIO(text),
                dtype="<" + np_char,
                usecols=i,
                skiprows=p.skip_rows,
                max_rows=p.n_rows,
                ndmin=1,
            )
        else:
            col = mat[:, i].astype("<" + np_char)
        target = signed_char(np_char)
        if target != np_char:
            col = col.view(np.dtype("<" + target))
        arrays.append(pa.array(np.ascontiguousarray(col)))
        names.append(name)
    return pa.RecordBatch.from_arrays(arrays, names=names)


@dataclass
class PlyCommit(WriterCommitMessage):
    #: per-task part sidecars: (fid, part_path, count, bounds).  fid is -1 for the
    #: single-output mode (input had no fid provenance).
    parts: list


class PlyWriter(DataSourceArrowWriter):
    """Task-side body writer + driver-side header-merge commit (A16/A17).

    When the written DataFrame carries ``fid`` provenance (the reader's
    column metadata maps fid → original source path), the commit restores
    the reference's rename semantics (PlyRelation.scala:65-72): one output
    file per source fid, named after the source file's base name.  Without
    provenance, all parts merge into a single ``data.ply``.
    """

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("write path required")
        self.element = options.get("element", "vertex")
        self.little_endian = options.get("littleendian", "true").lower() != "false"
        self.schema = schema
        self.overwrite = overwrite
        # data fields in schema order, fid/pid stripped (PlyOutputWriter.scala:49)
        self.data_fields = [
            (f.name, SPARK_TO_NP[f.dataType.simpleString()])
            for f in schema.fields
            if f.name not in ("fid", "pid")
        ]
        # auto-manifest sidecar (round 13); manifest=false opts out
        from .automanifest import manifest_disabled

        self.emit_manifest = not manifest_disabled(options)
        # fid → source path, when reading provenance rode along
        # (``restoreNames=false`` opts out, keeping one data.ply)
        self.fid_paths = None
        restore = options.get("restorenames", "true").lower() != "false"
        if restore and any(f.name == "fid" for f in schema.fields):
            meta = schema["fid"].metadata or {}
            if meta.get("paths"):
                self.fid_paths = list(meta["paths"])

    def _dtype(self) -> np.dtype:
        prefix = "<" if self.little_endian else ">"
        return np.dtype([(n, prefix + c) for n, c in self.data_fields])

    def write(self, iterator) -> PlyCommit:
        from .automanifest import StatsAcc

        os.makedirs(self.path, exist_ok=True)
        dtype = self._dtype()
        handles: dict[int, tuple] = {}  # fid → (path, file, count, stats)

        def _sink(fid: int):
            h = handles.get(fid)
            if h is None:
                p = os.path.join(self.path, f".part-{uuid.uuid4().hex}-f{fid}.plybin")
                h = [p, open(p, "wb"), 0,
                     StatsAcc(self.data_fields) if self.emit_manifest else None]
                handles[fid] = h
            return h

        try:
            for batch in iterator:
                n = batch.num_rows
                rec = np.empty(n, dtype=dtype)
                for name, _ in self.data_fields:
                    col = batch.column(batch.schema.get_field_index(name))
                    rec[name] = col.to_numpy(zero_copy_only=False)
                if self.fid_paths is None:
                    groups = [(-1, rec)]
                else:
                    fids = batch.column(
                        batch.schema.get_field_index("fid")
                    ).to_numpy(zero_copy_only=False)
                    groups = [
                        (int(fid), rec[fids == fid]) for fid in np.unique(fids)
                    ]
                for fid, sub in groups:
                    h = _sink(fid)
                    h[1].write(sub.tobytes())
                    h[2] += len(sub)
                    if h[3] is not None:
                        h[3].update(sub)
        finally:
            for h in handles.values():
                h[1].close()
        return PlyCommit(
            parts=[
                (
                    fid,
                    h[0],
                    h[2],
                    h[3].finalize() if h[3] is not None else None,
                )
                for fid, h in handles.items()
            ]
        )

    def _merge_one(self, dest: str, parts: list, total: int) -> None:
        props = [PlyProperty(name=n, np_char=c) for n, c in self.data_fields]
        header = PlyHeader(
            location=dest,
            little_endian=self.little_endian,
            elements=[PlyElement(self.element, total, props)],
            comments=["written by spark_iqmulus_spark"],
        )
        with open(dest, "wb") as out:
            out.write(header.to_bytes())
            for part_path in parts:
                append_file(out, part_path)
                os.remove(part_path)

    def commit(self, messages) -> None:
        clear_existing_outputs(self.path, ".ply", self.overwrite)
        by_fid: dict[int, list] = {}
        counts: dict[int, int] = {}
        bounds_by_fid: dict[int, list] = {}
        for m in messages:
            for fid, part_path, count, bounds in m.parts:
                by_fid.setdefault(fid, []).append(part_path)
                counts[fid] = counts.get(fid, 0) + count
                bounds_by_fid.setdefault(fid, []).append(bounds)
        names: dict[int, str] = {}
        if self.fid_paths is not None:
            names = restore_names(self.fid_paths, ".ply")
        jobs = []
        job_fids = []
        for fid, parts in sorted(by_fid.items()):
            if self.fid_paths is not None and fid not in names:
                # silently funneling unknown fids into one shared dest would
                # overwrite earlier merges ('wb' per fid) and lose points
                raise ValueError(
                    f"fid {fid} has no entry in the fid column's 'paths'"
                    f" metadata ({len(self.fid_paths)} paths) — refusing to"
                    " write; fix the fid values or set"
                    " .option('restoreNames','false')"
                )
            dest = os.path.join(self.path, names.get(fid, "data.ply"))
            jobs.append((dest, sorted(parts), counts[fid]))
            job_fids.append(fid)
        pmap_merges(self._merge_one, jobs)
        if self.emit_manifest:
            from .automanifest import emit_from_commit

            emit_from_commit(
                self.path,
                self.data_fields,
                [(dest, total) for dest, _parts, total in jobs],
                [bounds_by_fid[fid] for fid in job_fids],
            )

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for _, part_path, _, _ in m.parts:
                if os.path.exists(part_path):
                    os.remove(part_path)
