"""PCD Spark DataSource: ``spark.read.format("pcd")`` / ``df.write.format("pcd")``.

Extends the reference's point-cloud source family (PlyRelation.scala /
LasRelation.scala — same fid/pid provenance, schema merge, record-aligned
splits) to the public PCL ``.pcd`` container; the reference has no PCD
support, so this is a spec-derived addition, not a port.

Read path:
- ``DATA binary`` — fixed-stride records → the shared ``BinarySection``
  machinery: record-aligned ~``partition_bytes`` splits, one bulk read +
  numpy structured view → Arrow per task.  This is the 100 TB scale path.
- ``DATA ascii`` / ``DATA binary_compressed`` — decoded one file per task
  (text rows have no fixed stride; LZF blocks are indivisible).  Fine for
  the small/interchange files these layouts are used for; bulk data should
  be ``binary``.

Write path mirrors the PLY writer: task-side binary sidecar parts +
driver-side header-merge commit, with fid-provenance name restoration.
"""

from __future__ import annotations

import io
import os
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from .binary_section import (
    BinarySection,
    SectionField,
    plan_record_ranges,
    signed_char,
)
from .pcd_format import SPARK_TO_NP, PcdField, PcdHeader
from .pointcloud_common import (
    append_file,
    DEFAULT_PARTITION_BYTES,
    SectionPartition,
    adapt_batch,
    apply_columns_option,
    base_schema_fields,
    clear_existing_outputs,
    effective_partition_bytes,
    expand_paths,
    ignore_corrupt_option,
    pmap_merges,
    parse_sections,
    restore_names,
)
from ..functions.schema_merge import merge_all

_SQL_BY_NP = {
    "i1": T.ByteType(),
    "i2": T.ShortType(),
    "i4": T.IntegerType(),
    "i8": T.LongType(),
    "f4": T.FloatType(),
    "f8": T.DoubleType(),
}


def _headers(
    paths: list[str], ignore_corrupt: bool
) -> list[tuple[int, str, PcdHeader]]:
    return parse_sections(paths, PcdHeader.parse_file, ignore_corrupt, "PCD")


def _file_schema(hdr: PcdHeader) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f.name, _SQL_BY_NP[signed_char(f.np_char)], False)
            for f in hdr.fields
        ]
    )


@dataclass
class WholeFilePartition(InputPartition):
    """One ascii / binary_compressed file decoded whole in a single task."""

    path: str
    fid: int


class PcdDataSource(DataSource):
    """``format("pcd")`` — PCL Point Cloud Data files."""

    @classmethod
    def name(cls) -> str:
        return "pcd"

    def _paths(self) -> list[str]:
        opts = dict(self.options)
        opts["ext"] = ".pcd"
        return expand_paths(opts)

    def schema(self):
        hdrs = _headers(self._paths(), ignore_corrupt_option(self.options))
        if not hdrs:
            raise ValueError("no readable PCD files found")
        merged = apply_columns_option(
            self.options, merge_all([_file_schema(h) for _, _, h in hdrs])
        )
        fid_meta = {"paths": [p for _, p, _ in hdrs]}
        fields = base_schema_fields()
        fields[0] = T.StructField("fid", T.IntegerType(), False, metadata=fid_meta)
        return T.StructType(fields + list(merged.fields))

    def reader(self, schema: T.StructType) -> "PcdReader":
        return PcdReader(self._paths(), self.options, schema)

    def streamReader(self, schema: T.StructType):
        """``spark.readStream.format("pcd")`` — continuous tile ingestion
        (shared machinery in sources/las_stream.py)."""
        from .las_stream import PcdStreamReader

        return PcdStreamReader(self.options, schema)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        """``df.writeStream.format("pcd")`` — one merged .pcd per
        micro-batch (las_stream.make_stream_writer)."""
        from .las_stream import make_stream_writer

        return make_stream_writer("pcd", self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool) -> "PcdWriter":
        return PcdWriter(self.options, schema, overwrite)


def _binary_section(path: str, hdr: PcdHeader) -> BinarySection:
    return BinarySection(
        path=path,
        offset=hdr.data_offset,
        count=hdr.points,
        stride=hdr.stride,
        little_endian=True,  # PCD binary data is little-endian (PCL on x86)
        fields=[SectionField(f.name, f.np_char) for f in hdr.fields],
    )


class PcdReader(DataSourceReader):
    def __init__(self, paths: list[str], options, schema: T.StructType):
        self.paths = paths
        self.options = options
        self.out_schema = schema
        self.partition_bytes = int(
            options.get("partition_bytes", DEFAULT_PARTITION_BYTES)
        )
        self.ignore_corrupt = ignore_corrupt_option(options)

    def partitions(self):
        hdrs = _headers(self.paths, self.ignore_corrupt)
        total = sum(h.points * h.stride for _, _, h in hdrs)
        target = effective_partition_bytes(total, self.partition_bytes)
        parts: list = []
        for fid, path, hdr in hdrs:
            if hdr.data_kind == "binary":
                section = _binary_section(path, hdr)
                for start, n in plan_record_ranges(
                    hdr.points, hdr.stride, target
                ):
                    parts.append(SectionPartition(section, start, n, fid))
            else:  # ascii / binary_compressed: indivisible
                parts.append(WholeFilePartition(path, fid))
        return parts

    def read(self, partition):
        if partition is None:
            return
        if isinstance(partition, SectionPartition):
            data_fields = [
                f for f in self.out_schema.fields if f.name not in ("fid", "pid")
            ]
            want = [
                f.name
                for f in data_fields
                if any(sf.name == f.name for sf in partition.section.fields)
            ]
            raw = partition.section.read_batch(
                partition.rec_start, partition.n_records, partition.fid,
                columns=want, allow_short=self.ignore_corrupt,
            )
            yield adapt_batch(raw, self.out_schema)
            return
        yield adapt_batch(
            _decode_whole_file(partition.path, partition.fid), self.out_schema
        )


def _decode_whole_file(path: str, fid: int) -> pa.RecordBatch:
    """Decode one ascii or binary_compressed PCD file to an Arrow batch
    (fid/pid prepended, storage types bit-preserved into signed)."""
    hdr = PcdHeader.parse_file(path)
    n = hdr.points
    cols: dict[str, np.ndarray] = {}
    if hdr.data_kind == "binary_compressed":
        from .pcd_format import read_compressed_body

        body = read_compressed_body(path, hdr)
        # Field-major (SoA) layout, grouped by ORIGINAL header field: a
        # COUNT=c field is one n*c-element block with each point's c
        # elements adjacent ([p0e0..p0e{c-1}, p1e0, ...]), so expanded
        # scalar j is block[j::c] — NOT c contiguous n-element blocks.
        off = 0
        for group, c in hdr.field_groups():
            f0 = group[0]
            block = np.frombuffer(
                body, dtype="<" + f0.np_char, count=n * c, offset=off
            )
            if c == 1:
                cols[f0.name] = block
            else:
                mat = block.reshape(n, c)
                for j, fj in enumerate(group):
                    cols[fj.name] = np.ascontiguousarray(mat[:, j])
            off += n * c * f0.size
    elif hdr.data_kind == "ascii":
        if n == 0:
            # max_rows=None would ingest unrelated trailing bytes; an
            # empty declared section is simply empty
            for f in hdr.fields:
                cols[f.name] = np.empty(0, dtype="<" + f.np_char)
        else:
            with open(path, "rb") as fh:
                fh.seek(hdr.data_offset)
                text = fh.read()
            mat = np.loadtxt(
                io.BytesIO(text), dtype=np.float64, ndmin=2, max_rows=n
            )
            if mat.shape[1] != len(hdr.fields):
                raise ValueError(
                    f"{path}: ascii row width {mat.shape[1]} != "
                    f"{len(hdr.fields)} declared fields"
                )
            for i, f in enumerate(hdr.fields):
                if f.np_char in ("i8", "u8"):
                    # float64 round-trip corrupts 8-byte ints above 2^53 —
                    # re-parse the column with its native dtype
                    cols[f.name] = np.loadtxt(
                        io.BytesIO(text),
                        dtype="<" + f.np_char,
                        usecols=i,
                        ndmin=1,
                        max_rows=n,
                    )
                else:
                    cols[f.name] = mat[:, i].astype("<" + f.np_char)
    else:
        section = _binary_section(path, hdr)
        return section.read_batch(0, n, fid)

    names = ["fid", "pid"]
    arrays = [
        pa.array(np.full(n, fid, dtype=np.int32)),
        pa.array(np.arange(n, dtype=np.int64)),
    ]
    for f in hdr.fields:
        col = cols[f.name]
        target = signed_char(f.np_char)
        if target != f.np_char:
            col = col.view(np.dtype("<" + target))
        arrays.append(pa.array(np.ascontiguousarray(col)))
        names.append(f.name)
    return pa.RecordBatch.from_arrays(arrays, names=names)


@dataclass
class PcdCommit(WriterCommitMessage):
    #: (fid, part_path, count, bounds); fid is -1 in single-output mode
    parts: list


class PcdWriter(DataSourceArrowWriter):
    """Binary PCD writer: sidecar parts + header-merge commit (the PLY
    writer's commit algorithm, PCD header).  ``DATA binary`` only — the
    scale layout; ascii/compressed are interchange formats."""

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("write path required")
        self.schema = schema
        self.overwrite = overwrite
        self.data_fields = [
            (f.name, SPARK_TO_NP[f.dataType.simpleString()])
            for f in schema.fields
            if f.name not in ("fid", "pid")
        ]
        # auto-manifest sidecar (round 13); manifest=false opts out
        from .automanifest import manifest_disabled

        self.emit_manifest = not manifest_disabled(options)
        self.fid_paths = None
        restore = options.get("restorenames", "true").lower() != "false"
        if restore and any(f.name == "fid" for f in schema.fields):
            meta = schema["fid"].metadata or {}
            if meta.get("paths"):
                self.fid_paths = list(meta["paths"])

    def _dtype(self) -> np.dtype:
        return np.dtype([(n, "<" + c) for n, c in self.data_fields])

    def write(self, iterator) -> PcdCommit:
        from .automanifest import StatsAcc

        os.makedirs(self.path, exist_ok=True)
        dtype = self._dtype()
        handles: dict[int, list] = {}

        def _sink(fid: int):
            h = handles.get(fid)
            if h is None:
                p = os.path.join(
                    self.path, f".part-{uuid.uuid4().hex}-f{fid}.pcdbin"
                )
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
        return PcdCommit(
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
        header = PcdHeader(
            location=dest,
            fields=[PcdField(n, c) for n, c in self.data_fields],
            width=total,
            points=total,
            data_kind="binary",
        )
        with open(dest, "wb") as out:
            out.write(header.to_bytes())
            for part_path in parts:
                append_file(out, part_path)
                os.remove(part_path)

    def commit(self, messages) -> None:
        clear_existing_outputs(self.path, ".pcd", self.overwrite)
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
            names = restore_names(self.fid_paths, ".pcd")
        jobs = []
        job_fids = []
        for fid, parts in sorted(by_fid.items()):
            if self.fid_paths is not None and fid not in names:
                raise ValueError(
                    f"fid {fid} has no entry in the fid column's 'paths'"
                    f" metadata ({len(self.fid_paths)} paths) — refusing to"
                    " write; fix the fid values or set"
                    " .option('restoreNames','false')"
                )
            dest = os.path.join(self.path, names.get(fid, "data.pcd"))
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
