"""Per-layer probes: direct calls into each module's public functions.

Each probe times one layer in isolation on the workload's own tiles (or,
for a workload without point clouds, on a small probe tile set), so a
change to one module shows up in that module's figure.  Timings are the
median of a few repetitions; counts are exact.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
import workloads as W
from tracing import job_group, jobs_in_group


def _median_time(fn, reps: int, warm: bool = False) -> tuple[float, object]:
    """Median wall time of ``reps`` calls (after one untimed call when
    ``warm``) and the last result."""
    if warm:
        fn()
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _drain(reader, partitions) -> tuple[int, int, list]:
    """Decode every partition in-process: (points, Arrow bytes, batches)."""
    n = nbytes = 0
    batches = []
    for p in partitions:
        for b in reader.read(p):
            n += b.num_rows
            nbytes += b.nbytes
            batches.append(b)
    return n, nbytes, batches


#: unit of every figure ``probe`` returns
UNITS = {
    "las_format.parse_us_per_file": "us", "las_format.files_parsed": "count",
    "schema_merge.merge_s": "s", "las.schema_s": "s", "las.partitions_s": "s",
    "las.partition_count": "count", "las.files_kept_ratio": "ratio",
    "binary_section.decode_pts_per_s": "pts/s",
    "binary_section.decode_narrow_pts_per_s": "pts/s",
    "binary_section.arrow_bytes_per_pt": "B/pt",
    "scan.noop_pts_per_s": "pts/s", "scan.hop_s": "s", "agg.s": "s",
    "header_catalog.count_s": "s", "header_catalog.minmax_s": "s",
    "fused_read.jobs_per_meta_op": "count", "fused_read.answer_ratio": "ratio",
    "fused_write.plan_s": "s", "fused_write.engaged_ratio": "ratio",
    "transcode.pts_per_s": "pts/s", "las_writer.write_pts_per_s": "pts/s",
    "las_writer.commit_s": "s", "las_writer.bytes_out_per_pt": "B/pt",
    "write.hop_s": "s",
}


def probe(spark, tiles: gen.TileSet, box, cpus: int, work: str, reps: int = 3):
    """Every point-cloud layer figure for ``tiles`` as ``({name: (value,
    unit)}, [errors])``; ``box`` is the raw (xlo, xhi, ylo, yhi) bbox the
    workload's pushdown query uses."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from spark_iqmulus_spark.functions.schema_merge import merge_all
    from spark_iqmulus_spark.plans.header_catalog import (
        count_from_headers, minmax_from_headers,
    )
    from spark_iqmulus_spark.sources.fused_write import plan_fused_save
    from spark_iqmulus_spark.sources.las import LasDataSource, LasWriter
    from spark_iqmulus_spark.sources.las_format import LasHeader
    from spark_iqmulus_spark.sources.pointcloud_common import pmap_headers
    from spark_iqmulus_spark.sources.transcode import transcode_las

    out: dict[str, float] = {}
    paths = tiles.paths
    n_files, n_pts = len(paths), tiles.n_points
    spark_reps = max(1, reps - 1)

    # sources.las_format: header parse through the pooled parser
    t, _ = _median_time(lambda: pmap_headers(LasHeader.parse_file, paths), reps)
    out["las_format.parse_us_per_file"] = t / n_files * 1e6
    out["las_format.files_parsed"] = n_files

    # functions.schema_merge over the per-tile schemas
    schemas = [LasDataSource({"path": p}).schema() for p in paths]
    out["schema_merge.merge_s"], _ = _median_time(lambda: merge_all(schemas), reps)

    # sources.las planning
    opts = {"path": tiles.directory}
    out["las.schema_s"], schema = _median_time(lambda: LasDataSource(opts).schema(), reps)
    reader = LasDataSource(opts).reader(schema)
    out["las.partitions_s"], parts = _median_time(reader.partitions, reps)
    out["las.partition_count"] = len(parts)
    push = LasDataSource({**opts, "pushdown": "true"}).reader(schema)
    xl, xh, yl, yh = box
    push.pushFilters([GreaterThanOrEqual(("x",), xl), LessThanOrEqual(("x",), xh),
                      GreaterThanOrEqual(("y",), yl), LessThanOrEqual(("y",), yh)])
    out["las.files_kept_ratio"] = len({p.fid for p in push.partitions()}) / n_files

    # sources.binary_section: in-process decode, wide and x/y/z only
    t_decode, (n, nbytes, batches) = _median_time(lambda: _drain(reader, parts), reps)
    out["binary_section.decode_pts_per_s"] = n / t_decode
    out["binary_section.arrow_bytes_per_pt"] = nbytes / n
    nopts = {**opts, "columns": "x,y,z"}
    nreader = LasDataSource(nopts).reader(LasDataSource(nopts).schema())
    t, _ = _median_time(lambda: _drain(nreader, nreader.partitions()), reps)
    out["binary_section.decode_narrow_pts_per_s"] = n / t

    # Spark scan into the noop sink, then the same scan under an aggregate
    def noop():
        spark.read.format("las").load(tiles.directory).write.format("noop") \
            .mode("overwrite").save()

    t_noop, _ = _median_time(noop, spark_reps, warm=True)
    out["scan.noop_pts_per_s"] = n_pts / t_noop
    out["scan.hop_s"] = t_noop - t_decode / cpus
    t_agg, _ = _median_time(
        lambda: spark.read.format("las").load(tiles.directory)
        .agg(F.sum("x"), F.sum("y"), F.sum("z")).collect(), spark_reps, warm=True)
    out["agg.s"] = t_agg - t_noop

    # plans.header_catalog
    out["header_catalog.count_s"], _ = _median_time(
        lambda: count_from_headers(spark, paths), reps)
    out["header_catalog.minmax_s"], _ = _median_time(
        lambda: minmax_from_headers(spark, paths), reps)

    # plans.fused_read: Spark jobs per header-eligible operation
    jobs, answered, errors = 0, 0, []
    meta = W.meta_ops(spark, tiles)
    for op in meta:
        group = f"probe|{op.name}"
        with job_group(spark.sparkContext, group):
            err = op.check(op.act(op.build()))
        k = jobs_in_group(spark.sparkContext, group)
        jobs += k
        answered += k == 0
        if err:
            errors.append(f"fused_read probe {op.name}: {err}")
    out["fused_read.jobs_per_meta_op"] = jobs / len(meta)
    out["fused_read.answer_ratio"] = answered / len(meta)

    # sources.fused_write: analysis only (side-effect free)
    probe_dir = os.path.join(work, "probe_out")
    options = {"regrid_write": W.REGRID_OPTIONS}
    engaged, plan_times = 0, []
    for op in W.write_ops(spark, tiles, probe_dir):
        df = op.build()
        t0 = time.perf_counter()
        run = plan_fused_save(df, "las", os.path.join(probe_dir, "plan"), "overwrite",
                              options.get(op.name, {}))
        plan_times.append(time.perf_counter() - t0)
        engaged += run is not None
    out["fused_write.plan_s"] = statistics.mean(plan_times)
    out["fused_write.engaged_ratio"] = engaged / len(plan_times)

    # sources.transcode called directly
    t, _ = _median_time(lambda: transcode_las(
        spark, paths, os.path.join(probe_dir, "transcode.las")), spark_reps, warm=True)
    out["transcode.pts_per_s"] = n_pts / t

    # sources.las writer in-process on the decoded Arrow batches
    wdir = os.path.join(probe_dir, "writer")

    def write_once():
        shutil.rmtree(wdir, ignore_errors=True)
        w = LasWriter({"path": wdir}, schema, True)
        t0 = time.perf_counter()
        msg = w.write(iter(batches))
        t1 = time.perf_counter()
        w.commit([msg])
        return t1 - t0, time.perf_counter() - t1

    runs = [write_once() for _ in range(reps)]
    t_write = statistics.median(r[0] for r in runs)
    out["las_writer.write_pts_per_s"] = n / t_write
    out["las_writer.commit_s"] = statistics.median(r[1] for r in runs)
    written = sum(os.path.getsize(os.path.join(wdir, f))
                  for f in os.listdir(wdir) if f.endswith(".las"))
    out["las_writer.bytes_out_per_pt"] = written / n

    # the unfused stock write, minus what the in-process layers explain
    def stock_write():
        spark.read.format("las").load(tiles.directory).write.format("las") \
            .option("fusedWrite", "false").mode("overwrite") \
            .save(os.path.join(probe_dir, "stock"))

    t_stock, _ = _median_time(stock_write, spark_reps, warm=True)
    out["write.hop_s"] = (t_stock - (t_decode + t_write) / cpus
                          - out["las_writer.commit_s"])
    shutil.rmtree(probe_dir, ignore_errors=True)
    return {k: (v, UNITS[k]) for k, v in out.items()}, errors
