"""spark_iqmulus_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of IGNF/spark-iqmulus, rebuilt Spark-first.

The reference (``/root/reference``, IGNF/spark-iqmulus v0.1.1) is a Spark-1.6
DataSource library that makes LiDAR point clouds (PLY / LAS / XYZ) first-class
DataFrames and delegates the relational algebra to the host engine.  This
package provides:

- ``sources``   — PySpark 4 Python DataSources for PLY / LAS / XYZ
                  (vectorized numpy/Arrow decode, record-aligned partitions,
                  ``fid``/``pid`` provenance columns, format-preserving writers)
- ``plans``     — header-catalog metadata fast paths (COUNT / MIN/MAX from
                  headers without scanning data, mirroring the reference's
                  ExtraStrategies physical plans)
- ``functions`` — schema merge with numeric widening, scaled-coordinate
                  helpers, misc column expressions
- ``operators`` — the declared relational query surface (scan/filter/agg/
                  join/window/sort/set-ops/...) plus large-scale pipeline
                  extensions (dedup, similarity search, text analysis,
                  multimodal columns)
- ``streaming`` — Structured Streaming windowed aggregations with exact
                  batch equivalents

Everything here is public-API PySpark (DataFrame / SQL / Catalyst /
Structured Streaming); Python is confined to scan decode (Arrow-batched) and
clearly-marked Pandas-UDF operators.
"""

__version__ = "0.1.0"

from . import compat as _compat

# The zip-directory memo has two install points.  Task workers inherit it
# from the daemon that forks them (``_daemon``, set by ``get_spark``), since
# some never import this package: the Python RDD workers behind
# ``createDataFrame`` over local rows or an RDD, e.g. ``transcode._spec_frame``.
# Planner workers (``create_data_source``, ``plan_data_source_read``,
# ``write_into_data_source``, ``commit_data_source_write``) run under the
# stock ``pyspark.daemon`` and get it here, when they unpickle our
# DataSource.  The driver is untouched.
if _compat.in_spark_worker():
    _compat.memoize_zip_directories()


def __getattr__(name):
    """Lazy top-level API: the names a reference user needs day one.

    Imports are deferred so ``import spark_iqmulus_spark`` stays cheap and
    optional submodules load only when touched.
    """
    lazy = {
        "register_sources": ("spark_iqmulus_spark.sources", "register_sources"),
        "get_spark": ("spark_iqmulus_spark.session", "get_spark"),
        "load_tables": ("spark_iqmulus_spark.session", "load_tables"),
        "las_headers": ("spark_iqmulus_spark.plans.header_catalog", "las_headers"),
        "ply_headers": ("spark_iqmulus_spark.plans.header_catalog", "ply_headers"),
        "pcd_headers": ("spark_iqmulus_spark.plans.header_catalog", "pcd_headers"),
        "count_from_headers": (
            "spark_iqmulus_spark.plans.header_catalog",
            "count_from_headers",
        ),
        "minmax_from_headers": (
            "spark_iqmulus_spark.plans.header_catalog",
            "minmax_from_headers",
        ),
        "las_info": ("spark_iqmulus_spark.plans.header_catalog", "las_info"),
        "scan_report": ("spark_iqmulus_spark.plans.header_catalog", "scan_report"),
        "with_world_coords": (
            "spark_iqmulus_spark.functions.scaled",
            "with_world_coords",
        ),
        "build_manifest": ("spark_iqmulus_spark.plans.manifest", "build_manifest"),
        "write_manifest": ("spark_iqmulus_spark.plans.manifest", "write_manifest"),
        "update_manifest": ("spark_iqmulus_spark.plans.manifest", "update_manifest"),
        "read_pruned": ("spark_iqmulus_spark.plans.manifest", "read_pruned"),
    }
    if name in lazy:
        import importlib

        mod, attr = lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
