"""The workloads: inputs, operation sequences and output checks.

Every operation is split into ``build`` (DataFrame construction: schema
inference for the point-cloud reads, the eager build phase for the
registry keys) and ``act`` (the action), followed by ``check``, which
compares the result with a truth computed independently of the engine:
numpy over the generator's arrays for point clouds, a DuckDB oracle for
the registry keys.  A check returns None when the output is right and a
one-line reason when it is not.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import gen

#: sql_mix's tables: a byte-for-byte copy of the project's sf0.01 test
#: data (lineitem, orders, documents, embeddings), kept with the benchmark
#: so a run reads nothing outside its checkout
SQL_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
#: the registry keys the sql_mix workload cycles through
SQL_KEYS = (
    "q_agg_group", "q_join_hash", "q_window_rank", "q_sort_limit",
    "q_dedup_minhash", "q_text_perplexity", "q_sim_knn_lsh",
)

#: input sizes per workload; ``small`` is the smoke-test shape
SIZES = {
    "full": {
        "tiles": dict(cols=4, rows=2, points=100_000),
        "probe_tiles": dict(cols=4, rows=2, points=25_000),
    },
    "small": {
        "tiles": dict(cols=2, rows=2, points=2_000),
        "probe_tiles": dict(cols=2, rows=2, points=2_000),
    },
}
#: the tiles the write operations rewrite: the first two of the bottom row
REWRITE_TILES = "tile_000_00[01].las"


@dataclass
class Op:
    name: str
    kind: str  # "scan" | "meta" | "write" | "sql"
    build: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    points: int = 0  # points the operation reads or writes


@dataclass
class Workload:
    name: str
    #: the first load of the workload's input (part of set-up)
    first_load: Callable[[Any], Any]
    ops: Callable[[Any], list[Op]]  # spark -> operation sequence
    tiles: gen.TileSet | None = None


def _concat(tiles: gen.TileSet) -> np.ndarray:
    return np.concatenate(tiles.points)


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


def _bbox(tiles: gen.TileSet, c0: float, c1: float, r0: float, r1: float):
    """Raw x/y box from tile-grid coordinates (fractions of a tile)."""
    x0, y0 = tiles.raw_origin()
    e = tiles.tile_raw
    return (x0 + int(c0 * e), x0 + int(c1 * e) - 1,
            y0 + int(r0 * e), y0 + int(r1 * e) - 1)


def _in_box(pts: np.ndarray, box) -> np.ndarray:
    xl, xh, yl, yh = box
    return (pts["x"] >= xl) & (pts["x"] <= xh) & (pts["y"] >= yl) & (pts["y"] <= yh)


def _box_filter(F, box):
    xl, xh, yl, yh = box
    return F.col("x").between(xl, xh) & F.col("y").between(yl, yh)


def scan_box(tiles: gen.TileSet):
    """The bbox query's box: half of two tiles of the bottom row (2 of 8
    kept)."""
    return _bbox(tiles, 0.5, 1.5, 0.25, 0.75)


# -- tiles: scans, header-answered operations and writes ----------------------


def tiles(work: str, seed: int, size: dict) -> Workload:
    tset = gen.make_tiles(
        os.path.join(work, "tiles"), seed, size["cols"], size["rows"],
        size["points"], 500.0,
    )
    out = os.path.join(work, "rewrite_out")
    return Workload(
        "tiles", lambda spark: _load(spark, tset),
        lambda spark: (scan_ops(spark, tset) + meta_ops(spark, tset)
                       + write_ops(spark, tset.subset(REWRITE_TILES), out)),
        tiles=tset)


def _load(spark, tiles: gen.TileSet, **options):
    reader = spark.read.format("las")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(tiles.source)


def scan_ops(spark, tiles: gen.TileSet) -> list[Op]:
    from pyspark.sql import functions as F

    pts = _concat(tiles)
    n = len(pts)
    wide_truth = {}
    for c in np.unique(pts["classification"]):
        if c > 4:
            continue
        sel = pts[pts["classification"] == c]
        wide_truth[int(c)] = (
            len(sel), int(sel["intensity"].astype(np.int64).sum()),
            int(sel["x"].min()), int(sel["x"].max()),
            # unsigned fields reach Spark as the same-width signed type
            float(sel["time"].max()), int(sel["red"].view("<i2").astype(np.int64).sum()),
        )
    narrow_truth = (
        int(pts["x"].astype(np.int64).sum()), int(pts["y"].astype(np.int64).sum()),
        int(pts["z"].astype(np.int64).sum()), n,
    )
    box = scan_box(tiles)
    inside = pts[_in_box(pts, box)]
    box_truth = (len(inside), int(inside["z"].astype(np.int64).sum()))

    def wide_act(df):
        return df.where(F.col("classification") <= 4).groupBy("classification").agg(
            F.count(F.lit(1)), F.sum("intensity"), F.min("x"), F.max("x"),
            F.max("time"), F.sum("red"),
        ).collect()

    def wide_check(rows):
        got = {r[0]: tuple(r[1:]) for r in rows}
        return _mismatch("per-class aggregate", got, wide_truth)

    return [
        Op("wide_agg", "scan", lambda: _load(spark, tiles), wide_act, wide_check, n),
        Op("narrow_agg", "scan", lambda: _load(spark, tiles),
           lambda df: df.agg(F.sum("x"), F.sum("y"), F.sum("z"),
                             F.count(F.lit(1))).collect(),
           lambda rows: _mismatch("x/y/z sums", tuple(rows[0]), narrow_truth), n),
        Op("bbox_pushdown", "scan",
           lambda: _load(spark, tiles, pushdown="true").where(_box_filter(F, box)),
           lambda df: df.agg(F.count(F.lit(1)), F.sum("z")).collect(),
           lambda rows: _mismatch("bbox count/sum(z)", tuple(rows[0]), box_truth),
           n),
    ]


# -- header-answered operations ----------------------------------------------


def meta_ops(spark, tiles: gen.TileSet) -> list[Op]:
    """The three header-answerable operations: stock count, global
    min/max(x, y, z), and SQL count(*) on a temp view."""
    from pyspark.sql import functions as F

    pts = _concat(tiles)
    n = len(pts)
    minmax_truth = tuple(
        int(f(pts[a])) for a in "xyz" for f in (np.min, np.max)
    )

    def sql_build():
        _load(spark, tiles).createOrReplaceTempView("perfbench_tiles")
        return spark.sql("SELECT count(*) AS n FROM perfbench_tiles")

    return [
        Op("count", "meta", lambda: _load(spark, tiles), lambda df: df.count(),
           lambda got: _mismatch("count", got, n), n),
        Op("minmax", "meta", lambda: _load(spark, tiles),
           lambda df: df.agg(*[f(a) for a in "xyz" for f in (F.min, F.max)]).collect(),
           lambda rows: _mismatch("min/max", tuple(rows[0]), minmax_truth), n),
        Op("sql_count", "meta", sql_build, lambda df: df.collect(),
           lambda rows: _mismatch("sql count", rows[0][0], n), n),
    ]


# -- writes ------------------------------------------------------------------

#: per-class user-data codes of the join write; class 6 has no entry, so
#: the join also drops those points
LOOKUP = {1: 10, 2: 20, 3: 30, 4: 40, 5: 50}
REGRID = 0.005
#: the regrid write's options (the output header grid)
REGRID_OPTIONS = {"scale": ",".join([str(REGRID)] * 3), "offset": "0,0,0"}


def expected_outputs(tiles: gen.TileSet, keep) -> dict[str, tuple]:
    """{output basename: (count, world min xyz, world max xyz)} for the
    points ``keep(pts)`` selects, one file per source tile that keeps any."""
    out = {}
    for path, pts in zip(tiles.paths, tiles.points):
        sel = pts[keep(pts)]
        if len(sel):
            out[os.path.basename(path)] = (
                len(sel),
                tuple(gen.SCALE * int(sel[a].min()) for a in "xyz"),
                tuple(gen.SCALE * int(sel[a].max()) for a in "xyz"),
            )
    return out


def check_outputs(directory: str, want: dict, scale: float) -> str | None:
    """Compare every written ``.las`` header with the expected count and
    world bounds (1e-6 m tolerance: the writer computes bounds on its own
    grid), and the output scale."""
    files = sorted(glob.glob(os.path.join(directory, "*.las")))
    got_names = [os.path.basename(f) for f in files]
    if got_names != sorted(want):
        return f"output files {got_names[:4]}… != expected {sorted(want)[:4]}…"
    for f in files:
        h = gen.parse_las_header(f)
        count, lo, hi = want[os.path.basename(f)]
        if h["count"] != count:
            return f"{f}: header count {h['count']} != {count}"
        if any(abs(s - scale) > 1e-12 for s in h["scale"]):
            return f"{f}: scale {h['scale']} != {scale}"
        if os.path.getsize(f) < h["data_end"]:
            return f"{f}: file shorter than its header's point data"
        for a in range(3):
            if abs(h["min"][a] - lo[a]) > 1e-6 or abs(h["max"][a] - hi[a]) > 1e-6:
                return f"{f}: bounds {h['min']}..{h['max']} != {lo}..{hi}"
    return None


def write_ops(spark, tiles: gen.TileSet, out: str) -> list[Op]:
    from pyspark.sql import functions as F

    from spark_iqmulus_spark.functions.scaled import regrid

    n = tiles.n_points
    want_filter = expected_outputs(tiles, lambda p: p["classification"] == 2)
    want_all = expected_outputs(tiles, lambda p: np.ones(len(p), bool))
    want_join = expected_outputs(tiles, lambda p: np.isin(p["classification"], list(LOOKUP)))
    d_filter, d_regrid, d_join = (os.path.join(out, k) for k in ("filter", "regrid", "join"))

    def filter_act(df):
        df.write.format("las").mode("overwrite").save(d_filter)

    def regrid_act(df):
        df.write.format("las").mode("overwrite").options(**REGRID_OPTIONS).save(d_regrid)

    def join_build():
        df = _load(spark, tiles)
        lookup = spark.createDataFrame(list(LOOKUP.items()), "classification int, code int")
        joined = df.join(F.broadcast(lookup), "classification")
        return joined.withColumn("user", F.col("code").cast("tinyint")).select(*df.columns)

    def join_act(df):
        df.write.format("las").mode("overwrite").save(d_join)

    return [
        Op("filter_write", "write",
           lambda: _load(spark, tiles).where(F.col("classification") == 2),
           filter_act, lambda _: check_outputs(d_filter, want_filter, gen.SCALE), n),
        Op("regrid_write", "write",
           lambda: regrid(_load(spark, tiles), (REGRID,) * 3),
           regrid_act, lambda _: check_outputs(d_regrid, want_all, REGRID), n),
        Op("join_write", "write", join_build, join_act,
           lambda _: check_outputs(d_join, want_join, gen.SCALE), n),
    ]


# -- sql_mix -----------------------------------------------------------------


def sql_mix(work: str, seed: int, size: dict | None = None) -> Workload:
    """The registry keys on the fixed test tables; ``seed`` only shapes
    the probe tiles of a traced run."""
    tables = {name: os.path.join(SQL_DATA, f"{name}.parquet")
              for name in ("lineitem", "orders", "documents", "embeddings")}
    oracle = oracle_hashes(tables, SQL_KEYS)

    def first_load(spark):
        from spark_iqmulus_spark.session import load_tables

        return load_tables(spark, SQL_DATA)

    return Workload("sql_mix", first_load,
                    lambda spark: sql_ops(spark, SQL_DATA, oracle))


def _table_hash():
    """``tools/check.py``'s order-insensitive canonical row hash."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


def oracle_hashes(tables: dict[str, str], keys) -> dict[str, tuple[int, list, str]]:
    """{key: (row count, sorted column names, canonical hash)} from the
    DuckDB oracle SQL the registry ships next to each key."""
    import duckdb

    from spark_iqmulus_spark.registry import all_oracles

    table_hash = _table_hash()
    oracles = all_oracles()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        out = {}
        for key in keys:
            rel = con.sql(oracles[key])
            cols = list(rel.columns)
            rows = rel.fetchall()
            out[key] = (len(rows), sorted(cols), table_hash(cols, rows)[0])
        return out
    finally:
        con.close()


def sql_ops(spark, sf_dir: str, oracle: dict) -> list[Op]:
    from spark_iqmulus_spark.registry import all_queries

    table_hash = _table_hash()
    queries = all_queries()

    def make(key):
        n, cols, h = oracle[key]

        def check(res):
            scols, rows = res
            if len(rows) != n:
                return f"{key}: {len(rows)} rows, oracle {n}"
            if sorted(scols) != cols:
                return f"{key}: columns {sorted(scols)} != oracle {cols}"
            return _mismatch(f"{key} value hash",
                             table_hash(scols, [tuple(r) for r in rows])[0], h)

        return Op(key, "sql", lambda: queries[key](spark, sf_dir),
                  lambda df: (df.columns, df.collect()), check)

    return [make(k) for k in SQL_KEYS]


BUILDERS = {
    "tiles": tiles,
    "sql_mix": sql_mix,
}


def probe_tiles(work: str, seed: int, size: dict) -> gen.TileSet:
    """A small ``tiles``-shaped set for the layer probes of workloads that
    have no point clouds of their own (sql_mix)."""
    return gen.make_tiles(os.path.join(work, "probe_tiles"), seed,
                          size["cols"], size["rows"], size["points"], 500.0)
