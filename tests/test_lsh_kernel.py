"""The LSH signature and re-rank cosine kernels match the SQL chains they
replaced, bit for bit.

``lsh_signatures`` and ``q_sim_knn_lsh``'s re-rank used to build one
``0.0D ± CAST(get(embedding, i) AS DOUBLE) …`` Add chain per hyperplane
and per dot product.  They now run one numpy kernel behind ``mapInArrow``.
The old chain builders are kept below as the reference, and every
signature and dot product must equal theirs with ``==``, NULL and NaN
rows included.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from spark_iqmulus_spark.operators import similarity as S

from .test_codegen_cache import SF  # the project's sf0.01 test tables


# ---------------------------------------------------------------------------
# the SQL chain builders the kernels replaced (reference only)


def _old_signature_sql(dim: int) -> str:
    """The 16-bit signature as the pre-kernel ``lsh_signatures`` built it:
    an unrolled ``±`` chain per plane up to 512 dims, the zip_with fold
    above that."""
    bits = []
    for j, plane in enumerate(S._hyperplanes(dim)):
        if dim <= 512:
            proj = "0.0D" + "".join(
                (" + " if h > 0 else " - ") + f"CAST(get(embedding, {i}) AS DOUBLE)"
                for i, h in enumerate(plane)
            )
        else:
            lit = "array(" + ", ".join(
                f"CAST('{float(v)!r}' AS DOUBLE)" for v in plane
            ) + ")"
            proj = (
                f"aggregate(zip_with(embedding, {lit}, "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "CAST('0.0' AS DOUBLE), (acc, x) -> acc + x)"
            )
        bits.append(f"CASE WHEN ({proj}) >= 0 THEN shiftleft(1, {j}) ELSE 0 END")
    return " + ".join(bits)


def _old_dot_sql(a: str, b: str, dim: int) -> str:
    """The pre-kernel re-rank dot product as ``_cosine`` built it: the
    unrolled chain up to 512 dims, the zip_with fold above that."""
    if dim > 512:
        return (
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST('0.0' AS DOUBLE), (acc, x) -> acc + x)"
        )
    return "0.0D + " + " + ".join(
        f"(CAST(get({a}, {i}) AS DOUBLE) * CAST(get({b}, {i}) AS DOUBLE))"
        for i in range(dim)
    )


# ---------------------------------------------------------------------------
# test vectors


def _vectors(dim: int) -> list:
    """Seeded random float32 rows plus the edge cases: projections at or
    near zero, cancellation-sensitive magnitudes, ±0.0, NaN, ±inf, a NULL
    array, a NULL element, a short and a long array."""
    rng = np.random.default_rng(dim)
    rows = [list(v) for v in rng.standard_normal((120, dim)).astype(np.float32)]
    planes = np.asarray(S._hyperplanes(dim))
    for v in rng.standard_normal((40, dim)).astype(np.float64):
        # move one component so plane j's projection lands near zero
        j = len(rows) % len(planes)
        v[-1] -= planes[j] @ v * planes[j][-1]
        rows.append(list(v.astype(np.float32)))
    tiny = rng.choice([-1.0, 1.0], (10, dim)) * 1e-45  # float32 subnormals
    rows += [list(v.astype(np.float32)) for v in tiny]
    wide = rng.standard_normal((10, dim)) * rng.choice([1e-8, 1.0, 1e8], (10, dim))
    rows += [list(v.astype(np.float32)) for v in wide]
    base = rows[0]
    rows += [
        [0.0] * dim,
        [-0.0] * dim,
        [-0.0] * (dim - 1) + [-1e-45],
        None,
        base[:3] + [None] + base[4:],
        base[: dim - 1],
        base + [1.0, -2.0, 3.0],
        base[:5] + [float("nan")] + base[6:],
        base[:2] + [float("inf")] + base[3:],
        [float("inf"), float("-inf")] + base[2:],
        [],
    ]
    return rows


def _frame(spark, dim: int):
    rows = _vectors(dim)
    table = pa.table(
        {
            "vec_id": pa.array(range(len(rows)), pa.int64()),
            "embedding": pa.array(rows, pa.list_(pa.float32())),
        }
    )
    return spark.createDataFrame(table), rows


def _long_row(rows: list, dim: int) -> int:
    return next(i for i, r in enumerate(rows) if r and len(r) > dim)


def _key(v):
    """``==`` on doubles, except NaN, which equals only NaN."""
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


# ---------------------------------------------------------------------------
# value identity


@pytest.mark.parametrize("dim", [64, 600])
def test_signatures_match_sql_chain(spark, dim):
    df, rows = _frame(spark, dim)
    new = dict(S.lsh_signatures(df, dim).select("vec_id", "sig").collect())
    old = dict(
        df.select("vec_id", F.expr(_old_signature_sql(dim)).alias("sig")).collect()
    )
    if dim > 512:
        # the fold padded the plane with NULLs past ``dim``, so a longer
        # array got a NULL projection; the kernel reads the first ``dim``
        # elements, like the chain always did
        old.pop(_long_row(rows, dim))
        new.pop(_long_row(rows, dim))
    assert new == old
    # the edge rows exercise every rule: a NULL projection gives 0, and
    # SQL's NaN ranks above every number, so its bits are all 1
    assert new[rows.index(None)] == 0
    assert new[len(rows) - 4] == 0xFFFF  # the NaN element


@pytest.mark.parametrize("dim", [64, 600])
def test_cosine_terms_match_sql_chain(spark, dim):
    df, rows = _frame(spark, dim)
    a = df.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    b = df.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    # every edge row against every other edge row and two random ones
    pairs = a.crossJoin(b).where(
        (F.col("query_id") >= len(rows) - 14) | (F.col("query_id") < 2)
    )
    new = {
        (r[0], r[1]): tuple(map(_key, r[2:]))
        for r in S._cosine_terms(pairs, dim).collect()
    }
    old = {
        (r[0], r[1]): tuple(map(_key, r[2:]))
        for r in pairs.select(
            "query_id",
            "neighbor_id",
            F.expr(_old_dot_sql("qv", "cv", dim)),
            F.expr(_old_dot_sql("qv", "qv", dim)),
            F.expr(_old_dot_sql("cv", "cv", dim)),
        ).collect()
    }
    assert len(new) == len(old) > 100
    if dim > 512:
        # the fold summed whatever zip_with paired, so on an array of
        # another length than ``dim`` it disagreed with the chain's rule,
        # which the kernel keeps at every dim
        odd = {i for i, r in enumerate(rows) if r is not None and len(r) != dim}
        for pair in [p for p in old if odd & set(p)]:
            old.pop(pair)
            new.pop(pair)
    assert new == old


def test_signatures_match_sql_chain_on_testdata(spark):
    from spark_iqmulus_spark.session import load_tables

    dim = S.embedding_dim(SF)
    e = load_tables(spark, SF)["embeddings"]
    new = dict(S.lsh_signatures(e, dim).select("vec_id", "sig").collect())
    old = dict(e.select("vec_id", F.expr(_old_signature_sql(dim))).collect())
    assert new == old and len(new) == 500


# ---------------------------------------------------------------------------
# plan shape

_PYTHON_EVAL = ("BatchEvalPython", "ArrowEvalPython", "PythonUDF")


def _sql_plans(spark, run) -> list[str]:
    """Physical plans of every SQL execution ``run()`` starts, the eager
    ``localCheckpoint`` jobs of the build included.  Executions are told
    apart by id: the store keeps only the newest ones, so its size stops
    growing in a long session."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    run()
    return [
        e.physicalPlanDescription() for e in executions() if e.executionId() > last
    ]


@pytest.mark.parametrize(
    "key,rerank", [("q_sim_knn_lsh", 1), ("q_dedup_embed_lsh", 0)]
)
def test_lsh_plans_use_one_signature_kernel(spark, key, rerank):
    from spark_iqmulus_spark.registry import all_queries

    fn = all_queries()[key]
    plans = _sql_plans(spark, lambda: fn(spark, SF).collect())
    assert any("MapInArrow" in p for p in plans)
    for p in plans:
        hits = [n for n in _PYTHON_EVAL if n in p]
        assert not hits, f"{key}: Python eval node(s) {hits} in plan"
    # per execution, each node once (an adaptive plan prints its final and
    # its initial form)
    kernels = [
        line for p in plans for line in set(p.splitlines())
        if re.match(r"Arguments: partial\(", line)
    ]
    # the signature kernel runs once, in the checkpoint job; the action
    # reads the checkpoint, so only the re-rank kernel runs again
    sig = [k for k in kernels if re.search(r"\bsig#\d+", k)]
    assert len(sig) == 1, kernels
    assert len(kernels) - len(sig) == rerank, kernels


# ---------------------------------------------------------------------------
# embedding_dim follows a rewritten file


def test_embedding_dim_follows_rewritten_file(tmp_path):
    import pyarrow.parquet as pq

    path = tmp_path / "embeddings.parquet"
    for dim in (8, 16, 8):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([0, 1], pa.int64()),
                    "embedding": pa.array(
                        [[1.0] * dim, [2.0] * dim], pa.list_(pa.float32())
                    ),
                }
            ),
            path,
        )
        assert S.embedding_dim(str(tmp_path)) == dim
