"""Approximate-nearest-neighbor similarity search over embedding columns.

Two paths over ``embeddings`` (``embedding: array<float>``):

- **brute-force top-k** (``q_sim_knn``): correctness baseline — broadcast
  the (small) query set against the full corpus, cosine via JVM array
  expressions (``zip_with`` + ``aggregate`` fold — no Python in the loop),
  per-query top-k with a rank window.  At 100 TB the corpus side stays
  partition-parallel: broadcasting Q queries costs Q×dim×4 bytes and the
  scan is embarrassingly parallel — this is the right plan whenever Q is
  small, *regardless* of corpus size.
- **LSH-bucketed** (``q_sim_knn_lsh``): the scale path when Q is large —
  random-hyperplane signatures, banded buckets, exact re-ranking only
  within buckets; the signatures and the re-rank dot products run in a
  numpy kernel over Arrow batches (``mapInArrow``).  Hyperplanes are derived deterministically (md5 of
  (plane, dim)), so results are reproducible; recall vs brute force is
  asserted in tests/test_similarity.py.
"""

from __future__ import annotations

import hashlib
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from ..session import load_tables, table_count

TOP_K = 5
N_QUERIES = 10  # query set = vec_id < 10

#: LSH layout: 16 hyperplanes → 16-bit signature → 4 bands × 4 bits.
N_PLANES = 16
LSH_BANDS = 4


#: above this many dimensions the unrolled dot product stays on the HOF
#: fold — a flat Add-chain of thousands of nodes slows planning/codegen
#: more than it saves at execution (guide §4.2 applies to the per-element
#: interpreter overhead, which the unroll removes for typical dims).
_FLAT_DIM_CAP = 512


def _is_plain_ref(frag: str) -> bool:
    """True when a SQL fragment is a bare (possibly backtick-quoted)
    column reference — the only operand shape the unrolled dot product
    accepts (``get`` over computed arrays re-materializes the array per
    element; see :func:`_dot`)."""
    return frag.replace("`", "").replace("_", "a").isalnum()


def _flat_dot_sql(a: str, b: str, dim: int, off_a: int = 0, off_b: int = 0) -> str:
    """Unrolled dot product as ONE SQL string: ``0.0D + (a0*b0) + …``
    over two plain array-column references.  Optional 0-based offsets
    shift the element window — ``get(col, off+i)`` reads the same float a
    ``slice(col, off+1, dim)[i]`` subvector would, without materializing
    the slice (``get(slice(...), i)`` re-builds the slice per element)."""
    return "0.0D + " + " + ".join(
        f"(CAST(get({a}, {off_a + i}) AS DOUBLE) * CAST(get({b}, {off_b + i}) AS DOUBLE))"
        for i in range(dim)
    )


def _flat_dot_lit_sql(col: str, vec, offset: int = 0) -> str:
    """Unrolled dot of a plain array column's ``len(vec)``-element window
    (0-based ``offset``) against a Python literal vector, each scalar
    inlined per term — never ``get(array(<literals>), i)``, which
    re-materializes the literal array per element (the O(dim²) shape that
    regressed q_sim_knn_ivf 3.4 s → 41 s; see :func:`_dot`).  The string
    cast ``CAST('<repr>' AS DOUBLE)`` parses (correctly-rounded, like
    Python's shortest-round-trip repr) to exactly the double
    ``F.lit(float(v))`` embeds and is constant-folded at plan time, so
    the chain is bit-identical to the HOF fold it replaces (same
    ``0.0D`` start, left-to-right association, ``cast(x)*cast(y)``
    terms)."""
    return "0.0D + " + " + ".join(
        f"(CAST(get({col}, {offset + i}) AS DOUBLE) * CAST('{float(v)!r}' AS DOUBLE))"
        for i, v in enumerate(vec)
    )


def _lit_arr_sql(vec) -> str:
    """A Python literal vector as SQL array text — each element the exact
    double ``F.lit(float(v))`` embeds (``CAST('<repr>' AS DOUBLE)`` parses
    correctly-rounded, like Python's shortest-round-trip repr)."""
    return (
        "array("
        + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vec)
        + ")"
    )


def _fold_dot_sql(a_sql: str, b_sql: str) -> str:
    """The HOF-fold dot product as ONE SQL string — the SAME expression
    tree the Python ``F.aggregate(F.zip_with(...))`` construction builds
    (``0.0`` double start, strict left-to-right accumulation, the same
    ``CAST(x AS DOUBLE) * CAST(y AS DOUBLE)`` terms), but parsed
    server-side in a single py4j round-trip instead of one round-trip per
    node.  Measured (sf0.1, 16×64-dim centroids): building the 16-score
    cell array cost 0.79 s via Column operators vs 0.003 s via one parse,
    with 0 value-mismatching rows between the two forms on the corpus."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST('0.0' AS DOUBLE), (acc, x) -> acc + x)"
    )


def _dot(a, b, dim: int | None = None):
    """Dot product of two arrays as one JVM expression.

    Operands may be Columns, SQL fragments (str), or Python literal
    vectors (list).  With ``dim`` known (and ≤ ``_FLAT_DIM_CAP``) and both
    operands expressible as SQL text, the sum is built server-side by the
    SQL parser as an unrolled, whole-stage-codegen'd Add chain —
    bit-identical to the HOF fold it replaces (``lit(0.0)`` start, strict
    left-to-right accumulation, the same ``cast(x)*cast(y)`` terms;
    verified 0 mismatching rows on the testdata for column/column,
    ±1-plane and literal-vector forms).  Two distinct costs motivated
    this shape (measured at sf0.1, 2 000×64-dim vectors):

    - the interpreted ``aggregate(zip_with(...))`` fold evaluates its
      lambda per element with no codegen → 1.55 s for the 16-plane LSH
      signature pass vs ~0.2 s unrolled;
    - building the chain with Python ``Column`` operators costs one py4j
      round-trip per node (≈5 s per build!) — ``F.expr`` on a generated
      string is a single round-trip and the parse is ~5 ms.

    The fold remains for unknown dims, Column operands, and literal
    vectors: measured, the unrolled form is only a win when both operands
    are plain array columns — ``get(array(<64 literals>), i)`` and
    ``get(slice(...), i)`` terms re-materialize the array per element
    (O(dim²) work per row: q_sim_knn_ivf regressed 3.4 s → 41 s at sf0.1
    before this guard), while the fold walks the array once."""
    flat = (
        dim is not None
        and dim <= _FLAT_DIM_CAP
        and isinstance(a, str)
        and isinstance(b, str)
        and _is_plain_ref(a)
        and _is_plain_ref(b)
    )
    if flat:
        return F.expr(_flat_dot_sql(a, b, dim))
    # any operand expressible as SQL text → build the SAME fold tree via
    # one server-side parse (construction is py4j-round-trip bound: a
    # 64-element literal vector alone is 64 F.lit calls)
    a_sql = a if isinstance(a, str) else (
        _lit_arr_sql(a) if isinstance(a, list) else None
    )
    b_sql = b if isinstance(b, str) else (
        _lit_arr_sql(b) if isinstance(b, list) else None
    )
    if a_sql is not None and b_sql is not None:
        return F.expr(_fold_dot_sql(a_sql, b_sql))
    if isinstance(a, str):
        a = F.expr(a)
    elif isinstance(a, list):
        a = F.array(*[F.lit(float(v)) for v in a])
    if isinstance(b, str):
        b = F.expr(b)
    elif isinstance(b, list):
        b = F.array(*[F.lit(float(v)) for v in b])
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a, b, dim: int | None = None):
    return _dot(a, b, dim) / (F.sqrt(_dot(a, a, dim)) * F.sqrt(_dot(b, b, dim)))


def embedding_dim(sf_dir: str) -> int:
    """The dimensionality, read from the first row of ``embeddings.parquet``
    with pyarrow (no Spark job), on every call, so a rewritten file is
    never answered from a stale width."""
    import os

    import pyarrow.dataset as ds

    path = os.path.join(sf_dir, "embeddings.parquet")
    dset = ds.dataset(path, format="parquet")
    batch = next(iter(dset.to_batches(columns=["embedding"], batch_size=1)))
    return len(batch.column(0)[0])


def brute_force_knn(
    corpus: DataFrame, queries: DataFrame, k: int = TOP_K, dim: int | None = None
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast; the corpus is never shuffled — the only wide
    operation is the per-query top-k window over Q×N scored pairs, which
    Spark executes as partial top-k per partition (rank filter pushes
    through AQE) after a shuffle on query_id.

    SIZE BOUND (this is the intentional exact baseline, not the scale
    path): work is Q×N cosine evaluations and the query side must fit the
    broadcast limit — in practice Q ≲ ~10k queries (a few MB of 64-dim
    vectors) against an arbitrarily large corpus.  For larger query sets
    or online serving use :func:`q_sim_knn_lsh` / :func:`q_sim_knn_ivf` /
    :func:`q_sim_ivfpq`, which bound per-query work by bucket/cell size.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _cosine("qv", "cv", dim))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def q_sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    return brute_force_knn(
        e, e.where(F.col("vec_id") < N_QUERIES), dim=embedding_dim(sf_dir)
    )


# ---------------------------------------------------------------------------
# LSH path


def _hyperplanes(dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (j, i) is +-1 from
    md5 — reproducible across runs/engines with no RNG state."""
    planes = []
    for j in range(N_PLANES):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{j}:{i}".encode()).digest()[0]
            row.append(1.0 if h & 1 else -1.0)
        planes.append(row)
    return planes


def _arrow_columns(col, dim: int):
    """The first ``dim`` elements of each row of an Arrow list column as a
    ``(dim, n)`` float64 matrix (element ``i`` of every row contiguous),
    plus a mask of the rows whose SQL chain is NULL: the array is NULL,
    shorter than ``dim``, or has a NULL among its first ``dim`` elements,
    because ``get`` past the end is NULL and ``x + NULL`` is NULL.
    Widening float32 to float64 is exact, as ``CAST(x AS DOUBLE)`` is."""
    import numpy as np

    offsets = col.offsets.to_numpy()
    values = col.values
    null = np.diff(offsets) < dim
    if col.null_count:
        null |= col.is_null().to_numpy(zero_copy_only=False)
    # rows that are NULL gather the pad slot appended past the values
    idx = np.where(null[:, None], len(values), offsets[:-1, None] + np.arange(dim))
    vals = np.append(values.to_numpy(zero_copy_only=False), 0.0)
    if values.null_count:
        null |= np.append(values.is_null().to_numpy(zero_copy_only=False), False)[
            idx
        ].any(axis=1)
    return np.ascontiguousarray(vals[idx].T, dtype=np.float64), null


def _chain_sums(x, y):
    """``acc + x[:, i] * y[:, i]`` for ``i`` in order from ``0.0``, per leading
    index of the float64 ``x``/``y`` (shape ``(k, dim, n)``, or ``(k, dim, 1)``
    to broadcast one vector over every row): the same IEEE operations, in
    the same order, as the SQL chain
    ``0.0D + (CAST(x0 AS DOUBLE) * CAST(y0 AS DOUBLE)) + …``.  numpy's
    elementwise multiply and add are separate, unfused roundings, like the
    JVM's."""
    import numpy as np

    acc = np.zeros((x.shape[0], max(x.shape[2], y.shape[2])))
    term = np.empty_like(acc)
    with np.errstate(invalid="ignore", over="ignore"):  # inf and NaN as in SQL
        for i in range(x.shape[1]):
            acc += np.multiply(x[:, i], y[:, i], out=term)
    return acc


def _signature_kernel(batches, planes, dim: int):
    """mapInArrow body of :func:`lsh_signatures`: (vec_id, embedding) batches
    in, the same columns plus ``sig`` out."""
    import numpy as np
    import pyarrow as pa

    shifts = np.arange(len(planes), dtype=np.int32)[:, None]
    p = np.asarray(planes, dtype=np.float64)[:, :, None]  # (planes, dim, 1)
    for b in batches:
        cols, null = _arrow_columns(b.column(1), dim)
        proj = _chain_sums(p, cols[None])  # (planes, n)
        # SQL orders NaN above every number, so ``NaN >= 0`` is true there
        bits = (proj >= 0) | np.isnan(proj)
        bits[:, null] = False  # ``NULL >= 0`` is not true: the bit is 0
        sig = (bits.astype(np.int32) << shifts).sum(axis=0, dtype=np.int32)
        yield pa.RecordBatch.from_arrays(
            [b.column(0), b.column(1), pa.array(sig, pa.int32())],
            names=["vec_id", "embedding", "sig"],
        )


def _cosine_terms_kernel(batches, dim: int):
    """mapInArrow body of the re-rank: (query_id, qv, neighbor_id, cv)
    batches in, (query_id, neighbor_id, _ab, _aa, _bb) out, the three
    dot products :func:`_cosine` builds as SQL chains."""
    import numpy as np
    import pyarrow as pa

    for b in batches:
        at, a_null = _arrow_columns(b.column(1), dim)
        ct, c_null = _arrow_columns(b.column(3), dim)
        sums = _chain_sums(np.stack([at, at, ct]), np.stack([ct, at, ct]))
        nulls = (a_null | c_null, a_null, c_null)
        yield pa.RecordBatch.from_arrays(
            [b.column(0), b.column(2)]
            + [pa.array(v, pa.float64(), mask=m) for v, m in zip(sums, nulls)],
            names=["query_id", "neighbor_id", "_ab", "_aa", "_bb"],
        )


def _cosine_terms(pairs: DataFrame, dim: int) -> DataFrame:
    """(query_id, qv, neighbor_id, cv) → (query_id, neighbor_id, _ab, _aa,
    _bb): the three dot products of ``_cosine("qv", "cv", dim)``, by the
    kernel, bit-identical to the SQL chains (same NULL rules as
    :func:`lsh_signatures`)."""
    fields = pairs.schema.fields
    out = StructType(
        [fields[0], fields[2]]
        + [StructField(c, DoubleType()) for c in ("_ab", "_aa", "_bb")]
    )
    return pairs.mapInArrow(partial(_cosine_terms_kernel, dim=dim), out)


def lsh_signatures(vectors: DataFrame, dim: int) -> DataFrame:
    """vec_id → 16-bit random-hyperplane signature, computed by a numpy
    kernel over the Arrow batches of ``(vec_id, embedding)``
    (``mapInArrow``), for any ``dim``.

    The value is bit-identical to the SQL it replaces, one
    ``0.0D ± CAST(get(embedding, i) AS DOUBLE) …`` chain per plane and
    ``CASE WHEN proj >= 0 THEN 1 << j ELSE 0 END`` per bit: the kernel
    widens float32 to float64 (exact), multiplies by ±1.0 (exact, and
    ``x + (-y)`` is the IEEE operation ``x - y``) and accumulates left to
    right from ``0.0`` per plane.  SQL's NULL and NaN rules are kept: a
    NULL array, one shorter than ``dim`` or one with a NULL among its
    first ``dim`` elements gives a NULL projection and so a 0 bit; NaN
    ranks above every number, so its bit is 1.  Longer arrays use their
    first ``dim`` elements.

    The SQL form was a ~1,000-node expression per query (16 × ``dim``
    terms) whose parse, analysis and code generation cost 0.6–0.9 s on
    every call; the kernel's plan is one ``MapInArrow`` node."""
    pairs = vectors.select("vec_id", "embedding")
    # a NEW StructType: ``schema.add`` would mutate the input's cached schema
    out = StructType(
        [*pairs.schema.fields, StructField("sig", IntegerType(), False)]
    )
    return pairs.mapInArrow(
        partial(_signature_kernel, planes=_hyperplanes(dim), dim=dim), out
    )


def q_sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via banded hyperplane LSH: candidates share at least one
    4-bit band with the query signature; exact cosine re-rank within
    candidates.  Recall < 1 by design (asserted >= 0.6 vs brute force in
    tests); at scale this replaces the Q×N scored join with per-bucket
    joins.  Full oracle hash check: the md5-derived ±1 hyperplanes are
    engine-neutral, so DuckDB reproduces the banding bit-for-bit.

    Two Python stages, both numpy over Arrow batches: the signatures
    (:func:`lsh_signatures`, once, under the ``localCheckpoint``) and the
    re-rank's three dot products (:func:`_cosine_terms`).  Both give the
    values of the SQL chains they replaced, bit for bit; joins, banding,
    the cosine's ``sqrt`` and division, and the top-k window stay in the
    JVM."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    dim = embedding_dim(sf_dir)  # parquet footer — no .first() driver job
    sigs = lsh_signatures(e, dim)
    bits_per_band = N_PLANES // LSH_BANDS
    mask = (1 << bits_per_band) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(bnd).alias("band"),
                F.shiftright(F.col("sig"), bnd * bits_per_band)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for bnd in range(LSH_BANDS)
        ]
    )
    banded = sigs.select(
        "vec_id", "embedding", F.explode(bands).alias("bb")
    ).select("vec_id", "embedding", "bb.band", "bb.val")
    # localCheckpoint: the corpus side AND the broadcast query side both derive
    # from banded; without it the signature pipeline executes twice
    banded = banded.localCheckpoint()

    queries = banded.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "band",
        "val",
    )
    cand = (
        banded.join(F.broadcast(queries), ["band", "val"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "qv", F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        )
        # id-pair dedup only: full-row distinct would hash both embedding
        # arrays per candidate
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # the dot products in the kernel; the sqrt and the (ANSI) division stay
    # in SQL, so a zero vector fails or gives NULL exactly as before
    scored = _cosine_terms(cand, dim).withColumn(
        "cos", F.col("_ab") / (F.sqrt("_aa") * F.sqrt("_bb"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF path

N_CELLS = 16
N_PROBE = 4


def _cell_scores(vec_sql: str, centroids: list[list[float]]):
    """Array of cosine scores of the ``vec_sql`` array fragment against
    each (L2-normalized) centroid — one JVM expression per centroid, no
    Python in the loop.  The centroid list fixes the dimensionality, so
    every dot product is the unrolled codegen chain (centroid components
    inlined as exact literals)."""
    # the norm stays on the fold: it is textually duplicated once per
    # centroid (and the caller may duplicate the whole score array again),
    # so an unrolled chain here multiplies the expression tree ~16×32 —
    # measured 3.4 s → 9.4 s on q_sim_knn_ivf at sf0.1
    norm = F.sqrt(_dot(vec_sql, vec_sql))
    return F.array(*[_dot(vec_sql, c) / norm for c in centroids])


def ivf_assign(vectors: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """vec_id → inverted-file cell = argmax centroid cosine (1-based)."""
    scores = _cell_scores("embedding", centroids)
    return vectors.withColumn(
        "cell", F.array_position(scores, F.array_max(scores))
    )


def q_sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) index: corpus vectors are
    assigned to the nearest of ``N_CELLS`` centroids; each query probes its
    ``N_PROBE`` best cells and re-ranks exactly within them.

    Centroids here are a deterministic sample (every ``N/N_CELLS``-th vector
    by vec_id, L2-normalized) — at production scale they come from a k-means
    fit, but the *query plan* is identical: centroids broadcast as literals,
    cell assignment is a codegen'd argmax, the candidate join is an equi-join
    on ``cell`` (shuffle-partitioned by cell — the classic IVF layout), and
    only ``N_PROBE/N_CELLS`` of the corpus is scored per query.  Full
    oracle hash check (the deterministic centroid sample and argmax cell
    assignment are reproducible in SQL); recall vs brute force is
    asserted in tests/test_operators.py::test_knn_ivf_recall.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    n = table_count(sf_dir, "embeddings")  # footer catalog — no count() job
    step = max(n // N_CELLS, 1)
    cents = (
        e.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < N_CELLS))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    import math

    centroids = []
    for row in cents:
        v = [float(x) for x in row[0]]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        centroids.append([x / nrm for x in v])

    corpus = ivf_assign(e, centroids).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "cell"
    )
    q_scores = _cell_scores("embedding", centroids)
    probe_structs = F.slice(
        F.sort_array(
            F.zip_with(
                q_scores,
                F.sequence(F.lit(1), F.lit(len(centroids))),
                lambda s, i: F.struct(s.alias("score"), i.alias("cell")),
            ),
            asc=False,
        ),
        1,
        N_PROBE,
    )
    queries = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.explode(probe_structs).alias("probe"),
        )
        .select("query_id", "qv", F.col("probe.cell").alias("cell"))
    )
    cand = (
        corpus.join(F.broadcast(queries), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", _cosine("qv", "cv", len(centroids[0])))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


QUERIES = {
    "q_sim_knn": q_sim_knn,
    "q_sim_knn_lsh": q_sim_knn_lsh,
    "q_sim_knn_ivf": q_sim_knn_ivf,
}

ORACLES = {
    "q_sim_knn": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.v, c.v)
                     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                     AS cos_raw
            FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (
                     PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos, rank
        FROM ranked WHERE rank <= {TOP_K}
    """,
}


#: testdata embedding dimensionality (constant across scale factors); the
#: LSH/IVF oracles embed the deterministic hyperplane constants for this dim.
EMB_DIM = 64


def _lsh_banded_cte() -> str:
    """Shared DuckDB CTE: per-vector (band, val) from the same deterministic
    ±1 hyperplanes as :func:`lsh_signatures` (md5-derived, engine-neutral).
    The projections are plain list_dot_product folds, which q_sim_knn's
    hash-green oracle already shows to be bit-identical to Spark's
    zip_with/aggregate fold."""
    planes = _hyperplanes(EMB_DIM)
    proj_cols = ",\n               ".join(
        "list_dot_product(v, ["
        + ", ".join("1.0" if h > 0 else "-1.0" for h in plane)
        + f"]) AS p{j}"
        for j, plane in enumerate(planes)
    )
    bits_per_band = N_PLANES // LSH_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT vec_id, v, {b} AS band, {val} AS val FROM proj".format(
            b=b,
            val=" + ".join(
                f"(CASE WHEN p{b * bits_per_band + r} >= 0 THEN {1 << r} ELSE 0 END)"
                for r in range(bits_per_band)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        proj AS (
            SELECT vec_id, v,
               {proj_cols}
            FROM e
        ),
        banded AS ({band_selects})
    """


ORACLES["q_sim_knn_ivf"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    params AS (
        SELECT greatest(CAST(count(*) AS BIGINT) // {N_CELLS}, 1) AS step FROM e
    ),
    -- deterministic centroid sample: every step-th vector by vec_id,
    -- L2-normalized; cell ids are 1-based positions in vec_id order
    -- (mirrors the Spark side's ordered collect + array_position)
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) AS cell,
               list_transform(v, x -> x / nrm) AS cv
        FROM (
            SELECT e.vec_id, e.v,
                   CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0 THEN 1.0
                        ELSE sqrt(list_dot_product(e.v, e.v)) END AS nrm
            FROM e, params
            WHERE e.vec_id % params.step = 0
              AND CAST(e.vec_id AS DOUBLE) / params.step < {N_CELLS}
        )
    ),
    scores AS (
        SELECT e.vec_id, e.v, c.cell,
               list_dot_product(e.v, c.cv) / sqrt(list_dot_product(e.v, e.v))
                   AS score
        FROM e CROSS JOIN cents c
    ),
    -- argmax cell per vector; ties -> lowest cell (array_position
    -- returns the FIRST max on the Spark side)
    assign AS (
        SELECT vec_id, v, cell FROM (
            SELECT vec_id, v, cell,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY score DESC, cell ASC) AS rk
            FROM scores
        ) WHERE rk = 1
    ),
    -- each query probes its N_PROBE best cells; Spark's sort_array(desc)
    -- over (score, cell) structs breaks score ties by HIGHER cell
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cell FROM (
            SELECT vec_id, v, cell,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rk
            FROM scores WHERE vec_id < {N_QUERIES}
        ) WHERE rk <= {N_PROBE}
    ),
    cand AS (
        SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
        FROM assign a JOIN probes p ON a.cell = p.cell
        WHERE a.vec_id != p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv))) AS cos_raw,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_dot_product(qv, cv)
                          / (sqrt(list_dot_product(qv, qv))
                             * sqrt(list_dot_product(cv, cv))) DESC,
                          neighbor_id) AS rank
        FROM cand
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos, rank
    FROM ranked WHERE rank <= {TOP_K}
"""

ORACLES["q_sim_knn_lsh"] = _lsh_banded_cte() + f"""
        , cand AS (
            SELECT DISTINCT q.vec_id AS query_id, q.v AS qv,
                            c.vec_id AS neighbor_id, c.v AS cv
            FROM banded q
            JOIN banded c ON q.band = c.band AND q.val = c.val
            WHERE q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
        ), scored AS (
            SELECT query_id, neighbor_id,
                   list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))) AS cos_raw
            FROM cand
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (
                     PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos, rank
        FROM ranked WHERE rank <= {TOP_K}
"""


def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column: ``posexplode`` the
    vectors and average per (label, dimension).  One shuffle keyed on
    (label, pos) — cardinality labels × dims, independent of corpus size —
    with map-side partial aggregation doing virtually all the work; this is
    the building block for IVF coarse quantizers and per-class drift
    monitoring.  A per-label L2 norm of the centroid rides along as a
    cross-check aggregate."""
    t = load_tables(spark, sf_dir)
    exploded = t["embeddings"].select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("col"), 6).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


QUERIES["q_embed_centroids"] = q_embed_centroids

ORACLES["q_embed_centroids"] = """
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT label, unnest(generate_series(1, len(v))) AS i, v FROM e)
    SELECT label, i - 1 AS pos,
           round(avg(v[i]), 6) AS centroid,
           count(*) AS n_vecs
    FROM x GROUP BY 1, 2
"""


def q_knn_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: per-query label precision@k of the
    exact kNN result — the fraction of each query's top-k neighbors that
    share its class label, then the per-label mean.  The metric every ANN
    deployment tracks; computed as two broadcast label lookups over the
    (tiny) kNN result plus one aggregate."""
    t = load_tables(spark, sf_dir)
    labels = t["embeddings"].select("vec_id", "label")
    knn = q_sim_knn(spark, sf_dir).select("query_id", "neighbor_id")
    ql = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nl = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    per_query = (
        knn.join(F.broadcast(ql), "query_id")
        .join(nl, "neighbor_id")  # per-corpus-vector labels — no hint
        .groupBy("query_id", "q_label")
        .agg(
            F.round(
                F.avg((F.col("n_label") == F.col("q_label")).cast("double")), 6
            ).alias("precision")
        )
    )
    return per_query.groupBy(F.col("q_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("precision"), 6).alias("mean_precision"),
    )


QUERIES["q_knn_label_precision"] = q_knn_label_precision

ORACLES["q_knn_label_precision"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                 AS cos_raw
        FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
        FROM scored
    ), knn AS (
        SELECT query_id, neighbor_id FROM ranked WHERE rank <= {TOP_K}
    ), lab AS (SELECT vec_id, label FROM embeddings),
    per_query AS (
        SELECT k.query_id, ql.label AS q_label,
               round(avg(CASE WHEN nl.label = ql.label THEN 1.0 ELSE 0.0 END), 6)
                   AS precision
        FROM knn k
        JOIN lab ql ON ql.vec_id = k.query_id
        JOIN lab nl ON nl.vec_id = k.neighbor_id
        GROUP BY 1, 2
    )
    SELECT q_label AS label, count(*) AS n_queries,
           round(avg(precision), 6) AS mean_precision
    FROM per_query GROUP BY 1
"""


# -- Product quantization (embedding compression) ---------------------------

PQ_M = 4  # subspaces
PQ_K = 8  # codes per subspace
PQ_SUB = 16  # dims per subspace (D=64 / PQ_M)


def _pq_d2_staged(df: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """``df`` plus per-subspace squared-distance arrays ``_pqarr<m>``
    (entry k = the exact term order of the original inline form:
    ``dot(sub,sub) − 2·dot(sub,book[m][k]) + cc``).

    Staged so each expensive piece is computed once per row: the
    subvector self-dot ``_pqss<m>`` is referenced by all PQ_K entries and
    ``_pqarr<m>`` by every argmin/min consumer — both non-cheap, so
    CollapseProject keeps the projects separate instead of textually
    re-expanding them (the inline form evaluated the self-dot PQ_K× and
    the whole array once per consumer, all on the interpreted fold).
    Dots are unrolled codegen chains over the plain ``embedding`` column
    with shifted indices — ``get(embedding, m·SUB+i)`` reads the same
    float the ``slice(...)`` subvector element held, so values are
    bit-identical to the slice+fold form."""
    if any(len(c) > _FLAT_DIM_CAP for bm in books for c in bm):
        arr_cols = []
        for m, bm in enumerate(books):
            sub = F.slice(F.col("embedding"), m * len(bm[0]) + 1, len(bm[0]))
            d2s = [
                _dot(sub, sub)
                - 2 * _dot(sub, c)
                + F.lit(sum(x * x for x in c))
                for c in bm
            ]
            arr_cols.append(F.array(*d2s).alias(f"_pqarr{m}"))
        return df.select("*", *arr_cols)
    staged = df.select(
        "*",
        *[
            F.expr(
                _flat_dot_sql(
                    "embedding",
                    "embedding",
                    len(bm[0]),
                    m * len(bm[0]),
                    m * len(bm[0]),
                )
            ).alias(f"_pqss{m}")
            for m, bm in enumerate(books)
        ],
    )
    arr_cols = []
    for m, bm in enumerate(books):
        off = m * len(bm[0])
        d2s = []
        for c in bm:
            cc = sum(x * x for x in c)
            d2s.append(
                F.col(f"_pqss{m}")
                - 2 * F.expr(_flat_dot_lit_sql("embedding", c, off))
                + F.lit(cc)
            )
        arr_cols.append(F.array(*d2s).alias(f"_pqarr{m}"))
    return staged.select("*", *arr_cols)


def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode of the embedding corpus — the standard
    vector-store compression step (Jégou et al., TPAMI 2011): split each
    D=64 vector into ``PQ_M`` subvectors, encode each against a
    ``PQ_K``-entry per-subspace codebook by argmin squared distance, and
    report corpus-level reconstruction stats.

    Codebooks here are a deterministic corpus sample (every ``N/PQ_K``-th
    vector's slice, the q_sim_knn_ivf precedent) — production swaps in
    per-subspace k-means, but the *plan* is identical: codebooks broadcast
    as literals, encoding is a codegen'd argmin over PQ_K dot-product
    expressions per subspace (no Python per row, no shuffle until the final
    1-row aggregate), so the encode is a single map-only pass at any corpus
    size.  Reconstruction errors are summed as exact integer micro-units
    (the cents scheme) so the hash matches at any scale.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    n = table_count(sf_dir, "embeddings")  # footer catalog — no count() job
    step = max(n // PQ_K, 1)
    sample = (
        e.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < PQ_K))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    # codebook[m][k] = m-th 16-dim slice of the k-th sampled vector
    books = [
        [
            [float(x) for x in row[0][m * PQ_SUB : (m + 1) * PQ_SUB]]
            for row in sample
        ]
        for m in range(PQ_M)
    ]

    err_cols = []
    code_cols = []
    for m in range(PQ_M):
        arr = F.col(f"_pqarr{m}")  # staged: the d2 array computed once
        code = F.array_position(arr, F.array_min(arr))  # 1-based, first min
        code_cols.append(code.alias(f"code{m}"))
        err_cols.append(F.array_min(arr).alias(f"err{m}"))

    enc = _pq_d2_staged(e, books).select("vec_id", *code_cols, *err_cols)
    total_err = sum(F.col(f"err{m}") for m in range(PQ_M))
    per_vec = enc.select(
        "vec_id",
        F.round(total_err * 1e6, 0).cast("long").alias("sq_err_micro"),
        sum(F.col(f"code{m}") for m in range(PQ_M)).alias("code_sum"),
    )
    return per_vec.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.lit(PQ_M).cast("int").alias("bytes_per_vec"),
        F.lit(64 * 4 // PQ_M).cast("int").alias("compression_x"),
        F.round(F.sum("sq_err_micro") / F.count(F.lit(1)) / 1e6, 6).alias(
            "mean_sq_err"
        ),
        F.round(F.max("sq_err_micro") / 1e6, 6).alias("max_sq_err"),
        F.sum("code_sum").alias("code_checksum"),
    )


QUERIES["q_embed_pq"] = q_embed_pq

ORACLES["q_embed_pq"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    st AS (SELECT greatest(count(*) // {PQ_K}, 1) AS step FROM e),
    ks AS (SELECT unnest(generate_series(0, {PQ_K - 1})) AS k),
    ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
    cb AS (
        SELECT ks.k, ms.m,
               e.v[ms.m * {PQ_SUB} + 1 : ms.m * {PQ_SUB} + {PQ_SUB}] AS c
        FROM ks CROSS JOIN ms CROSS JOIN st
        JOIN e ON e.vec_id = ks.k * st.step
    ),
    sub AS (
        SELECT e.vec_id, ms.m,
               e.v[ms.m * {PQ_SUB} + 1 : ms.m * {PQ_SUB} + {PQ_SUB}] AS s
        FROM e CROSS JOIN ms
    ),
    dist AS (
        SELECT sub.vec_id, sub.m, cb.k,
               list_dot_product(s, s) - 2 * list_dot_product(s, c)
                   + list_dot_product(c, c) AS d2
        FROM sub JOIN cb ON cb.m = sub.m
    ),
    best AS (
        SELECT vec_id, m, k, d2,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
        FROM dist
    ),
    per_vec AS (
        SELECT vec_id,
               CAST(round(sum(d2) * 1e6, 0) AS BIGINT) AS sq_err_micro,
               sum(k + 1) AS code_sum
        FROM best WHERE rn = 1 GROUP BY vec_id
    )
    SELECT count(*) AS n_vectors,
           CAST({PQ_M} AS INTEGER) AS bytes_per_vec,
           CAST({64 * 4 // PQ_M} AS INTEGER) AS compression_x,
           round(CAST(sum(sq_err_micro) AS DOUBLE) / count(*) / 1e6, 6)
               AS mean_sq_err,
           round(CAST(max(sq_err_micro) AS DOUBLE) / 1e6, 6) AS max_sq_err,
           CAST(sum(code_sum) AS BIGINT) AS code_checksum
    FROM per_vec
"""


#: k-means parameters: k clusters, `iters` assign passes (iters-1 updates).
KMEANS_K = 4
KMEANS_ITERS = 3


def _km_assign(vecs: DataFrame, cents: list[list[int]]) -> DataFrame:
    """One Lloyd assignment pass with the k centroids inlined as plan
    literals: squared-L2 per centroid via ``zip_with``/``aggregate``
    (codegen, map-only — the cloud never shuffles to be assigned), argmin
    with a deterministic (dist, cluster) tiebreak via struct array_min."""
    q = F.col("q")
    structs = []
    for j, c in enumerate(cents):
        if len(c) <= _FLAT_DIM_CAP:
            # unrolled codegen chain built server-side in one F.expr parse —
            # same left-to-right long accumulation and (a-b)*(a-b) integer
            # terms as the fold it replaces
            d = F.expr(
                "CAST(0 AS BIGINT) + "
                + " + ".join(
                    f"((get(q, {i}) - {int(x)}) * (get(q, {i}) - {int(x)}))"
                    for i, x in enumerate(c)
                )
            )
        else:
            carr = F.array(*[F.lit(int(x)) for x in c])
            d = F.aggregate(
                F.zip_with(q, carr, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        structs.append(F.struct(d.alias("d"), F.lit(j).alias("j")))
    best = F.array_min(F.array(*structs))
    return vecs.withColumn("dist", best["d"]).withColumn("cluster", best["j"])


def _km_update(assigned: DataFrame, cents: list[list[int]]) -> list[list[int]]:
    """Centroid update: per-(cluster, dim) integer sums/counts — one
    keyed shuffle of k·d rows — collected to the driver (O(k·d) values,
    bounded like the IVF centroid sample) and floor-divided in exact
    integer arithmetic.  Empty clusters keep their previous centroid."""
    rows = (
        assigned.select("cluster", F.posexplode("q").alias("dim", "v"))
        .groupBy("cluster", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    new = [list(c) for c in cents]
    for r in rows:
        new[r["cluster"]][r["dim"]] = r["s"] // r["n"]
    return new


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means over the embedding corpus
    (Lloyd's algorithm, the workhorse of corpus clustering / IVF index
    training): vectors quantized to non-negative integer micro-units so
    every distance, sum, and floor-divided centroid is exact and
    engine-portable — no floating-point accumulation-order drift.  Init
    is the first k vectors by vec_id; ties break to the lowest cluster.

    Scale shape: each assign pass is map-only (centroids are k·d plan
    literals); each update is one keyed shuffle whose output is k·d rows.
    Only O(k·d) integers ever reach the driver per iteration — corpus
    size never does.  Output: per-cluster sizes, exact inertia, and the
    centroid checksum certifying the full iteration history."""
    t = load_tables(spark, sf_dir)
    vecs = t["embeddings"].select(
        "vec_id",
        F.transform(
            "embedding",
            lambda e: F.round(e.cast("double") * 1000000, 0).cast("long")
            + 1000000,
        ).alias("q"),
    )
    init = {
        r["vec_id"]: list(r["q"])
        for r in vecs.where(F.col("vec_id") < KMEANS_K).collect()
    }
    cents = [init[j] for j in range(KMEANS_K)]
    assigned = None
    for it in range(KMEANS_ITERS):
        assigned = _km_assign(vecs, cents)
        if it < KMEANS_ITERS - 1:
            cents = _km_update(assigned, cents)
    checksum = F.element_at(
        F.array(*[F.lit(sum(c)) for c in cents]),
        (F.col("cluster") + 1).cast("int"),
    )
    return (
        assigned.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
            F.sum("dist").alias("sum_inertia"),
        )
        .withColumn("centroid_checksum", checksum.cast("long"))
    )


QUERIES["q_embed_kmeans"] = q_embed_kmeans

ORACLES["q_embed_kmeans"] = """
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding,
                   e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)
                        + 1000000) AS q
        FROM embeddings
    ), dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    c0 AS (SELECT vec_id AS j, q AS c FROM v WHERE vec_id < 4),
    d1 AS (
        SELECT v.vec_id, v.q, c.j,
               list_sum(list_transform(generate_series(1, 64),
                   i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS dist
        FROM v CROSS JOIN c0 c
    ), a1 AS (
        SELECT vec_id, q, j AS cluster, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, j) AS rn
            FROM d1
        ) WHERE rn = 1
    ), u1 AS (
        SELECT cluster AS j, i, sum(q[i]) AS s, count(*) AS n
        FROM a1 CROSS JOIN dims GROUP BY 1, 2
    ), c1 AS (SELECT j, list(s // n ORDER BY i) AS c FROM u1 GROUP BY j),
    c1f AS (
        SELECT c0.j, COALESCE(c1.c, c0.c) AS c
        FROM c0 LEFT JOIN c1 ON c1.j = c0.j
    ),
    d2 AS (
        SELECT v.vec_id, v.q, c.j,
               list_sum(list_transform(generate_series(1, 64),
                   i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS dist
        FROM v CROSS JOIN c1f c
    ), a2 AS (
        SELECT vec_id, q, j AS cluster, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, j) AS rn
            FROM d2
        ) WHERE rn = 1
    ), u2 AS (
        SELECT cluster AS j, i, sum(q[i]) AS s, count(*) AS n
        FROM a2 CROSS JOIN dims GROUP BY 1, 2
    ), c2 AS (SELECT j, list(s // n ORDER BY i) AS c FROM u2 GROUP BY j),
    c2f AS (
        SELECT c1f.j, COALESCE(c2.c, c1f.c) AS c
        FROM c1f LEFT JOIN c2 ON c2.j = c1f.j
    ),
    d3 AS (
        SELECT v.vec_id, v.q, c.j,
               list_sum(list_transform(generate_series(1, 64),
                   i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS dist
        FROM v CROSS JOIN c2f c
    ), a3 AS (
        SELECT vec_id, q, j AS cluster, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, j) AS rn
            FROM d3
        ) WHERE rn = 1
    )
    SELECT CAST(a.cluster AS BIGINT) AS cluster,
           a.n_vecs, a.min_vec_id, a.sum_inertia,
           CAST(cs.checksum AS BIGINT) AS centroid_checksum
    FROM (
        SELECT cluster, count(*) AS n_vecs, min(vec_id) AS min_vec_id,
               CAST(sum(dist) AS BIGINT) AS sum_inertia
        FROM a3 GROUP BY 1
    ) a
    JOIN (SELECT j, list_sum(c) AS checksum FROM c2f) cs ON cs.j = a.cluster
"""


def q_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition — IVF coarse partitioning + PQ
    compression + ADC scoring (Jégou et al., TPAMI 2011, §IV):

    - corpus pass (map-only, codegen): assign each vector to its best of
      ``N_CELLS`` centroids AND encode it to ``PQ_M`` one-byte codes;
      at rest the index stores only (cell, codes) — 16× smaller than raw;
    - query side: probe the ``N_PROBE`` best cells and score candidates
      WITHOUT touching raw corpus vectors: per query a PQ_M×PQ_K lookup
      table of subspace distances is built once (in-plan, broadcast with
      the query row), and a candidate's asymmetric distance is the sum of
      ``PQ_M`` table lookups on its codes (``element_at``) — O(M) per
      candidate instead of O(D);
    - candidates come from an equi-join on ``cell`` (the inverted-file
      layout: shuffle-partitioned by cell, only N_PROBE/N_CELLS of the
      corpus scored per query).

    Distances are summed as exact integer micro-units, so the whole
    pipeline — centroid sample, cell argmax, code argmin, LUT, ADC top-k —
    is value-hash-checkable against DuckDB."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    n = table_count(sf_dir, "embeddings")  # footer catalog — no count() job

    # coarse centroids: deterministic normalized sample (q_sim_knn_ivf)
    step = max(n // N_CELLS, 1)
    cents = (
        e.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < N_CELLS))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    import math

    centroids = []
    for row in cents:
        v = [float(x) for x in row[0]]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        centroids.append([x / nrm for x in v])

    # PQ codebooks: deterministic sample (q_embed_pq)
    stepq = max(n // PQ_K, 1)
    sample = (
        e.where((F.col("vec_id") % stepq == 0) & (F.col("vec_id") / stepq < PQ_K))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    books = [
        [[float(x) for x in row[0][m * PQ_SUB : (m + 1) * PQ_SUB]] for row in sample]
        for m in range(PQ_M)
    ]

    # corpus index pass: cell + PQ codes, one map-only projection
    # (cell argmax + d2 arrays staged codegen — see ivf_assign/_pq_d2_staged)
    code_cols = [
        F.array_position(F.col(f"_pqarr{m}"), F.array_min(f"_pqarr{m}"))
        .cast("int")
        .alias(f"code{m}")
        for m in range(PQ_M)
    ]
    corpus = _pq_d2_staged(ivf_assign(e, centroids), books).select(
        F.col("vec_id").alias("neighbor_id"), "cell", *code_cols
    )

    # query side: probe cells + per-query ADC lookup tables (micro-units)
    q_scores = _cell_scores("embedding", centroids)
    probe_structs = F.slice(
        F.sort_array(
            F.zip_with(
                q_scores,
                F.sequence(F.lit(1), F.lit(len(centroids))),
                lambda s, i: F.struct(s.alias("score"), i.alias("cell")),
            ),
            asc=False,
        ),
        1,
        N_PROBE,
    )
    lut_cols = []
    for m in range(PQ_M):
        # subvector as SQL text → every fold below is one server-side
        # parse, not a py4j round-trip per node (_fold_dot_sql); the
        # fold walks the slice once, so the get-over-slice O(dim²)
        # hazard of the UNROLLED form does not apply here
        sub = f"slice(embedding, {m * PQ_SUB + 1}, {PQ_SUB})"
        entries = []
        for c in books[m]:
            cc = sum(x * x for x in c)
            d2 = (
                _dot(sub, sub, len(c))
                - 2 * _dot(sub, c, len(c))
                + F.lit(cc)
            )
            entries.append(F.round(d2 * 1e6, 0).cast("long"))
        lut_cols.append(F.array(*entries).alias(f"lut{m}"))
    queries = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(probe_structs).alias("probe"),
            *lut_cols,
        )
        .select("query_id", F.col("probe.cell").alias("cell"), *[f"lut{m}" for m in range(PQ_M)])
    )

    adc = sum(
        F.element_at(F.col(f"lut{m}"), F.col(f"code{m}")) for m in range(PQ_M)
    )
    cand = (
        corpus.join(F.broadcast(queries), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_micro", adc)
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc_micro").asc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_micro", "rank")
    )


QUERIES["q_sim_ivfpq"] = q_sim_ivfpq

ORACLES["q_sim_ivfpq"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    params AS (
        SELECT greatest(CAST(count(*) AS BIGINT) // {N_CELLS}, 1) AS step,
               greatest(CAST(count(*) AS BIGINT) // {PQ_K}, 1) AS stepq
        FROM e
    ),
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) AS cell,
               list_transform(v, x -> x / nrm) AS cv
        FROM (
            SELECT e.vec_id, e.v,
                   CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0 THEN 1.0
                        ELSE sqrt(list_dot_product(e.v, e.v)) END AS nrm
            FROM e, params
            WHERE e.vec_id % params.step = 0
              AND CAST(e.vec_id AS DOUBLE) / params.step < {N_CELLS}
        )
    ),
    scores AS (
        SELECT e.vec_id, e.v, c.cell,
               list_dot_product(e.v, c.cv) / sqrt(list_dot_product(e.v, e.v))
                   AS score
        FROM e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, v, cell FROM (
            SELECT vec_id, v, cell,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY score DESC, cell ASC) AS rk
            FROM scores
        ) WHERE rk = 1
    ),
    ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
    ks AS (SELECT unnest(generate_series(0, {PQ_K - 1})) AS k),
    cb AS (
        SELECT ks.k, ms.m,
               e.v[ms.m * {PQ_SUB} + 1 : ms.m * {PQ_SUB} + {PQ_SUB}] AS c
        FROM ks CROSS JOIN ms CROSS JOIN params
        JOIN e ON e.vec_id = ks.k * params.stepq
    ),
    sub AS (
        SELECT e.vec_id, ms.m,
               e.v[ms.m * {PQ_SUB} + 1 : ms.m * {PQ_SUB} + {PQ_SUB}] AS s
        FROM e CROSS JOIN ms
    ),
    dist AS (
        SELECT sub.vec_id, sub.m, cb.k,
               list_dot_product(s, s) - 2 * list_dot_product(s, c)
                   + list_dot_product(c, c) AS d2
        FROM sub JOIN cb ON cb.m = sub.m
    ),
    -- per-corpus-vector PQ codes: argmin d2, ties -> lowest k (Spark's
    -- array_position first-min)
    best AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (
                     PARTITION BY vec_id, m ORDER BY d2, k) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rk
            FROM scores WHERE vec_id < {N_QUERIES}
        ) WHERE rk <= {N_PROBE}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM assign a JOIN probes p ON a.cell = p.cell
        WHERE a.vec_id != p.query_id
    ),
    -- ADC: candidate distance = sum over subspaces of the QUERY-side
    -- distance to the candidate's codeword (integer micro-units)
    adc AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST(sum(CAST(round(dq.d2 * 1e6, 0) AS BIGINT)) AS BIGINT)
                   AS adc_micro
        FROM cand
        JOIN best b ON b.vec_id = cand.neighbor_id
        JOIN dist dq ON dq.vec_id = cand.query_id
                    AND dq.m = b.m AND dq.k = b.k
        GROUP BY cand.query_id, cand.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_micro,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY adc_micro, neighbor_id) AS rank
        FROM adc
    )
    SELECT query_id, neighbor_id, adc_micro, rank
    FROM ranked WHERE rank <= {TOP_K}
"""
