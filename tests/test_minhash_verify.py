"""The MinHash signatures and exact-Jaccard verify on per-document gram
arrays match the shingle-stream formulations they replaced, row for row.

``q_dedup_minhash`` used to explode every document's shingles and take
the 16 minhash values in a groupBy; then, for verification, explode each
candidate document's shingles again, route every candidate pair through a
``(doc_b, shingle)`` join, count the intersection in a groupBy, count each
document's shingles in a second aggregate, and LEFT-join the counts back
and fill 0.  It now takes the minimum over each document's gram array
(``minhash_signatures``) and intersects the two documents' gram arrays
(``candidate_gram_sets`` + ``jaccard_verify``).  The old formulations are
kept below as the reference, and every output must equal them with
``==``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_iqmulus_spark.operators import dedup as D
from spark_iqmulus_spark.session import load_tables

from .test_codegen_cache import SF  # the project's sf0.01 test tables


def _old_signatures(docs):
    """The pre-array ``minhash_signatures`` (reference only)."""
    sh = D._shingles(docs, distinct=False)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh{j}")
            for j in range(D.MINHASH_K)
        ]
    )


def _old_verify(docs, cand):
    """The pre-array verify of ``q_dedup_minhash`` (reference only)."""
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = D._shingles(docs.join(cand_ids, "doc_id", "left_semi")).localCheckpoint()
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh_c.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_c.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"inter": 0})
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _new_verify(docs, cand, threshold=None):
    grams = D.candidate_gram_sets(docs, cand).localCheckpoint()
    return D.jaccard_verify(cand, grams, threshold)


#: hand-made documents: 3 is shorter than a 3-gram, 4 repeats its 3-grams,
#: 1 and 6 share no 3-gram, 7 has NULL text
_DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on a hat"),
    (3, "two words"),
    (4, "a b c a b c a b c"),
    (5, "a b c a b d"),
    (6, "nothing here is shared at all"),
    (7, None),
    (8, "The  CAT sat on the   mat today"),
]
#: candidate pairs over them, including pairs that name the short and the
#: NULL document
_CAND = [(1, 2), (1, 3), (3, 4), (4, 5), (1, 6), (1, 8), (2, 8), (5, 7), (2, 4)]


@pytest.fixture(scope="module")
def hand_made(spark):
    docs = spark.createDataFrame(
        _DOCS,
        T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        ),
    )
    cand = spark.createDataFrame(_CAND, "doc_a long, doc_b long").localCheckpoint()
    return docs, cand


def test_signatures_equal_groupby_on_hand_made_docs(hand_made):
    docs, _ = hand_made
    sigs = D.minhash_signatures(docs)
    assert _rows(sigs.where(F.col("mh0").isNotNull())) == _rows(_old_signatures(docs))
    # no 3-gram: a NULL signature and no band row
    empty = sigs.where(F.col("mh0").isNull())
    assert sorted(r.doc_id for r in empty.collect()) == [3, 7]
    assert not D.lsh_candidate_pairs(sigs).where("doc_a in (3, 7) or doc_b in (3, 7)").count()


def test_array_verify_equals_routing_on_hand_made_docs(hand_made):
    docs, cand = hand_made
    new = _rows(_new_verify(docs, cand))
    assert new == _rows(_old_verify(docs, cand))
    got = {(a, b): j for a, b, j in new}
    # the short and the NULL document have no 3-gram, so no pair names them
    assert not [p for p in got if {3, 7} & set(p)]
    assert got[(1, 6)] == 0.0  # empty intersection
    assert got[(4, 5)] == 0.75  # {abc,bca,cab} vs {abc,bca,cab,abd}
    assert got[(1, 8)] == 0.8  # whitespace and case normalize


def test_thresholded_verify_equals_filtered_routing_on_hand_made_docs(hand_made):
    docs, cand = hand_made
    for t in (0.0, D.JACCARD_T, 0.5, 0.8, 1.0):
        old = _old_verify(docs, cand).where(F.col("jaccard") >= t)
        assert _rows(_new_verify(docs, cand, t)) == _rows(old), t


def test_array_verify_equals_routing_at_sf001(spark):
    docs = load_tables(spark, SF)["documents"]
    sigs = D.minhash_signatures(docs)
    assert _rows(sigs) == _rows(_old_signatures(docs))  # every doc has a 3-gram
    cand = D.lsh_candidate_pairs(sigs).localCheckpoint()
    old = _rows(_old_verify(docs, cand))
    assert len(old) == 25
    assert _rows(_new_verify(docs, cand)) == old
    assert _rows(D.q_dedup_minhash(spark, SF)) == old


def test_minhash_job_count(spark):
    """Build plus action of ``q_dedup_minhash`` at sf0.01 stay within 12
    Spark jobs; with the shingle-stream signatures and verify they were
    22.  The count is 11 today, and one job of slack is left because AQE
    decides some of them at run time: the candidate LeftSemi is planned
    as a sort-merge join (2 shuffle-map jobs) and then turned into a
    broadcast, and which shuffle finishes first can change the stages
    it schedules."""
    sc = spark.sparkContext
    D.q_dedup_minhash(spark, SF).collect()  # table load and warm-up
    sc.setJobGroup("minhash_jobs", "minhash_jobs")
    try:
        D.q_dedup_minhash(spark, SF).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n = len(sc.statusTracker().getJobIdsForGroup("minhash_jobs"))
    assert 0 < n <= 12, n
