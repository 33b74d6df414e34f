"""Corpus-curation change-management operators.

Three operators a 100-TB training-data pipeline runs between ingest and
release, none previously in the registry:

* dataset snapshot diff — CDC between two corpus versions (what was
  added / removed / changed since the last release), the step that makes
  incremental re-training possible without re-reading the whole corpus;
* compaction planning — bin-packing small files into target-size output
  groups from manifest metadata only (the "small files problem" at the
  storage layer);
* char-trigram self-perplexity — the CCNet-style language-model quality
  filter, here with the model trained on the corpus itself so both
  engines derive identical counts.

All three are pure DataFrame compositions (zero Python UDFs): hashing is
``md5`` (identical in Spark and DuckDB), binning is integer window
arithmetic, and the LM score is ``ln(count/total)`` averaged per document
and rounded — engine-neutral to well below the rounding precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import load_tables

#: compaction target group size in manifest-size units (chars stand in for
#: bytes on the synthetic corpus; at 100 TB this would be ~1 GiB).
COMPACTION_TARGET = 1000


def q_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions (CDC without a table
    format): full-outer join on the document key, rows classified
    added / removed / changed by comparing md5 content hashes; unchanged
    rows are dropped so the output is the (small) delta, not the corpus.

    The two snapshots are deterministic slices of ``documents``:
    *old* excludes ``doc_id % 11 == 0`` (those appear only in *new* →
    added), *new* excludes ``doc_id % 13 == 0`` (removed) and rewrites
    the text of ``doc_id % 7 == 0`` (changed).

    Scale: one shuffle on the key; both sides prune to (key, hash) before
    the join so no document text moves. At 100 TB the hash column lives
    in the manifest and the join is metadata-only; output size is the
    churn rate, not the corpus size.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    old = (
        d.where(F.col("doc_id") % 11 != 0)
        .select("doc_id", F.md5("text").alias("old_hash"))
    )
    new = (
        d.where(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
                ).otherwise(F.col("text"))
            ).alias("new_hash"),
        )
    )
    j = old.join(new, "doc_id", "full_outer")
    return (
        j.select(
            "doc_id",
            F.when(F.col("old_hash").isNull(), F.lit("added"))
            .when(F.col("new_hash").isNull(), F.lit("removed"))
            .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
        .where(F.col("status") != "unchanged")
    )


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning from manifest metadata: within each table
    partition (``source``), order files by key and assign them to output
    groups by cumulative size — ``bin = floor(bytes_before / target)`` —
    then summarize each planned output group.

    This is how production compaction schedules work (Iceberg/Delta
    bin-packing): the plan is computed from file-level metadata only —
    never the data — so at 100 TB this query reads a manifest of
    O(n_files) rows. The window is partitioned by ``source``; there is
    no global sort, and each partition's plan is independent (the
    physical plan stays 1 shuffle on the partition key).
    """
    t = load_tables(spark, sf_dir)
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    planned = t["documents"].select(
        "source",
        "doc_id",
        "n_chars",
        F.floor(
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / COMPACTION_TARGET
        ).alias("bin"),
    )
    return planned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_chars").alias("group_bytes"),
        F.min("doc_id").alias("first_key"),
        F.max("doc_id").alias("last_key"),
    )


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram self-perplexity (the CCNet-style LM quality
    filter): train trigram counts on the corpus itself, then score each
    document by the mean negative log-probability of its trigrams —
    higher = less like the corpus = lower quality.

    Trigram extraction is a codegen'd ``transform(sequence(...))`` +
    explode (no Python); the model is a grouped count whose cardinality
    is bounded by |charset|³ regardless of corpus size, so the score join
    broadcasts the model — at 100 TB the document side never shuffles.
    Since the model is trained on the same corpus, every document trigram
    has count ≥ 1 and no smoothing is needed; both engines compute
    ``ln(count/total)`` on exact integer ratios, so the rounded mean is
    engine-stable.
    """
    from .text import _docs

    t = load_tables(spark, sf_dir)
    tri = (
        _docs(t)
        .select("doc_id", F.lower("text").alias("s"))
        .where(F.length("s") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")
            ).alias("tri"),
        )
    )
    # the model is bounded (≤ |charset|³ rows) — checkpoint it so the
    # corpus-wide explode runs once.  The trigram total (sum of counts ==
    # total trigram rows) rides the checkpoint job via DataFrame.observe,
    # as in dedup.dedup_components, instead of a separate aggregate job.
    obs = Observation()
    model = (
        tri.groupBy("tri")
        .agg(F.count(F.lit(1)).alias("c"))
        .observe(obs, F.sum("c").alias("total"))
        .localCheckpoint()
    )
    total = obs.get["total"]
    scored = tri.join(F.broadcast(model), "tri")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tri"),
        F.round(-F.avg(F.log(F.col("c") / F.lit(float(total)))), 4).alias(
            "nll"
        ),
    )


#: number of top merge candidates reported per BPE counting round
BPE_TOP_K = 20


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training merge statistics: the adjacent-symbol pair
    counts that drive each merge round, computed the way production BPE
    trainers scale — on the word-frequency table, not the raw corpus.

    The corpus collapses to ``(word, freq)`` first (the classic trick:
    pair counts are identical, but the problem shrinks from corpus size to
    vocabulary size — at 100 TB the words table is million-row, not
    trillion-row).  Each distinct word then contributes its adjacent
    character pairs weighted by its frequency; the top-K pairs by weighted
    count are the merge candidates.  All codegen: split → explode →
    grouped count → transform/sequence pair explode → weighted sum →
    row_number top-K with a unique (count desc, pair) ordering so both
    engines select the identical set.
    """
    from .text import _docs

    t = load_tables(spark, sf_dir)
    words = (
        _docs(t)
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))
    w = W.orderBy(F.col("cnt").desc(), "pair")
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BPE_TOP_K)
        .select("rank", "pair", "cnt")
    )


QUERIES = {
    "q_dataset_diff": q_dataset_diff,
    "q_compaction_plan": q_compaction_plan,
    "q_text_perplexity": q_text_perplexity,
    "q_bpe_pairs": q_bpe_pairs,
}

ORACLES = {
    "q_dataset_diff": """
        WITH old AS (
            SELECT doc_id, md5(text) AS old_hash
            FROM documents WHERE doc_id % 11 != 0
        ), new AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                            ELSE text END) AS new_hash
            FROM documents WHERE doc_id % 13 != 0
        ), j AS (
            SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
                   CASE WHEN old_hash IS NULL THEN 'added'
                        WHEN new_hash IS NULL THEN 'removed'
                        WHEN old_hash != new_hash THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        )
        SELECT doc_id, status FROM j WHERE status != 'unchanged'
    """,
    "q_compaction_plan": """
        WITH planned AS (
            SELECT source, doc_id, n_chars,
                   CAST(floor(COALESCE(sum(n_chars) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 1000.0) AS BIGINT) AS bin
            FROM documents
        )
        SELECT source, bin,
               count(*) AS n_files,
               CAST(sum(n_chars) AS BIGINT) AS group_bytes,
               min(doc_id) AS first_key,
               max(doc_id) AS last_key
        FROM planned GROUP BY source, bin
    """,
    "q_bpe_pairs": """
        WITH words AS (
            SELECT word, count(*) AS freq
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
                  FROM documents)
            WHERE len(word) >= 2
            GROUP BY word
        ), pairs AS (
            SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
            FROM words, unnest(generate_series(1, len(word) - 1)) AS g(i)
        ), counted AS (
            SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM pairs GROUP BY pair
        )
        SELECT rank, pair, cnt FROM (
            SELECT pair, cnt,
                   row_number() OVER (ORDER BY cnt DESC, pair) AS rank
            FROM counted
        ) WHERE rank <= 20
    """,
    "q_text_perplexity": """
        WITH tri AS (
            SELECT doc_id,
                   substr(s, CAST(i AS INT), 3) AS tri
            FROM (SELECT doc_id, lower(text) AS s FROM documents
                  WHERE len(lower(text)) >= 3),
                 unnest(generate_series(1, len(s) - 2)) AS g(i)
        ), model AS (
            SELECT tri, count(*) AS c FROM tri GROUP BY tri
        ), total AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM tri
        )
        SELECT t.doc_id,
               count(*) AS n_tri,
               round(-avg(ln(m.c / total.n)), 4) AS nll
        FROM tri t JOIN model m ON t.tri = m.tri, total
        GROUP BY t.doc_id
    """,
}
