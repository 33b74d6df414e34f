"""Physical-plan assertions: the plans must be the ones we'd want at 100 TB.

These tests pin the *plan shape*, not just result values — a regression that
keeps results correct but turns a broadcast join into a shuffle, or loses
parquet filter pushdown, fails here.  `.explain("formatted")`-equivalent text
is obtained from the query execution directly.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_text(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def tables(spark):
    from spark_iqmulus_spark.session import load_tables

    return load_tables(spark, SF_DIR)


def test_broadcast_join_plan(spark, tables):
    """Small-dim joins must be broadcast, never shuffled (SMJ/SHJ)."""
    from spark_iqmulus_spark.operators.relational import q_join_broadcast

    p = plan_text(q_join_broadcast(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_filter_pushdown_reaches_parquet(spark, tables):
    """Predicates must reach the parquet scan as PushedFilters."""
    from spark_iqmulus_spark.operators.relational import q_filter_pred

    p = plan_text(q_filter_pred(spark, SF_DIR))
    assert "PushedFilters: [" in p
    # at least one real (non-IsNotNull) filter pushed
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert any(k in pushed for k in ("GreaterThan", "LessThan", "EqualTo")), pushed


def test_column_pruning_reaches_parquet(spark, tables):
    """A projection must prune the parquet ReadSchema to the used columns."""
    from spark_iqmulus_spark.operators.relational import q_scan_project

    p = plan_text(q_scan_project(spark, SF_DIR))
    read_schema = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema  # wide unused column must not be read


def test_partial_aggregation(spark, tables):
    """groupBy aggs must map-side combine: two HashAggregates around the
    exchange (partial + final), not a raw shuffle of input rows."""
    from spark_iqmulus_spark.operators.relational import q_agg_group

    p = plan_text(q_agg_group(spark, SF_DIR), "simple")
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_topk_is_take_ordered(spark, tables):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition top-k
    + merge), never a global Sort."""
    from spark_iqmulus_spark.operators.relational import q_sort_limit

    p = plan_text(q_sort_limit(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in p


def test_knn_no_cartesian(spark, tables):
    """Brute-force kNN scores via a *broadcast* nested-loop (small query side
    replicated), never a CartesianProduct shuffle."""
    from spark_iqmulus_spark.operators.similarity import q_sim_knn

    p = plan_text(q_sim_knn(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_semi_join_no_distinct_shuffle(spark, tables):
    """left_semi must plan as a semi join, not join+distinct."""
    from spark_iqmulus_spark.operators.relational import q_join_semi

    p = plan_text(q_join_semi(spark, SF_DIR), "simple")
    assert "LeftSemi" in p


def test_range_bucket_join_is_equi(spark, tables):
    """The bucketized range join must plan as an equi-join (hash/SMJ on
    bucket id), never a nested-loop — that's its whole point."""
    from spark_iqmulus_spark.operators.relational import q_join_range_bucket

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_text(q_join_range_bucket(spark, SF_DIR), "simple")
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_multiway_join_plan(spark, tables):
    """6-table join: dims must broadcast; no cartesian/nested-loop edges."""
    from spark_iqmulus_spark.operators.relational2 import q_join_multiway

    p = plan_text(q_join_multiway(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_las_scan_plan_shape(spark, tmp_path):
    """Point-cloud pipeline: Python appears ONLY at the BatchScan; filter
    and partial aggregation run JVM-side above it (no BatchEvalPython),
    and the aggregate map-side combines before the exchange."""
    from pyspark.sql import functions as F

    from tests.fixtures import make_las

    p = str(tmp_path / "plan.las")
    make_las(p, n=1000, fmt=1)
    df = (
        spark.read.format("las")
        .load(p)
        .where(F.col("classification") <= 3)
        .groupBy("classification")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = plan_text(df, "simple")
    assert "BatchScan las" in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan
    assert plan.index("Filter") < plan.index("BatchScan")  # filter above scan only


def test_whole_stage_codegen_on_hot_path(spark, tables):
    """The scan→filter→partial-agg pipeline must run inside whole-stage
    codegen (JVM, vectorized) — no Python eval in the hot path."""
    from spark_iqmulus_spark.operators.relational import q_agg_group

    df = q_agg_group(spark, SF_DIR)
    codegen = plan_text(df, "codegen")
    assert "WholeStageCodegen" in codegen
    assert "BatchEvalPython" not in plan_text(df, "simple")


def test_bloom_filter_join_pruning(spark, tables):
    """Spark's runtime Bloom-filter injection (the row-level pre-shuffle
    pruning that matters for selective fact-fact joins at 100 TB) must fire
    on our join shape.  It is gated by default on a >=10 GB application-side
    scan — exactly the at-scale case — so the test lowers only that MIN
    threshold; everything else is default config."""
    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li, o = tables["lineitem"], tables["orders"]
        j = li.join(
            o.where("o_orderstatus = 'F' AND o_totalprice > 100000"),
            li.l_orderkey == o.o_orderkey,
        )
        p = plan_text(j, "simple")
        assert "bloom_filter_agg" in p, p
        assert "might_contain" in p, p
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_q21_exists_pair_plans_as_semi_and_anti(spark, tables):
    """Q21's EXISTS / NOT EXISTS pair must decorrelate into left-semi and
    left-anti hash joins on the order key — never a nested-loop."""
    from spark_iqmulus_spark.operators.relational3 import q_tpch_q21

    p = plan_text(q_tpch_q21(spark, SF_DIR))
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q15_max_is_broadcast_not_global_window(spark, tables):
    """Aggregate-vs-own-max must broadcast the 1-row max — no Window node,
    no single-partition exchange of the revenue table."""
    from spark_iqmulus_spark.operators.relational3 import q_tpch_q15

    p = plan_text(q_tpch_q15(spark, SF_DIR))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "Window" not in p


def test_tfidf_df_side_is_broadcast(spark, tables):
    """TF-IDF's document-frequency and N sides are vocabulary-/1-row-sized
    and must broadcast; the only shuffles are the (doc,term) partial agg
    and the per-doc ranking window."""
    from spark_iqmulus_spark.operators.text import q_text_tfidf

    p = plan_text(q_text_tfidf(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_graph_triangles_no_cartesian(spark, tables):
    """Triangle enumeration must stay equi-join (hash/broadcast) — a
    cartesian product here means the orientation trick regressed."""
    from spark_iqmulus_spark.operators.graph import q_graph_triangles

    p = plan_text(q_graph_triangles(spark, SF_DIR))
    assert "CartesianProduct" not in p


def test_funnel_steps_share_user_partitioning(spark, tables):
    """Funnel steps key every join and aggregate on user_id; the plan must
    contain hash aggregates and no nested-loop joins between steps."""
    from spark_iqmulus_spark.operators.relational3 import q_events_funnel

    p = plan_text(q_events_funnel(spark, SF_DIR))
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_release_pipeline_stays_jvm_side(spark, tables):
    """The composed release pipeline must contain no Python evaluation
    (every stage is built-in expressions) and must broadcast the benchmark
    gram set rather than shuffling the corpus against it."""
    from spark_iqmulus_spark.operators.text import q_pipeline_release

    p = plan_text(q_pipeline_release(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p


def test_radius_join_is_equi_join(spark, tables):
    """The grid-bucketed radius join core must plan as a hash equi-join on
    the cell key — a cartesian/BNLJ here means the decomposition regressed.
    (Asserted on radius_join itself: the q_pc_radius_join wrapper adds
    intentional 1-row crossJoins for the summary scalars.)"""
    from pyspark.sql import functions as F

    from spark_iqmulus_spark.operators.spatial import radius_join

    pts = tables["part"].select(
        F.col("p_partkey").alias("pid"),
        F.col("p_partkey").cast("double").alias("x"),
        F.col("p_size").cast("double").alias("y"),
    )
    p = plan_text(radius_join(pts, 3.0))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hag_ground_table_broadcasts(spark, tables):
    """Height-above-ground joins the per-cell ground estimate back to the
    cloud via broadcast — the cloud side must not shuffle for the join."""
    from spark_iqmulus_spark.operators.spatial import q_pc_hag

    p = plan_text(q_pc_hag(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_share_and_hist_broadcast_not_window(spark, tables):
    """Ratio-to-report and equi-depth histogram must broadcast their 1-row
    aggregates — a Window node here means a single-partition global sort
    snuck in."""
    from spark_iqmulus_spark.operators.relational3 import (
        q_equiheight_hist,
        q_share_of_total,
    )

    for q in (q_share_of_total, q_equiheight_hist):
        p = plan_text(q(spark, SF_DIR))
        assert "Window" not in p, q.__name__
        assert "CartesianProduct" not in p, q.__name__


def test_transitions_single_window_no_cartesian(spark, tables):
    """Markov transition counting is one window over user partitions plus
    one aggregate — nothing else."""
    from spark_iqmulus_spark.operators.relational3 import q_events_transitions

    p = plan_text(q_events_transitions(spark, SF_DIR))
    assert p.count("Window") >= 1
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_minhash_verify_is_candidate_bounded(spark, tables):
    """The minhash exact-verify stage must be bounded by the LSH candidate
    set: documents are semi-joined down to candidate doc_ids before their
    gram sets are built and intersected (a plan without the LeftSemi would
    be the all-pairs self-join — quadratic, making the banding
    decorative)."""
    from spark_iqmulus_spark.operators.dedup import (
        candidate_gram_sets,
        lsh_candidate_pairs,
        minhash_signatures,
        q_dedup_minhash,
    )
    from spark_iqmulus_spark.session import load_tables

    # the bound itself: pinned on the un-checkpointed helper frame (the
    # query eagerly checkpoints it, which hides the LeftSemi from the final
    # plan text but still executes it inside the checkpoint job)
    docs = load_tables(spark, SF_DIR)["documents"]
    bounded = candidate_gram_sets(
        docs, lsh_candidate_pairs(minhash_signatures(docs))
    )
    assert "LeftSemi" in plan_text(bounded)
    # no cartesian product anywhere in the verify pipeline
    p = plan_text(q_dedup_minhash(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hot_paths_stay_jvm_side(spark, tables):
    """The declared JVM-only operators must never silently grow a Python
    eval node (row UDF, Arrow UDF, pandas map) — Python in a 100 TB hot
    path is a 10-100x regression that row counts would never catch.
    Explicitly-UDF-flavored operators (q_udf_scalar, q_multimodal, the
    pandas as-of join, ...) are exempt by design and not listed here."""
    from spark_iqmulus_spark.registry import all_queries

    qs = all_queries()
    jvm_only = [
        "q_text_stats",
        "q_text_tokens",
        "q_text_quality",
        "q_text_langid",
        "q_text_repetition",
        "q_corpus_overlap",
        "q_pc_ground",
        "q_pc_knn",
        "q_gapfill_locf",
        "q_embed_kmeans",
        "q_dedup_exact",
        "q_dedup_ngram",
        "q_dedup_minhash",
        "q_dedup_simhash",
        "q_dedup_incremental",
        "q_sim_knn",
        "q_pipeline_curate",
        "q_agg_group",
        "q_join_hash",
        "q_window_rank",
        "q_sort_limit",
    ]
    python_nodes = (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "PythonUDF",
    )
    for key in jvm_only:
        p = plan_text(qs[key](spark, SF_DIR))
        hits = [n for n in python_nodes if n in p]
        assert not hits, f"{key}: Python eval node(s) {hits} in plan"


def test_ivfpq_plan_no_cartesian_no_python(spark, tables):
    """IVF-PQ: candidate generation is an equi-join on cell (broadcast of
    the tiny query side), never a cartesian/BNLJ; cell assignment, PQ
    encode, LUTs and ADC sums are all codegen expressions — no Python in
    the plan."""
    from spark_iqmulus_spark.operators.similarity import q_sim_ivfpq

    plan = plan_text(q_sim_ivfpq(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_rangeimage_plan_single_aggregate(spark, tables):
    """Range image: one partial+final hash aggregate over codegen trig —
    no join, no Python, no extra shuffle."""
    from spark_iqmulus_spark.operators.spatial import q_pc_rangeimage

    plan = plan_text(q_pc_rangeimage(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("+- Exchange") <= 1  # the single pixel-key shuffle


def test_pack_sequences_window_is_group_partitioned(spark, tables):
    """Sequence packing must never run a GLOBAL window (single-partition
    prefix sum = the serial bottleneck the 16-group design removes): the
    Window exchange partitions by grp, and no SinglePartition exchange
    appears anywhere in the plan."""
    from pyspark.sql import functions as F

    from spark_iqmulus_spark.operators.packing import pack_sequences

    d = tables["documents"].select(
        "doc_id", F.length("text").alias("tok")
    )
    txt = plan_text(pack_sequences(d))
    assert "SinglePartition" not in txt
    assert "hashpartitioning(grp" in txt


def test_substring_dedup_semi_bounded_no_cartesian(spark, tables):
    """The duplicated-span hit stage must be a LeftSemi against the
    cross-doc duplicated-gram set (never a pairwise gram join), the
    islands window must partition by doc_id (bounded state), and no
    cartesian anywhere."""
    from spark_iqmulus_spark.operators.dedup import q_dedup_substring

    p = plan_text(q_dedup_substring(spark, SF_DIR))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "hashpartitioning(doc_id" in p


def test_dsir_distribution_joins_are_broadcast(spark, tables):
    """DSIR's bucket->log-ratio table is <= 256 rows at ANY corpus size;
    the re-weighting join must be a broadcast (an O(corpus) shuffle there
    would be paying the big-join price for a constant-size dimension)."""
    from spark_iqmulus_spark.operators.sampling import q_sample_dsir

    p = plan_text(q_sample_dsir(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the top-DSIR_TOP selection must be a per-partition heap + driver merge
    # (TakeOrderedAndProject), never a SinglePartition window ranking every
    # per-doc score; the only global window allowed is the rank over the
    # <= DSIR_TOP survivors
    assert "TakeOrderedAndProject" in p


def test_distinct_shingles_no_exchange(spark, tables):
    """``_shingles(distinct=True)`` dedups per-row (``array_distinct``
    before the explode) instead of ``.distinct()`` on the exploded
    stream: global distinct ≡ per-document distinct because every
    (doc_id, shingle) row derives from exactly one document.  Pin both
    the removed shuffle (no Exchange in the subplan) and the row-set
    equality against the exploded-then-global-distinct form."""
    from pyspark.sql import functions as F

    from spark_iqmulus_spark.operators.dedup import _shingles
    from spark_iqmulus_spark.session import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    sh = _shingles(docs, distinct=True)
    # the only Exchange allowed is the round-robin _spread of the tiny
    # local input (round 14 — pass-through, zero Exchange, at scale);
    # a keyed (hashpartitioning) Exchange would mean the exploded stream
    # is being shuffled for the distinct again
    import re

    p = plan_text(sh)
    assert "hashpartitioning" not in p
    # at most the one round-robin spread node (each node appears twice in
    # formatted explain output: once in the tree, once in the detail list)
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1
    global_distinct = _shingles(docs, distinct=False).distinct()
    assert sh.exceptAll(global_distinct).count() == 0
    assert global_distinct.exceptAll(sh).count() == 0


def test_shingles_spread_parallelism(spark, tables):
    """Round 14: the shingle stream must not inherit a tiny scan's
    partitioning — everything downstream of the localCheckpoint (the
    MAX_DF-bounded pair-expansion join above all: 51.7M rows at sf1 ran
    on 2 cores) executes on the checkpointed RDD's partition count.
    ``_shingles`` respreads the (doc_id, text) projection round-robin to
    defaultParallelism when the scan has fewer partitions (pass-through,
    zero Exchange, at scale)."""
    from spark_iqmulus_spark.operators.dedup import _shingles
    from spark_iqmulus_spark.session import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    dp = spark.sparkContext.defaultParallelism
    sh = _shingles(docs).localCheckpoint()
    assert sh.rdd.getNumPartitions() >= dp


def test_semantic_pair_stage_norms_staged(spark, tables):
    """q_dedup_semantic's pair stage must read per-vector norms staged in
    the side projections, never recompute sqrt(dot(v,v)) inside the
    per-pair join condition/filter (that shape recomputes each vector's
    norm once per pair it appears in — measured 20.8 s → 8.4 s at sf0.1
    when staged; values bit-identical because the staged norm is the same
    chain on the same array)."""
    import re

    from spark_iqmulus_spark.operators.dedup import q_dedup_semantic

    p = plan_text(q_dedup_semantic(spark, SF_DIR))
    # the two pair-side Projects each stage one SQRT chain
    assert p.count("SQRT") >= 2
    # no SQRT may appear on a "Join condition"/post-join Filter line
    for line in p.splitlines():
        if re.search(r"Join condition|^\s*Condition", line):
            assert "SQRT" not in line


def test_semantic_pair_stage_salted_when_k_small(spark, tables):
    """q_dedup_semantic's pair join is keyed on the cluster id, whose
    cardinality k is far below the session parallelism on small corpora —
    without a salt the O(cluster²) pair expansion lands on at most k
    tasks (guide §2.5 low-cardinality-key skew; measured 9.5 → 5.8 s at
    sf0.1).  The small-corpus branch must join on (cluster, salt) with
    salt_r = ceil(parallelism/k) replicas; at scale (k >= parallelism)
    salt_r collapses to 1 so the b-side replication never happens."""
    import math
    import re

    from spark_iqmulus_spark.operators.dedup import (
        SEM_K_CAP,
        SEM_TARGET,
        q_dedup_semantic,
    )
    from spark_iqmulus_spark.session import table_count

    n = table_count(SF_DIR, "embeddings")
    k = min(max(4, n // SEM_TARGET), SEM_K_CAP)
    dp = spark.sparkContext.defaultParallelism
    salt_r = min(max(1, math.ceil(dp / k)), 16)
    p = plan_text(q_dedup_semantic(spark, SF_DIR))
    assert re.search(r"hashpartitioning\(cluster#\d+L?, salt#\d+", p), (
        "pair-stage repartition must include the salt key"
    )
    # the b-side replication factor is the explode of [0..salt_r-1]
    if salt_r > 1:
        assert "explode" in p
    else:
        assert "explode" not in p


def test_embed_lsh_partitioning_scale_adaptive(spark, tables):
    """q_dedup_embed_lsh's salted self-join derives salt factor and
    partition count from the corpus size: at the sf5 tuning point
    (100k vectors) it keeps salt 8 / one partition per salted bucket
    (512), while small corpora get parallelism-sized partitions instead
    of 512 near-empty tasks across two Exchanges (measured 5.1 → 2.5 s
    at sf0.1; pair set identical — partitioning is not part of the
    declared result)."""
    import re

    from spark_iqmulus_spark.operators.dedup import q_dedup_embed_lsh
    from spark_iqmulus_spark.operators.similarity import LSH_BANDS
    from spark_iqmulus_spark.session import table_count

    # the rule itself, at both regimes
    def rule(n_vec, dp):
        salt_r = min(8, max(1, round(n_vec / 12_500)))
        return salt_r, max(dp, min(16 * LSH_BANDS * salt_r, n_vec // 64))

    assert rule(100_000, 32) == (8, 512)  # sf5: unchanged from the tuning
    assert rule(2_000, 32) == (1, 32)  # bench SF: parallelism-sized
    # the engaged plan at the test SF uses the small-corpus branch
    n_vec = table_count(SF_DIR, "embeddings")
    dp = spark.sparkContext.defaultParallelism
    salt_r, n_part = rule(n_vec, dp)
    p = plan_text(q_dedup_embed_lsh(spark, SF_DIR))
    m = re.search(r"hashpartitioning\(band#\d+, val#\d+, [^,]+, (\d+)\)", p)
    assert m, "salted repartition missing from the plan"
    assert int(m.group(1)) == n_part


def test_no_inferred_generate_filter_reinlines_tokenizer(spark, tables):
    """A plain explode over an expensively-built array makes the optimizer
    infer ``size(arr) > 0`` below the Generate, re-inlining the whole
    array construction (tokenizer re-split per element) into an
    interpreted pre-Generate Filter — measured 22× on q_text_repetition's
    bigram stage.  The token/gram explodes use explode_outer (+ an
    isnotnull(text) scan filter where needed for row-identity), so no
    plan may carry the re-inlined construction in a Filter."""
    from spark_iqmulus_spark.operators.text import (
        q_text_repetition,
        q_text_zipf,
        q_vocab_drift,
    )

    for fn in (q_text_repetition, q_text_zipf, q_vocab_drift):
        p = plan_text(fn(spark, SF_DIR))
        assert "size(transform(" not in p, fn.__name__
    # zipf/vocab_drift: the only size(split(...)) allowed is none at all —
    # their single declared filter is isnotnull(text), pushed to the scan
    for fn in (q_text_zipf, q_vocab_drift):
        p = plan_text(fn(spark, SF_DIR))
        assert "size(split(" not in p, fn.__name__


def test_text_docs_spread_parallelism(spark, tables):
    """Round 14: text.py's tokenize/explode map sides must not inherit a
    tiny scan's partitioning (q_text_perplexity's trigram explode alone
    measured 18.8 s at sf1 on the 2-partition scan; 41 -> 4.3 s after).
    ``_docs`` respreads the documents table round-robin to
    defaultParallelism when the scan has fewer partitions (pass-through,
    zero Exchange, at scale)."""
    from spark_iqmulus_spark.operators.text import _docs
    from spark_iqmulus_spark.session import load_tables

    t = load_tables(spark, SF_DIR)
    dp = spark.sparkContext.defaultParallelism
    assert _docs(t).rdd.getNumPartitions() >= dp
