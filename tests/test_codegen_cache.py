"""Spark's generated-code cache holds a session's working set.

At Spark's default of 100 entries, one pass over the 7 keys below compiles
about 140 classes, so every repeated pass recompiled all of them.
``get_spark`` sizes the cache (``session.CODEGEN_CACHE_ENTRIES``) so a
repeated pass compiles nothing.
"""

from __future__ import annotations

from spark_iqmulus_spark.session import CODEGEN_CACHE_ENTRIES

SF = "/root/testdata/sf0.01"
#: a mixed working set: relational operators plus the dedup, text and
#: similarity families (the keys of perfbench's ``sql_mix`` workload)
KEYS = (
    "q_agg_group", "q_join_hash", "q_window_rank", "q_sort_limit",
    "q_dedup_minhash", "q_text_perplexity", "q_sim_knn_lsh",
)


def test_get_spark_sizes_codegen_cache(spark):
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES


def test_repeated_pass_compiles_no_class(spark):
    from spark_iqmulus_spark.registry import all_queries

    queries = all_queries()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    def one_pass() -> int:
        n0 = compiled().getCount()
        for key in KEYS:
            queries[key](spark, SF).collect()
        return compiled().getCount() - n0

    # A query can compile one plan under more than one set of class names:
    # AQE numbers codegen stages in the order it creates query stages,
    # which follows which concurrent shuffle finished first (q_dedup_minhash
    # has such a pair).  Each variant compiles once, so after the first
    # pass a pass compiles 0 classes as soon as no new variant appears.  At
    # Spark's default cache size every pass recompiles ~140.
    counts = [one_pass()]
    while counts[-1] and len(counts) < 5:
        counts.append(one_pass())
    assert counts[-1] == 0, f"classes compiled per pass: {counts}"
