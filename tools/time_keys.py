"""Time declared registry keys with the noop sink (guide §1.4).

Usage: python tools/time_keys.py [--runs N] <key> [<key> ...]

Each sample builds a FRESH DataFrame (matching how the bench and driver
construct queries — plan/analysis cost included) and writes it to the
noop sink so the computation, not the collect, is timed.  Prints one JSON
line: {key: {"med": s, "min": s, "max": s, "runs": [..], "build": [..],
"action": [..], "build_jobs": [..], "action_jobs": [..], "compiles": [..],
"compile_s": [..]}}.  ``build`` is the time to construct the DataFrame
(the eager ``localCheckpoint`` jobs of an operator run here) and
``action`` the noop write; ``runs`` is their sum.  ``build_jobs`` and
``action_jobs`` count the Spark jobs each phase launched (one job group
per phase, read back from ``statusTracker``).
``compiles``/``compile_s`` are the generated classes
Janino compiled during each sample and their compile time: nonzero on a
repeated sample means Spark's codegen cache is evicting the key's classes.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    args = sys.argv[1:]
    runs = 3
    if args and args[0] == "--runs":
        runs = int(args[1])
        args = args[2:]
    keys = args
    from spark_iqmulus_spark.registry import all_queries
    from spark_iqmulus_spark.session import get_spark
    from spark_iqmulus_spark.sources import register_sources

    qs = all_queries()
    spark = get_spark("time_keys")
    spark.sparkContext.setLogLevel("ERROR")
    register_sources(spark)
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    out = {}
    # one warm-up of the first key so JVM/session warm-up is not billed
    qs[keys[0]](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    sc = spark.sparkContext
    for key in keys:
        samples, builds, actions, n_compiled, compile_s = [], [], [], [], []
        build_jobs, action_jobs = [], []
        for i in range(runs):
            group = f"time:{key}#{i}"
            n0, ns0, t0 = compiles().getCount(), codegen.compileTime(), time.time()
            sc.setJobGroup(f"{group}:build", f"{group}:build")
            df = qs[key](spark, SF_DIR)
            t1 = time.time()
            sc.setJobGroup(f"{group}:action", f"{group}:action")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            samples.append(round(t2 - t0, 3))
            builds.append(round(t1 - t0, 3))
            actions.append(round(t2 - t1, 3))
            build_jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"{group}:build")))
            action_jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"{group}:action")))
            n_compiled.append(compiles().getCount() - n0)
            compile_s.append(round((codegen.compileTime() - ns0) / 1e9, 3))
        out[key] = {
            "med": round(statistics.median(samples), 3),
            "min": min(samples),
            "max": max(samples),
            "runs": samples,
            "build": builds,
            "action": actions,
            "build_jobs": build_jobs,
            "action_jobs": action_jobs,
            "compiles": n_compiled,
            "compile_s": compile_s,
        }
        print(json.dumps({key: out[key]}), flush=True)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
