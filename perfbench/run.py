"""Point-cloud engine benchmark: one workload, one seed, one run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 10 --trace 0

Workloads: tiles, sql_mix (see
``BENCHMARK.json`` and ``perfbench/METRICS.md``).  The run generates its
inputs from ``--seed`` under ``perfbench/.work/``, starts a local Spark
session on every CPU the process may use, measures closed-loop cycles of
the workload's operations for ``--seconds``, checks every output, and
prints a report followed by one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced cycles (job groups, statusTracker, Spark event log),
probes each layer directly, and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import layers
import loop
import tracing
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tiles", "sql_mix")
#: a run that has not finished by then is abandoned with an error
DEADLINE_S = 170


def cpu_count() -> int:
    """What ``nproc`` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, cpus: int, trace: bool) -> None:
    """Environment for the JVM and the Python workers, set before pyspark
    starts: the package on the workers' path, one CPU count for Spark and
    the package's partition planner, and every scratch file inside
    ``work``.  The Spark event log is configured through this run's own
    ``SPARK_CONF_DIR``."""
    conf, tmp, local, events = (os.path.join(work, d)
                                for d in ("conf", "tmp", "local", "events"))
    for d in (conf, tmp, local, events):
        os.makedirs(d, exist_ok=True)
    defaults = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in defaults.items())
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
    })


def stop_spark() -> None:
    """Stop the session and the JVM, then wait for every process this run
    started (JVM, Python worker daemon and workers) to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    before = tracing.descendants(os.getpid())
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in before:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, work: str, cpus: int, size: dict) -> tuple[dict, list[str]]:
    """One run; returns (result JSON object, report lines)."""
    workload = W.BUILDERS[args.workload](work, args.seed, size.get(args.workload))
    lines = []
    setup = loop.set_up(workload, cpus)
    spark = setup.spark
    lines.append("env " + json.dumps(environment(spark, args, cpus)))
    ops = workload.ops(spark)
    warm = loop.warm_up(ops)
    if args.trace:
        tracer = tracing.Tracer(spark.sparkContext)
        plain, traced = loop.run_cycles(ops, args.seconds, tracer)
        cycles = [plain, traced]
        tiles = workload.tiles or W.probe_tiles(work, args.seed, size["probe_tiles"])
        probed, probe_errors = layers.probe(spark, tiles, W.scan_box(tiles), cpus, work)
        spark.stop()  # flushes the event log
        events = tracing.parse_event_log(os.path.join(work, "events"))
        tracer.write(os.path.join(HERE, ".results",
                                  f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        # memory of the steady state: set-up restarts overlap dying and
        # starting processes
        with tracing.RssSampler() as rss:
            plain, _ = loop.run_cycles(ops, args.seconds)
        cycles = [plain]
    attempted = sum(c.attempted for c in [warm] + cycles)
    failed = sum(c.failed for c in [warm] + cycles)
    lines += [f"FAILED warm-up {f}" for f in warm.failures()]
    for c in cycles:
        lines += [f"FAILED {f}" for f in c.failures()]
    for name, (value, unit) in loop.report(plain).items():
        lines.append(f"metric {name} {value:.6g} {unit}")
    for name, med in loop.per_op_medians(plain).items():
        lines.append(f"op {name} median_s {med:.6g}")
    if args.trace:
        metrics = layer_metrics(setup, plain, traced, events, probed)
        lines += [f"FAILED {e}" for e in probe_errors]
        lines += per_op_phase_lines(traced)
        failed += len(probe_errors)
    else:
        metrics = {
            "setup_s": (setup.setup_s, "s"),
            "cycle_s": (statistics.median(plain.cycle_s), "s"),
        }
        geomean = loop.geomean(list(loop.per_op_medians(plain).values()))
        lines.append(f"metric op_geomean_s {geomean:.6g} s")
        lines.append(f"metric cold_setup_s {setup.cold_s:.6g} s")
        lines.append(f"metric peak_rss_mb {rss.peak_mb:.6g} MB")
        lines += [f"setup {k} {v:.6g} s" for k, v in setup.parts.items()]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def layer_metrics(setup, plain, traced, events, probed) -> dict:
    n = len(traced.cycle_s)
    ok = [s for s in traced.samples if not s.error]
    reading = [s for s in ok if s.op.kind != "meta"]
    reading_names = {s.op.name for s in reading}
    total, scan_tasks = tracing.StageTotals(), 0
    for group, t in events.items():
        if not group.startswith(tracing.GROUP_PREFIX):
            continue  # warm-up and probe jobs
        for k in total.__dict__:
            setattr(total, k, getattr(total, k) + getattr(t, k))
        if group.rsplit("|", 1)[1].rsplit(".", 1)[0] in reading_names:
            scan_tasks += t.tasks
    m = dict(probed)
    m.update({
        "scan.tasks_per_op": (scan_tasks / max(1, len(reading)), "count"),
        "scan.jobs_per_op": (sum(s.build_jobs + s.action_jobs for s in reading)
                             / max(1, len(reading)), "count"),
        "session.get_spark_s": (setup.parts["get_spark_s"], "s"),
        "session.register_sources_s": (setup.parts["register_sources_s"], "s"),
        "session.first_load_s": (setup.parts["first_load_s"], "s"),
        "ops.build_s": (sum(s.build_s for s in ok) / n, "s"),
        "ops.build_jobs": (sum(s.build_jobs for s in ok) / n, "count"),
        "ops.action_s": (sum(s.action_s for s in ok) / n, "s"),
        "ops.action_jobs": (sum(s.action_jobs for s in ok) / n, "count"),
        "spark.tasks": (total.tasks / n, "count"),
        "spark.executor_run_s": (total.run_s / n, "s"),
        "spark.executor_cpu_s": (total.cpu_s / n, "s"),
        "spark.scheduler_delay_s": (total.scheduler_delay_s / n, "s"),
        "spark.shuffle_read_bytes": (total.shuffle_read_bytes / n, "B"),
        "spark.shuffle_write_bytes": (total.shuffle_write_bytes / n, "B"),
        "spark.spill_bytes": (total.spill_bytes / n, "B"),
        "spark.gc_s": (total.gc_s / n, "s"),
        "trace.overhead_s": (statistics.median(traced.cycle_s)
                             - statistics.median(plain.cycle_s), "s"),
    })
    return m


def per_op_phase_lines(traced) -> list[str]:
    by: dict[str, list] = {}
    for s in traced.samples:
        if not s.error:
            by.setdefault(s.op.name, []).append(s)
    lines = []
    for name, ss in by.items():
        lines.append(
            f"phase {name} build_s {statistics.median(s.build_s for s in ss):.6g}"
            f" build_jobs {statistics.median(s.build_jobs for s in ss):g}"
            f" action_s {statistics.median(s.action_s for s in ss):.6g}"
            f" action_jobs {statistics.median(s.action_jobs for s in ss):g}")
    return lines


def environment(spark, args, cpus: int) -> dict:
    import numpy
    import pyarrow

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "spark": spark.version,
        "arrow": pyarrow.__version__, "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="input sizes; 'small' is the smoke-test shape")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spark_iqmulus_spark")):
        print(f"perfbench: no spark_iqmulus_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = cpu_count()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cpus, bool(args.trace))
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    try:
        result, lines = run(args, work, cpus, W.SIZES[args.size])
    finally:
        signal.alarm(0)
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
