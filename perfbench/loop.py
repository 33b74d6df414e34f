"""One benchmark run: set-up, a warm-up pass, then closed-loop cycles.

A cycle is one pass over the workload's operation sequence with a single
client: each operation starts only after the previous one has finished
and been checked.  Cycles repeat until the time budget is spent; only
whole cycles run, so every operation has the same number of samples.
"""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass, field

from tracing import Tracer
from workloads import Op, Workload

#: warm set-ups per run; setup_s is their median
WARM_SETUPS = 3


def perf() -> float:
    return time.perf_counter()


@dataclass
class Setup:
    spark: object
    cold_s: float
    setup_s: float
    parts: dict[str, float]  # medians of get_spark / register / first load
    #: stopped sessions stay referenced: the package keys a table cache on
    #: id(spark._jsparkSession), and a recycled id would alias a dead one
    stopped: list = field(default_factory=list)


def start_session(cpus: int):
    from spark_iqmulus_spark.session import get_spark
    from spark_iqmulus_spark.sources import register_sources

    t0 = perf()
    spark = get_spark("perfbench", cpus=cpus)
    t1 = perf()
    register_sources(spark)
    t2 = perf()
    return spark, {"get_spark_s": t1 - t0, "register_sources_s": t2 - t1}


def set_up(workload: Workload, cpus: int) -> Setup:
    """Time session start + ``register_sources`` + the first load, once
    cold (JVM launch included) and ``warm`` times after a session stop."""
    samples = []
    stopped = []
    spark = None
    for _ in range(WARM_SETUPS + 1):
        if spark is not None:
            stopped.append(spark)
            spark.stop()
        t0 = perf()
        spark, parts = start_session(cpus)
        t1 = perf()
        workload.first_load(spark)
        parts["first_load_s"] = perf() - t1
        parts["total"] = perf() - t0
        samples.append(parts)
    warm_samples = samples[1:]
    med = {k: statistics.median(s[k] for s in warm_samples) for k in samples[0]}
    return Setup(spark, samples[0]["total"], med.pop("total"), med, stopped)


@dataclass
class OpSample:
    op: Op
    latency_s: float
    error: str | None
    build_s: float = 0.0
    action_s: float = 0.0
    build_jobs: int = 0
    action_jobs: int = 0


@dataclass
class Cycles:
    samples: list[OpSample] = field(default_factory=list)
    cycle_s: list[float] = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(1 for s in self.samples if s.error)

    def failures(self) -> list[str]:
        return [f"{s.op.name}: {s.error}" for s in self.samples if s.error]


def _short(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {text[0][:300] if text else ''}"


def run_op(op: Op, tracer: Tracer | None = None, trace_id: str = "") -> OpSample:
    t0 = perf()
    try:
        if tracer is None:
            res = op.act(op.build())
            b = a = None
        else:
            parent = tracer.open(op.name, trace_id)
            df, b = tracer.span(f"{op.name}.build", trace_id, parent.span_id, op.build)
            res, a = tracer.span(f"{op.name}.action", trace_id, parent.span_id, op.act, df)
        error = op.check(res)
    except Exception as exc:  # a failed operation is counted, never dropped
        error, b, a = _short(exc), None, None
    latency = perf() - t0
    if tracer is not None:
        parent.end = parent.start + latency
    s = OpSample(op, latency, error)
    if b is not None and a is not None:
        s.build_s, s.build_jobs = b.end - b.start, b.jobs
        s.action_s, s.action_jobs = a.end - a.start, a.jobs
    return s


def run_cycles(ops: list[Op], seconds: float,
               tracer: Tracer | None = None) -> tuple[Cycles, Cycles]:
    """Whole cycles for ``seconds``; returns (untraced, traced).

    With a ``tracer``, untraced and traced cycles run in one session in the
    order untraced, traced, traced, untraced, so both halves see the same
    JIT and cache state and neither always follows the warm-up.  Another
    cycle (or group of four) starts only if, at the median cycle time so
    far, it ends closer to the budget than stopping now; at least two
    cycles (one group) run."""
    halves = (Cycles(), Cycles())
    step = 4 if tracer else 1
    start = perf()
    i = 0
    while True:
        traced = tracer is not None and i % 4 in (1, 2)
        out = halves[traced]
        t0 = perf()
        for op in ops:
            out.samples.append(run_op(op, tracer if traced else None, f"cycle{i}"))
        out.cycle_s.append(perf() - t0)
        i += 1
        if i >= max(2, step) and i % step == 0:
            median = statistics.median(halves[0].cycle_s + halves[1].cycle_s)
            if perf() - start + step * median / 2 > seconds:
                return halves


def warm_up(ops: list[Op]) -> Cycles:
    """One pass over each distinct operation, checked but left out of the
    timings: the first run in a session pays Python worker start-up and
    JVM code generation."""
    out = Cycles()
    for op in {id(op): op for op in ops}.values():
        out.samples.append(run_op(op))
    return out


# -- statistics ----------------------------------------------------------------


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def per_op_medians(c: Cycles) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in c.samples:
        if not s.error:
            by.setdefault(s.op.name, []).append(s.latency_s)
    return {k: statistics.median(v) for k, v in by.items()}


def report(c: Cycles) -> dict[str, tuple[float, str]]:
    """Every end-to-end figure that applies to the workload's operation
    kinds, as {name: (value, unit)}."""
    out: dict[str, tuple[float, str]] = {}
    ok = [s for s in c.samples if not s.error]
    for kind, prefix in (("scan", "scan"), ("meta", "meta"), ("write", "write")):
        lat = [s.latency_s for s in ok if s.op.kind == kind]
        if lat:
            out[f"{prefix}_p50_s"] = (statistics.median(lat), "s")
            out[f"{prefix}_p90_s"] = (p90(lat), "s")
            out[f"{prefix}_samples"] = (len(lat), "count")
    kind_of = {s.op.name: s.op.kind for s in c.samples}
    sql = [m for name, m in per_op_medians(c).items() if kind_of[name] == "sql"]
    if sql:
        out["sql_geomean_s"] = (geomean(sql), "s")
    for kind, name in (("scan", "read_pts_per_s"), ("write", "write_pts_per_s")):
        sel = [s for s in ok if s.op.kind == kind]
        if sel:
            out[name] = (sum(s.op.points for s in sel) / sum(s.latency_s for s in sel),
                         "pts/s")
    out["fail_ratio"] = (c.failed / max(1, c.attempted), "ratio")
    return out
