"""Multi-session interleaved benchmark protocol (VERDICT r10 item 4).

The short I/O-bound extras (``bench_las_transcode``, ``bench_ply_transcode``)
see cross-SESSION offsets up to ~2× that are pure environment (page cache,
noisy neighbors — BASELINE.md §round-6 bisect), so a baseline frozen from
one lucky session generates a false 2×-gate alarm every round.  This tool
scripts the protocol the round-9/round-10 hand-run A/Bs used, turned into a
re-freeze measurement:

- **K fresh sessions** (subprocesses, default 3): each pays its own JVM
  start and OS cache state, so the aggregate sees the session-to-session
  distribution instead of one draw;
- **interleaved within a session**: samples alternate metric A, metric B,
  A, B, … (not block-wise), so slow drift within the session hits both
  metrics equally — the round-6 bisect protocol's core move;
- **median of session medians** is the headline (robust to one bad
  session), with the POOLED across-session IQR as the noise band for the
  2× gate.

Usage::

    python tools/ab.py                      # 3 sessions, the 2 transcode metrics
    python tools/ab.py --sessions 5 --runs 7
    python tools/ab.py --metrics bench_las_transcode

Prints one JSON line per session (from the child) and a final aggregate
block to paste into BASELINE.md.  Code-level A/B between two revisions
(alternating ``importlib.reload`` of a module at two checkouts) remains
the manual protocol documented in BASELINE.md §round-10 — this tool fixes
the *session* axis, which is where the stale freezes came from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_METRICS = ["bench_las_transcode", "bench_ply_transcode"]
KNOWN_METRICS = DEFAULT_METRICS + [
    "bench_write_roundtrip",
    # round 12: the computed-column (re-grid) write, fused vs the
    # fusedWrite=false general sink — the A/B pair quantifies the
    # Arrow-hop cost the exprprog replay removed
    "bench_las_regrid",
    "bench_las_regrid_general",
    # round 14 (VERDICT r13 next #1): the two driver-bench extras whose
    # r12→r13 delta is disputed drift-vs-regression — same construction
    # as bench.py (fresh DataFrame per run, .collect()), data from
    # $SPARK_GRAFT_SF_DIR
    "bench_dedup_minhash",
    "bench_sim_lsh",
    # the other user of the LSH signature kernel (not a bench.py metric)
    "bench_dedup_embed_lsh",
]
#: the metrics that read the generated point-cloud fixtures
PC_METRICS = {
    "bench_las_transcode",
    "bench_ply_transcode",
    "bench_write_roundtrip",
    "bench_las_regrid",
    "bench_las_regrid_general",
}
N_POINTS = int(os.environ.get("SPARK_GRAFT_PC_POINTS", "600000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _child(metrics: list[str], runs: int) -> None:
    """One fresh session: :func:`_samples`, then print one JSON line.  The
    fixture directory is removed however the session ends."""
    sys.path.insert(0, REPO)
    from spark_iqmulus_spark.session import get_spark
    from spark_iqmulus_spark.sources import register_sources

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("ab", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    register_sources(spark)

    pc_dir = tempfile.mkdtemp(prefix="ab_pc_")
    try:
        samples = _samples(spark, pc_dir, metrics, runs)
    finally:
        shutil.rmtree(pc_dir, ignore_errors=True)
    print(json.dumps({"samples": samples}))
    spark.stop()


def _samples(spark, pc_dir: str, metrics: list[str], runs: int) -> dict:
    """Build the point-cloud fixtures in ``pc_dir`` if a metric reads them,
    1 warm-up each, then ``runs`` INTERLEAVED samples per metric."""
    from tests.fixtures import make_las, make_ply_xyz

    las_path = os.path.join(pc_dir, "bench.las")
    ply_path = os.path.join(pc_dir, "bench.ply")
    if PC_METRICS.intersection(metrics):
        make_las(las_path, n=N_POINTS, fmt=1)
        make_ply_xyz(ply_path, n=N_POINTS)

    from spark_iqmulus_spark.sources.transcode import (
        transcode_las,
        transcode_ply,
    )

    def write_roundtrip():
        out = os.path.join(pc_dir, "rt_las")
        df = spark.read.format("las").load(las_path)
        df.write.format("las").mode("overwrite").save(out)
        assert spark.read.format("las").load(out).count() == N_POINTS

    from spark_iqmulus_spark.functions.scaled import regrid

    def las_regrid(fused: bool):
        out = os.path.join(pc_dir, "rg_fused" if fused else "rg_general")
        w = (
            regrid(spark.read.format("las").load(las_path), (0.002,) * 3)
            .write.format("las")
            .mode("overwrite")
            .option("scale", "0.002,0.002,0.002")
            .option("offset", "0,0,0")
        )
        if not fused:
            w = w.option("fusedWrite", "false")
        w.save(out)

    from spark_iqmulus_spark.operators import dedup, similarity

    fns = {
        "bench_dedup_minhash": lambda: dedup.q_dedup_minhash(
            spark, SF_DIR
        ).collect(),
        "bench_sim_lsh": lambda: similarity.q_sim_knn_lsh(
            spark, SF_DIR
        ).collect(),
        "bench_dedup_embed_lsh": lambda: dedup.q_dedup_embed_lsh(
            spark, SF_DIR
        ).collect(),
        "bench_las_transcode": lambda: transcode_las(
            spark, las_path, os.path.join(pc_dir, "tc.las")
        ),
        "bench_ply_transcode": lambda: transcode_ply(
            spark, ply_path, os.path.join(pc_dir, "tc.ply")
        ),
        "bench_write_roundtrip": write_roundtrip,
        "bench_las_regrid": lambda: las_regrid(True),
        "bench_las_regrid_general": lambda: las_regrid(False),
    }
    picked = {m: fns[m] for m in metrics}
    for fn in picked.values():  # one warm-up each
        fn()
    samples: dict[str, list[float]] = {m: [] for m in picked}
    for _ in range(runs):  # interleave: A, B, A, B, ...
        for m, fn in picked.items():
            t0 = time.perf_counter()
            fn()
            samples[m].append(round(time.perf_counter() - t0, 4))
    return samples


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sessions", type=int, default=3)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument(
        "--metrics", default=",".join(DEFAULT_METRICS),
        help="comma-separated metric names",
    )
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    metrics = [m for m in args.metrics.split(",") if m]
    unknown = [m for m in metrics if m not in KNOWN_METRICS]
    if unknown:
        print(f"unknown metrics {unknown}; have {KNOWN_METRICS}", file=sys.stderr)
        return 2

    if args.child:
        _child(metrics, args.runs)
        return 0

    per_session: dict[str, list[list[float]]] = {m: [] for m in metrics}
    for i in range(args.sessions):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child",
             "--metrics", ",".join(metrics), "--runs", str(args.runs)],
            capture_output=True, text=True, cwd=REPO,
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if out.returncode != 0 or not line:
            print(f"session {i}: FAILED\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        got = json.loads(line[-1])["samples"]
        for m in metrics:
            per_session[m].append(got[m])
        print(f"session {i}: " + json.dumps(got))

    agg = {}
    for m in metrics:
        session_medians = [
            round(statistics.median(s), 4) for s in per_session[m]
        ]
        pooled = sorted(x for s in per_session[m] for x in s)
        if len(pooled) >= 2:
            q = statistics.quantiles(pooled, n=4)
            iqr = [round(q[0], 4), round(q[2], 4)]
        else:  # --sessions 1 --runs 1 smoke: no quartiles from one sample
            iqr = [pooled[0], pooled[0]]
        agg[m] = {
            "session_medians": session_medians,
            "median_of_medians": round(statistics.median(session_medians), 4),
            "pooled_iqr": iqr,
            "n_sessions": args.sessions,
            "runs_per_session": args.runs,
        }
    print(json.dumps({"refreeze": agg}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
