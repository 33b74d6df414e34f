"""``session.load_tables``'s table cache across a session restart in one
process: a stopped session's DataFrames must never be returned to its
successor, and its entries must be dropped.

Runs in a subprocess: stopping the shared test session would break every
later test in this pytest process.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"


def test_load_tables_after_session_restart_is_strict():
    code = f"""
        import gc, sys
        sys.path.insert(0, {ROOT!r})
        sys.path.insert(0, {os.path.join(ROOT, "tools")!r})
        import check
        from spark_iqmulus_spark import session

        spark = session.get_spark("restart", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        session.load_tables(spark, {SF!r})
        spark.stop()
        del spark
        gc.collect()
        # check.main starts a new get_spark session and runs the key
        # through load_tables against the DuckDB oracle, strict
        sys.argv = ["check.py", "--strict", {SF!r}, "q_agg_group"]
        check.main()
        print("cached sessions", len({{sid for sid, _ in session._TABLE_CACHE}}))
    """
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    assert "1 pass, 0 fail, 0 rows-only" in lines, proc.stdout[-4000:]
    # the stopped session's tables were dropped when the new one loaded
    assert lines[-1] == "cached sessions 1", proc.stdout[-4000:]
