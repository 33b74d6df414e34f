"""Capture .explain('formatted') for declared registry keys into plans/<out_subdir>/.

Usage: python tools/explain.py <out_subdir> <tag> <key> [<key> ...]
Writes plans/<out_subdir>/<key>_<tag>.txt for each key (tag = before|after),
e.g. ``python tools/explain.py r14 after q_las_meta``.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    out_subdir, tag, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    from spark_iqmulus_spark.registry import all_queries
    from spark_iqmulus_spark.session import get_spark
    from spark_iqmulus_spark.sources import register_sources

    qs = all_queries()
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    register_sources(spark)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", out_subdir
    )
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        fn = qs[key]
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{key}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {key} @ {SF_DIR} — {tag}\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
