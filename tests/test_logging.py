"""Diagnostics go through ``logging``, never ``print``.

Package warnings use module loggers at WARNING level, which Python's
last-resort handler prints to stderr when the application configures no
logging, so they stay visible by default and can be filtered or routed
like any other log record.
"""

from __future__ import annotations

import io
import logging
import pathlib
import tokenize

import spark_iqmulus_spark

from .fixtures import make_las


def test_package_has_no_print_outside_vendor():
    root = pathlib.Path(spark_iqmulus_spark.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        if "_vendor" in path.relative_to(root).parts:
            continue
        toks = list(tokenize.generate_tokens(io.StringIO(path.read_text()).readline))
        for tok, nxt in zip(toks, toks[1:]):
            if tok.type == tokenize.NAME and tok.string == "print" and nxt.string == "(":
                calls.append(f"{path.relative_to(root)}:{tok.start[0]}")
    assert not calls, f"print( calls outside _vendor: {calls}"


def test_fused_write_debug_trace_is_a_warning(spark, tmp_path, caplog):
    """``fusedWriteDebug`` says why a write took the general sink, at
    WARNING, so the trace shows without any logging configuration."""
    src = tmp_path / "tiles"
    src.mkdir()
    make_las(str(src / "tile_a.las"), n=2000, fmt=1)
    df = spark.read.format("las").load(str(src)).limit(5)
    with caplog.at_level(logging.WARNING):
        df.write.format("las").option("fusedWriteDebug", "true").mode(
            "overwrite"
        ).save(str(tmp_path / "out"))
    hits = [
        r for r in caplog.records
        if r.name == "spark_iqmulus_spark.sources.fused_write"
        and "general sink" in r.getMessage()
    ]
    assert hits and hits[0].levelno == logging.WARNING
