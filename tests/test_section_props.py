"""Property-based tests for the vectorized binary-section decode (A4/A5/A9)
and record-aligned split planning.

Random field layouts (signed/unsigned ints, floats, both endiannesses,
optional nodata sentinels) are serialized with numpy ground truth and must
come back bit-exact through ``BinarySection.read_batch`` — including the
unsigned→signed bit-preserving view, nodata→null masking, provenance
columns, and sub-range reads.  Pure Python: no SparkSession.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
from hypothesis import given, settings, strategies as st

from spark_iqmulus_spark.sources.binary_section import (
    BinarySection,
    SectionField,
    plan_record_ranges,
    signed_char,
)

_CHARS = ["i1", "u1", "i2", "u2", "i4", "u4", "i8", "u8", "f4", "f8"]
_name = st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8)


@st.composite
def layouts(draw):
    n_fields = draw(st.integers(min_value=1, max_value=6))
    used: set[str] = set()
    fields = []
    for _ in range(n_fields):
        nm = draw(_name.filter(lambda s: s not in used))
        used.add(nm)
        ch = draw(st.sampled_from(_CHARS))
        nodata = None
        if ch not in ("f4", "f8") and draw(st.booleans()):
            nodata = draw(st.integers(min_value=0, max_value=100))
        fields.append(SectionField(nm, ch, nodata=nodata))
    return (
        fields,
        draw(st.booleans()),  # little_endian
        draw(st.integers(min_value=0, max_value=200)),  # record count
        draw(st.integers(min_value=0, max_value=64)),  # leading junk bytes
    )


def _random_values(rng, ch: str, n: int) -> np.ndarray:
    if ch.startswith("f"):
        return rng.standard_normal(n).astype(ch)
    info = np.iinfo(np.dtype(ch))
    # full storage range, including values whose top bit is set (the
    # unsigned→signed bit-preserving view must keep them exact)
    return rng.integers(info.min, int(info.max) + 1, size=n, dtype=ch)


@settings(max_examples=50, deadline=None)
@given(layouts(), st.integers(min_value=0, max_value=2**32))
def test_read_batch_roundtrip(layout, seed):
    fields, little, count, junk = layout
    rng = np.random.default_rng(seed)
    prefix = "<" if little else ">"
    dtype = np.dtype([(f.name, prefix + f.np_char) for f in fields])
    arr = np.empty(count, dtype=dtype)
    for f in fields:
        arr[f.name] = _random_values(rng, f.np_char, count)

    fd, path = tempfile.mkstemp(suffix=".bin")
    try:
        with os.fdopen(fd, "wb") as out:
            out.write(b"\xab" * junk)  # section starts mid-file
            out.write(arr.tobytes())
        section = BinarySection(
            path=path,
            offset=junk,
            count=count,
            stride=dtype.itemsize,
            little_endian=little,
            fields=fields,
        )
        # random record sub-range (split shape), like a real partition
        start = rng.integers(0, count + 1)
        n = rng.integers(0, count - start + 1)
        batch = section.read_batch(int(start), int(n), fid=7)

        assert batch.num_rows == n
        assert batch.schema.names[:2] == ["fid", "pid"]
        assert batch.column(0).to_pylist() == [7] * n
        assert batch.column(1).to_pylist() == list(range(start, start + n))
        for f in fields:
            col = batch.column(batch.schema.names.index(f.name))
            want_raw = arr[f.name][start : start + n]
            if not little:
                want_raw = want_raw.astype(want_raw.dtype.newbyteorder("<"))
            target = signed_char(f.np_char)
            if target != f.np_char:
                want_raw = want_raw.view(np.dtype("<" + target))
            got = col.to_pylist()
            for i in range(int(n)):
                if f.nodata is not None and arr[f.name][start + i] == f.nodata:
                    assert got[i] is None
                elif f.np_char.startswith("f"):
                    assert got[i] == float(want_raw[i]) or (
                        np.isnan(want_raw[i]) and got[i] != got[i]
                    )
                else:
                    assert got[i] == int(want_raw[i])
    finally:
        os.remove(path)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**7),
    st.integers(min_value=1, max_value=512),
    st.integers(min_value=1, max_value=1 << 24),
)
def test_plan_record_ranges_partition(count, stride, target):
    """Ranges tile [0, count) exactly: disjoint, ordered, record-aligned."""
    ranges = plan_record_ranges(count, stride, target)
    pos = 0
    for start, n in ranges:
        assert start == pos and n > 0
        pos += n
    assert pos == count
    if ranges[:-1]:
        # every non-final split honors the byte target within one record
        for _, n in ranges[:-1]:
            assert n * stride <= max(target, stride)


def test_short_read_warns_once_per_file(caplog):
    """ADVICE r11: a truncated file read across many partitions logs ONE
    warning per worker process, not one per read_batch call."""
    from spark_iqmulus_spark.sources import binary_section as bs

    caplog.set_level("WARNING", logger=bs.__name__)

    fields = [SectionField("v", "i4")]
    arr = np.arange(100, dtype="<i4")
    fd, path = tempfile.mkstemp(suffix=".bin")
    try:
        with os.fdopen(fd, "wb") as out:
            out.write(arr.tobytes()[: 40 * 4])  # header will claim 100
        section = BinarySection(
            path=path, offset=0, count=100, stride=4,
            little_endian=True, fields=fields,
        )
        bs._WARNED_SHORT_PATHS.difference_update(
            {k for k in bs._WARNED_SHORT_PATHS if k[0] == path}
        )
        # three partitions: one partially short, two entirely past EOF
        b1 = section.read_batch(30, 20, fid=0, allow_short=True)
        b2 = section.read_batch(50, 25, fid=0, allow_short=True)
        b3 = section.read_batch(75, 25, fid=0, allow_short=True)
        assert (b1.num_rows, b2.num_rows, b3.num_rows) == (10, 0, 0)
        err = caplog.text
        assert err.count("data section is short") == 1
        assert path in err
        # ADVICE r12: the warn-once key includes mtime/size, so the SAME
        # path rewritten (truncated differently) warns again
        with open(path, "wb") as out:
            out.write(arr.tobytes()[: 20 * 4])
        os.utime(path, ns=(1, 1))  # force a distinct mtime_ns
        caplog.clear()
        b4 = section.read_batch(0, 100, fid=0, allow_short=True)
        assert b4.num_rows == 20
        err2 = caplog.text
        assert err2.count("data section is short") == 1
    finally:
        bs._WARNED_SHORT_PATHS.difference_update(
            {k for k in bs._WARNED_SHORT_PATHS if k[0] == path}
        )
        os.unlink(path)
