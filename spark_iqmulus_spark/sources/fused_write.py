"""Transparent fused fast path for ``df.write.format("las")``.

The general Python-DataSource sink pays the JVM→Python Arrow hop twice
(scan side and write side) — a measured ~12 s floor at 30M points that no
writer code can remove (SCALE.md §write).  But the dominant write shapes —
``read → write`` (copy/merge) and ``read → filter → write`` (las2las) —
never need the points in the JVM at all: the fused ``transcode_*`` byte
path covers them at ~7× the throughput.

This module makes stock ``df.write.format("las").save(out)`` take that
byte path AUTOMATICALLY when — and only when — it is provably equivalent
to the general sink:

- the optimized logical plan is exactly ``RelationV2[las]``, optionally
  under a ``Filter`` and/or a pure-column ``Project`` (the column-subset
  shape: LAS re-encodes onto the smallest standard point format covering
  the names, zero-filling the rest exactly like the general sink;
  PLY/PCD layouts are self-describing, so their output record is exactly
  the projected properties in schema order — including pure RENAMES
  (``.alias``/``withColumnRenamed``), which LAS declines because its
  field names are fixed by the point format; COMPUTED columns fuse when
  exprprog can replay them bit-exactly — the LAS x/y/z re-grid (round
  11) and, round 12, PLY/PCD recenter/rescale shapes over the same-named
  source property (int/float/double-rooted); joins, aggs, unions,
  unreplayable expressions — anything else — falls back);
- every filter conjunct is ``column <op> numeric-literal`` (op in
  ``= != < <= > >=``; widening casts of the column allowed — they are
  value-preserving on LAS's integer fields), translated to the
  transcoder's ``where`` clauses, which use the same world-coordinate
  arithmetic as the reader;
- the write options carry nothing but path/mode (an explicit ``scale``,
  ``offset``, ``namecol``, ``lasformat``, ``minor`` … means the user wants
  re-encoding — general sink);
- the source headers match what the general sink would write back:
  uniform layout, writer-default grid (scale 0.01, offset 0), version
  minor 2, point format < 6 re-derivable from the schema, standard stride
  (a nonstandard ``pdr_length`` means undescribed trailing bytes the two
  paths treat differently);
- output naming is the sink's fid-restore convention exactly — both call
  ``pointcloud_common.restore_names`` (source basenames, ``-fidN`` on
  collisions) on the SAME ``fid`` paths metadata, and all-filtered sources
  emit nothing.  Uniformity and the truncation guard are the transcoder's
  own layout rules (``transcode._Las``/``_Ply``/``_Pcd``).

The rewrite is installed by ``register_sources`` via
``install_fused_write()`` — the same opt-in surface that registers the
formats, so a session that can read ``las`` writes it fused.  Any doubt at
analysis time falls back to the general sink silently and side-effect
free; ``.option("fusedWrite", "false")`` disables the rewrite explicitly
(the equivalence tests use it to run both paths).

This is the write-side sibling of the transparent header answers in
``plans/fused_read.py`` (SURVEY §1.4 A15), and both decline through the
same whole-file guard (``transcode.whole_headers``): pure Python cannot
inject a Catalyst strategy, so the planner-level
rewrite the reference does in Scala is expressed at the API layer —
inspecting the *optimized* plan through the py4j gateway, which sees
exactly what a strategy would see.
"""

from __future__ import annotations

import functools
import logging
import os

_log = logging.getLogger(__name__)

#: ops the transcoder understands, keyed by Catalyst expression class.
_CMP = {
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "EqualTo": "==",
}
#: flipped op for literal-on-the-left conjuncts (3 <= x  ≡  x >= 3).
_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "==": "=="}

#: write options that do NOT disqualify the rewrite.
_NEUTRAL_WRITE_OPTS = {"path", "fusedwrite", "fusedwritedebug", "manifest"}

#: why the last ``plan_fused_save`` declined (driver-side, analysis only).
#: Surfaced by ``.option("fusedWriteDebug", "true")`` / the
#: SPARK_GRAFT_FUSED_DEBUG env var so an unexpected fall-back to the ~12 s
#: Arrow-hop general sink is diagnosable (VERDICT r9 wrong #2).
_LAST_DECLINE: str | None = None


def _no(reason: str):
    """Record why the fused path declined and return None (the decline)."""
    global _LAST_DECLINE
    _LAST_DECLINE = reason
    return None


def _simple(jobj) -> str:
    return jobj.getClass().getSimpleName()


def _conjuncts(cond):
    """Flatten an And tree into its leaves."""
    if _simple(cond) == "And":
        cs = cond.children()
        yield from _conjuncts(cs.apply(0))
        yield from _conjuncts(cs.apply(1))
    else:
        yield cond


#: value-preserving numeric widenings (source simpleString → targets).
#: Stripping a Cast is only sound when every source value maps injectively
#: and order-preservingly into the target type, so ``cast(col) <op> lit``
#: answers identically to ``col <op> lit`` on the stored values.  Lossy
#: casts (int→float, bigint→double, any narrowing) are NOT here — the
#: optimizer leaves them in the plan and the fused path must fall back
#: (ADVICE r9: a narrowing cast silently changed the emitted rows).
_WIDEN = {
    "tinyint": {"tinyint", "smallint", "int", "bigint", "float", "double"},
    "smallint": {"smallint", "int", "bigint", "float", "double"},
    "int": {"int", "bigint", "double"},
    "bigint": {"bigint"},
    "float": {"float", "double"},
    "double": {"double"},
}


def _attr_name(e):
    """Column name if ``e`` is an attribute (possibly under value-preserving
    widening casts), else None.  A narrowing or lossy cast (e.g.
    ``col.cast('tinyint')``) changes comparison semantics → None, so the
    caller falls back to the general sink."""
    while _simple(e) == "Cast":
        child = e.children().apply(0)
        src = str(child.dataType().simpleString())
        dst = str(e.dataType().simpleString())
        if dst not in _WIDEN.get(src, ()):
            return None
        e = child
    if _simple(e) == "AttributeReference":
        return str(e.name())
    return None


def _literal_value(e):
    """Python numeric value if ``e`` is a numeric literal, else None."""
    if _simple(e) != "Literal":
        return None
    v = e.value()
    # py4j converts Byte/Short/Integer/Long/Float/Double to Python
    # int/float; anything else (Decimal, UTF8String, null) is not a plain
    # numeric and disqualifies the conjunct
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    return v


def _translate_filter(cond):
    """Catalyst condition → transcoder ``where`` clauses, or None if any
    conjunct is not a plain column-vs-numeric comparison."""
    clauses = []
    for c in _conjuncts(cond):
        cls = _simple(c)
        if cls == "Not":
            inner = c.children().apply(0)
            if _simple(inner) != "EqualTo":
                return None
            kids = inner.children()
            lhs, rhs = kids.apply(0), kids.apply(1)
            name, val = _attr_name(lhs), _literal_value(rhs)
            if name is None or val is None:
                name, val = _attr_name(rhs), _literal_value(lhs)
            if name is None or val is None:
                return None
            clauses.append((name, "!=", val))
            continue
        op = _CMP.get(cls)
        if op is None:
            return None
        kids = c.children()
        lhs, rhs = kids.apply(0), kids.apply(1)
        name, val = _attr_name(lhs), _literal_value(rhs)
        if name is not None and val is not None:
            clauses.append((name, op, val))
            continue
        name, val = _attr_name(rhs), _literal_value(lhs)
        if name is not None and val is not None:
            clauses.append((name, _FLIP[op], val))
            continue
        return None
    return clauses


#: read options that cannot change the scan's OUTPUT (only its planning),
#: so a relation carrying them is still byte-equivalent to the raw files.
#: ``columns`` (in-scan pruning) is handled separately as the read-option
#: spelling of a projection; ``ignorecorruptfiles`` (skips files the
#: transcoder would read) changes the output → general sink; ``manifest``
#: is a stats hint the scan itself ignores (plans/fused_read.py).
_NEUTRAL_READ_OPTS = {
    "path", "paths", "pushdown", "partition_bytes", "partitionbytes",
    "manifest",
}


def _extract_scan_filter(df):
    """``(source_name, where_clauses, projected_columns, computed)`` when
    the optimized plan is exactly a (possibly projected and/or filtered)
    full scan of one of our Python data sources with output-neutral read
    options, else None.  ``projected_columns`` is None for a full-width
    scan, else ``[(out_name, src_name)]`` pairs of a pure-column Project —
    a plain attribute yields ``out == src``; an ``Alias`` over an
    attribute (``withColumnRenamed`` / ``.alias``) yields the rename.
    ``computed`` maps an ``x``/``y``/``z`` output column to an exprprog
    program (sources/exprprog.py) when its Alias carries a replayable
    arithmetic expression over the SAME-named int source column — the
    re-grid shape; such a column also appears in ``projected_columns`` as
    ``(name, name)``.  Any other computed expression disqualifies (no
    byte-level equivalent).  Catalyst pushes deterministic predicates
    below a Project, so the only shapes are Scan, Filter(Scan),
    Project(Scan), Project(Filter(Scan)).  Analysis only — no side
    effects."""
    from .exprprog import extract_program_any

    try:
        plan = df._jdf.queryExecution().optimizedPlan()
    except Exception as exc:
        return _no(f"optimized plan unavailable: {exc!r}")
    where = []
    projected = None
    computed = {}
    node = plan
    if node.nodeName() == "Project":
        pairs = []
        pl = node.projectList()
        for i in range(pl.size()):
            e = pl.apply(i)
            if _simple(e) == "Alias":
                child = e.child()
                if _simple(child) == "AttributeReference":
                    pairs.append((str(e.name()), str(child.name())))
                    continue
                name = str(e.name())
                got = extract_program_any(child)
                if got is None:
                    return _no(
                        f"projection computes {name!r} with an expression"
                        " the byte path cannot replay (only double"
                        " arithmetic over stored source columns,"
                        " round(·, 0), and an optional final int/float"
                        " cast qualify)"
                    )
                computed[name] = got  # (program, out_char, ansi_or_None)
                pairs.append((name, name))
                continue
            if _simple(e) != "AttributeReference":
                return _no(
                    "projection contains a computed column (no byte-level"
                    " equivalent)"
                )
            pairs.append((str(e.name()), str(e.name())))
        outs = [o for o, _ in pairs]
        if len(set(outs)) != len(outs):
            return _no("projection repeats an output column")
        projected = pairs
        node = node.children().apply(0)
    if node.nodeName() == "Filter":
        where = _translate_filter(node.condition())
        if where is None:
            return _no(
                "filter has a conjunct that is not column-vs-numeric-literal"
                " (or carries a lossy cast)"
            )
        node = node.children().apply(0)
    if node.nodeName() != "DataSourceV2ScanRelation":
        return _no(f"plan is not a bare scan (found {node.nodeName()})")
    rel = node.relation()
    table = rel.table()
    if not table.getClass().getName().endswith("PythonTable"):
        return _no("scan relation is not one of our Python data sources")
    source = str(table.name())
    # a read option like columns= prunes INSIDE the source (no Project
    # node), so the plan shape alone can't prove full output — gate on the
    # relation's option keys
    pruned_scan = False
    it = rel.options().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        k = str(e.getKey()).lower()
        if k == "columns":
            # in-scan pruning is the read-option spelling of a projection:
            # the scan's (and hence the write's) columns are the pruned
            # set, which the projected byte path reproduces exactly
            pruned_scan = True
            continue
        if (
            k == "ignorecorruptfiles"
            and str(e.getValue()).strip().lower() == "false"
        ):
            # explicit fail-fast is output-neutral for the write gate: the
            # scan equals the raw files or RAISES, and every raise case
            # already declines (header-parse catch, truncation stat-guard)
            # so the general sink surfaces the same failure.  TRUE
            # (skip/partial) stays disqualifying.  Keeps the fused write
            # live under the conf bridge (sources/conf_bridge.py).
            continue
        if k not in _NEUTRAL_READ_OPTS:
            return _no(f"read option {k!r} can change the scan output")
    # with no Project, the relation's full output is written — double-check
    # arity; with a Project, the DataFrame's columns ARE the projection
    if projected is None and node.output().size() != len(df.columns):
        return _no("scan output arity != DataFrame columns")
    if pruned_scan and projected is None:
        projected = [(c, c) for c in df.columns]
    return source, where, projected, computed


def _fid_paths(schema):
    """Source paths from the ``fid`` column's metadata — the same input the
    writer's fid-restore naming uses — or None."""
    if "fid" not in schema.names:
        return None
    return list((schema["fid"].metadata or {}).get("paths") or []) or None


def _source_headers(layout, paths):
    """Parse the sources through the transcoder's own layout, its
    whole-file guard and its uniformity rule: ``(headers, endian,
    fields)``, or None (the decline) when a header does not parse, a data
    section is shorter than its header claims or has no fixed stride (the
    byte path would RAISE mid-transcode while the general sink's
    allow_short scan writes the partial records), or the sources are not
    uniform (the general sink re-encodes heterogeneous inputs)."""
    from .transcode import whole_headers

    try:
        headers = whole_headers(layout, paths)
    except Exception:
        return None
    if headers is None:
        return _no(
            "a source's data section is shorter than its header claims or"
            " has no fixed stride (the general sink reads it)"
        )
    try:
        endian, fields = layout.check_uniform(paths, headers)
    except ValueError as exc:
        return _no(f"sources are not byte-uniform: {exc}")
    return headers, endian, fields


def _runner(transcode, ext, overwrite, paths, **kwargs):
    """The ready-to-run closure a planner returns: the sink's commit
    hygiene, then the tiled transcoder over the fid paths."""

    def _run(spark, out_dir):
        from .pointcloud_common import clear_existing_outputs

        os.makedirs(out_dir, exist_ok=True)
        clear_existing_outputs(out_dir, ext, overwrite)
        transcode(spark, paths, out_dir, **kwargs)

    return _run


def _las_fused_plan(
    df, where, path, overwrite, projected=None, computed=None,
    out_grid=None, ansi=True, manifest=True,
):
    """Validate LAS source/writer equivalence and return a ready-to-run
    closure, or None.  Side-effect free until the closure runs.

    ``projected`` (a pure-column Project over the scan — the las2las
    column-subset shape) re-encodes records onto the smallest standard
    point format covering the projected names via
    ``transcode_las_tiled(project=...)``; every projected data column
    must be a STANDARD point field (an ExtraBytes name would make the
    general sink emit an ExtraBytes descriptor this path does not).

    ``computed`` maps x/y/z to exprprog programs (the re-grid las2las
    shape, VERDICT r11 #1) replayed bit-exactly in numpy; ``out_grid``
    is the writer's option grid ``(scale3, offset3)`` the output header
    declares — a NON-computed axis byte-copies its raw values, which is
    only sink-equivalent when the source grid already equals the option
    grid on that axis (the sink passes raw ints through and stamps the
    option grid); a computed axis carries the grid change in its own
    arithmetic, so its source grid is unconstrained.  ``ansi`` picks the
    cast-overflow semantics the general sink's Project would apply."""
    import numpy as np

    from .las_format import POINT_FORMATS, format_from_schema
    from .transcode import _Las, transcode_las_tiled

    computed = computed or {}
    # computed x/y/z must be int32-rooted (the re-grid/transform shape —
    # the scaled-integer columns ARE i4); other targets (reclassify,
    # intensity rescale, gps-time shift) are validated against the source
    # format below, once the headers are parsed
    for name, (_prog, out_char, _m) in computed.items():
        if name in ("x", "y", "z") and out_char != "i4":
            return _no(
                f"computed coordinate {name!r} (storage {out_char!r}) is"
                " not an int32-rooted re-grid/transform expression"
            )
    out_scale, out_offset = out_grid if out_grid else (
        (0.01, 0.01, 0.01), (0.0, 0.0, 0.0)
    )
    schema = df.schema
    paths = _fid_paths(schema)
    if not paths:
        return None
    known = {n for flds in POINT_FORMATS.values() for n, _ in flds}
    project = None
    if projected is not None:
        pairs = [(o, s) for o, s in projected if o not in ("fid", "pid")]
        renamed = [(o, s) for o, s in pairs if o != s]
        if renamed:
            return _no(
                f"renamed columns {renamed} have no LAS byte-path"
                " equivalent (standard point-format field names are fixed)"
            )
        project = [o for o, _ in pairs]
        bad = [c for c in project if c not in known]
        if bad:
            return _no(
                f"projected columns {bad} are not standard LAS point"
                " fields (general sink would write ExtraBytes)"
            )
    got = _source_headers(_Las(), paths)
    if got is None:
        return None
    headers = got[0]
    h0 = headers[0]
    # the general sink stamps its OPTION grid (default 0.01 / 0) while
    # passing raw ints through: a non-computed axis byte-copies, so its
    # source grid must already equal the option grid; a computed axis
    # re-derives its raw values, so its source grid is free (the source
    # scale/offset are baked into the replayed expression's literals).
    # The sink also writes version minor 2 unconditionally.
    # every column a computed program references — and every non-xyz
    # computed TARGET — must be a STANDARD field of the source's own
    # point format: extras carry nodata→NULL read semantics the raw
    # replay cannot reproduce, and an unknown name has no stored bytes.
    # A non-xyz target's program storage must also match the field's own
    # width (the general sink writes the schema value's bits into exactly
    # that storage): i1↔u1/i1, i2↔u2/i2, i4↔u4/i4, f8↔f8
    from .exprprog import program_refs

    fmt_chars = dict(POINT_FORMATS[h0.pdr_format])
    std_fields = set(fmt_chars)
    _WIDTH_OK = {
        "i1": {"i1", "u1"}, "i2": {"i2", "u2"}, "i4": {"i4", "u4"},
        "f4": {"f4"}, "f8": {"f8"},
    }
    for name, (prg, oc, _m) in computed.items():
        bad_refs = program_refs(prg) - std_fields
        if bad_refs:
            return _no(
                f"computed column {name!r} references {sorted(bad_refs)}"
                f" which are not standard fields of point format"
                f" {h0.pdr_format}"
            )
        if name in ("x", "y", "z"):
            continue  # gated above (i4 root; grid carried in the program)
        if name not in std_fields or fmt_chars[name] not in _WIDTH_OK.get(oc, ()):
            return _no(
                f"computed column {name!r} (storage {oc!r}) does not"
                f" match a standard field of point format"
                f" {h0.pdr_format}"
            )
    for ax, name in enumerate("xyz"):
        if name in computed:
            continue
        if h0.scale[ax] != out_scale[ax] or h0.offset[ax] != out_offset[ax]:
            return _no(
                f"source grid for {name!r} ({h0.scale[ax]}, {h0.offset[ax]})"
                f" differs from the writer grid ({out_scale[ax]},"
                f" {out_offset[ax]}) and the column is not re-computed —"
                " the general sink relabels raw values onto its grid"
            )
    if any(h.version_minor != 2 for h in headers):
        return None
    if h0.pdr_format >= 6 or sum(h.pdr_nb for h in headers) >= 2**32:
        return None
    # every projected column must be a field of the SOURCE's own point
    # format — an ExtraBytes field that reuses a standard name from
    # another format (e.g. 'red' on a format-1 source) would make the
    # byte path copy raw stored values where the general sink writes the
    # schema values (nodata→NULL, scale/offset differ) — ADVICE r10
    if project is not None:
        own = {n for n, _ in POINT_FORMATS[h0.pdr_format]}
        not_own = [c for c in project if c not in own]
        if not_own:
            return _no(
                f"projected columns {not_own} are not fields of the"
                f" source's point format {h0.pdr_format} (ExtraBytes"
                " name reuse — general sink semantics differ)"
            )
    # full-width mode: the sink derives the format from the schema's known
    # columns — must round-trip to the source format or the record layout
    # differs (projected mode re-encodes, so the round-trip is not needed)
    if project is None:
        data_names = {n for n in schema.names if n in known}
        try:
            if format_from_schema(data_names) != h0.pdr_format:
                return None
        except Exception:
            return None
    # nonstandard pdr_length carries undescribed trailing bytes: the
    # byte-copy preserves them, the general sink drops them — not
    # equivalent, fall back
    std = np.dtype([(n, "<" + c) for n, c in h0.point_fields]).itemsize
    if std != h0.stride:
        return None
    # the general sink writes extras from the SCHEMA type; an unsigned
    # source descriptor (u2 …) round-trips through Spark as a wider signed
    # type, so the two paths would write different descriptors — fall back.
    # (Projected mode never writes extras — its schema has none, gated
    # above — so the round-trip is moot there.)
    if project is None:
        _spark_to_np = {
            "tinyint": "i1", "smallint": "i2", "int": "i4", "bigint": "i8",
            "float": "f4", "double": "f8",
        }
        for e in h0.extra_fields:
            if e.name not in schema.names:
                return None
            st = schema[e.name].dataType.simpleString()
            if _spark_to_np.get(st) != e.np_char:
                return None
    # every filtered column must be a stored field (fid/pid predicates
    # have no byte-level equivalent)
    field_names = {n for n, _ in h0.point_fields}
    if any(name not in field_names for name, _, _ in where):
        return None
    # the DataFrame's x/y/z are RAW grid int32 (scaled-integer semantics,
    # SURVEY §1.4), but the transcoder's where compares WORLD values —
    # translate thresholds onto the world grid.  Exact under the gated
    # grid: t → offset + scale·t is strictly monotone and injective on the
    # int32 raw range in float64 (products are distinct), so every
    # comparison answers identically on both sides.
    translated = []
    for name, op, val in where:
        if name in ("x", "y", "z"):
            ax = "xyz".index(name)
            val = h0.offset[ax] + h0.scale[ax] * val
        translated.append((name, op, val))
    where = translated
    # per-column cast evalMode, when Catalyst exposed it, wins over the
    # session conf; programs extracted under DIFFERENT modes in one plan
    # cannot share the transcoder's single overflow semantic — fall back
    modes = {m for _, _, m in computed.values() if m is not None}
    if len(modes) > 1:
        return _no("computed columns mix ANSI and LEGACY cast modes")
    ansi_eff = modes.pop() if modes else bool(ansi)
    compute = {k: (p, oc) for k, (p, oc, _) in computed.items()} or None
    return _runner(
        transcode_las_tiled, ".las", overwrite, paths, where=where or None,
        project=project, compute=compute,
        out_grid=(tuple(out_scale), tuple(out_offset)), ansi=ansi_eff,
        manifest=manifest,
    )


def _layout_round_trips(schema, props, project, spark_to_np, computed=None) -> bool:
    """Shared PLY/PCD gate: the writer layout (schema order sans fid/pid
    mapped through ``spark_to_np``) must match the source property layout
    — the full list when ``project`` is None, else each projected
    property's type under its OUTPUT name (unsigned source types widen
    through Spark and fail the match → fall back).  A COMPUTED output
    column (round 12) is expected at its program's storage char instead
    of the source property's — e.g. an uncast double expression over a
    float property widens that property to f8 on both paths."""
    data_fields = [
        (f.name, spark_to_np.get(f.dataType.simpleString()))
        for f in schema.fields
        if f.name not in ("fid", "pid")
    ]
    by_name = dict(props)
    oc = {n: e[1] for n, e in (computed or {}).items()}
    expected = (
        [(n, oc.get(n, c)) for n, c in props]
        if project is None
        else [(o, oc.get(o, by_name.get(s))) for o, s in project]
    )
    return data_fields == expected


def _stored_fused_plan(df, where, path, overwrite, projected=None,
                       computed=None, ansi=True, manifest=True, *, source):
    """Validate PLY/PCD source/writer equivalence and return a ready-to-run
    closure, or None.  Side-effect free until the closure runs.

    PLY properties and PCD fields are stored world values (no grid), so
    filters need no translation.  The gates are the transcoder's own
    uniformity rule (binary record-major sources, one layout), layout
    round-trip identity (every property survives Spark's type mapping
    unchanged, in schema order) and the writer-default little endianness.
    Multi-element PLY sources qualify: the reader reads only the vertex
    element and the sink writes only vertex, which is exactly
    ``transcode_ply_tiled(element_only=True)``.  PCD fields are expanded
    count-1 scalars on both paths.

    ``projected`` (the ``select(subset) → write`` shape, including pure
    RENAMES — ``.alias``/``withColumnRenamed`` pairs) re-encodes onto
    just those properties under their output names — these layouts are
    self-describing, so unlike LAS there is no format round-trip (or
    fixed field naming) to gate on: each projected property only needs
    its own Spark-type round-trip (VERDICT r10 next #3).

    ``computed`` (round 12 — the twin of the LAS re-grid) maps an output
    column to its ``(program, out_char, ansi_or_None)`` exprprog
    extraction: the byte path replays the Catalyst arithmetic bit-exactly
    in numpy over the source property, and the output property takes the
    program's storage type — recenter/rescale shapes like
    ``(x − 50.0).cast('float')`` stop paying the Arrow hop.  ``ansi`` is
    the session cast mode, used when an int-rooted program's own evalMode
    was unreadable."""
    from .exprprog import program_refs
    from .pcd_format import SPARK_TO_NP as PCD_TO_NP
    from .ply_format import SPARK_TO_NP as PLY_TO_NP
    from .transcode import _Pcd, _Ply, transcode_pcd_tiled, transcode_ply_tiled

    layout, spark_to_np, transcode = {
        "ply": (
            _Ply(element_only=True), PLY_TO_NP,
            functools.partial(transcode_ply_tiled, element_only=True),
        ),
        "pcd": (_Pcd(), PCD_TO_NP, transcode_pcd_tiled),
    }[source]
    schema = df.schema
    paths = _fid_paths(schema)
    if not paths:
        return None
    project = None
    if projected is not None:
        project = [(o, s) for o, s in projected if o not in ("fid", "pid")]
        if not project:
            return _no("projection keeps no data columns")
    got = _source_headers(layout, paths)
    if got is None:
        return None
    _, endian, props = got
    if endian != "<":
        return None  # the sink writes little-endian by default
    computed = computed or {}
    if (
        project is not None
        and not computed
        and project == [(n, n) for n, _ in props]
    ):
        project = None  # identity projection → pure byte copy, no re-encode
    # projected mode compares against the projected subset — the
    # DataFrame's schema IS the projection, in order
    if not _layout_round_trips(schema, props, project, spark_to_np, computed):
        return None
    prop_names = {n for n, _ in props}
    if any(name not in prop_names for name, _, _ in where):
        return None
    # every column a program references must be stored in the source
    # (round 12: programs may span several columns of one record — the
    # affine-transform shape)
    for name, (prg, _oc2, _m2) in computed.items():
        if name not in prop_names:
            # a computed NEW column: the transcode layout is derived from
            # stored properties, so there is no byte-path equivalent —
            # decline (the general sink writes the extra property)
            return _no(
                f"computed column {name!r} is not a stored source"
                " property (new columns have no byte-path equivalent)"
            )
        missing = program_refs(prg) - prop_names
        if missing:
            return _no(
                f"computed column {name!r} references {sorted(missing)}"
                " which are not stored source properties"
            )
    # int-rooted programs extracted under DIFFERENT cast modes in one plan
    # cannot share the transcoder's single overflow semantic — fall back
    modes = {
        m for _p, oc, m in computed.values()
        if oc.startswith("i") and m is not None
    }
    if len(modes) > 1:
        return _no("computed columns mix ANSI and LEGACY cast modes")
    return _runner(
        transcode, layout.ext, overwrite, paths, where=where or None,
        project=project,
        compute={k: (p, oc) for k, (p, oc, _m) in computed.items()} or None,
        ansi=modes.pop() if modes else bool(ansi), manifest=manifest,
    )


_PLANNERS = {
    "las": _las_fused_plan,
    "ply": functools.partial(_stored_fused_plan, source="ply"),
    "pcd": functools.partial(_stored_fused_plan, source="pcd"),
}


def plan_fused_save(df, source: str, path: str, mode, options, partition_by=None):
    """Analysis stage of the fused byte-path save: returns a ready-to-run
    ``closure(spark, out_dir)`` when the write qualifies, else None.
    Strictly side-effect free — callers run the closure OUTSIDE any
    fallback handling, so a mid-write failure propagates instead of
    silently double-writing through the general sink."""
    global _LAST_DECLINE
    _LAST_DECLINE = None
    planner = _PLANNERS.get(source)
    if planner is None or not path:
        return _no(f"no fused planner for source {source!r} (or missing path)")
    if partition_by:
        # the general sink REJECTS partitionBy (our formats partition by
        # source file, not by column) — declining here lets that error
        # surface instead of silently writing unpartitioned output
        # (VERDICT r9 wrong #1)
        return _no(f"partitionBy={partition_by!r} requested")
    if str(options.get("fusedwrite", "true")).lower() == "false":
        return _no("fusedWrite=false")
    # scale/offset stay re-encoding options for PLY/PCD, but for LAS they
    # only pick the OUTPUT HEADER grid (the sink passes raw ints through
    # regardless, las.py) — the byte path replicates that exactly, so for
    # LAS they are grid parameters, not disqualifiers (re-grid shape,
    # VERDICT r11 #1)
    grid_opt_keys = {"scale", "offset"} if source == "las" else set()
    bad = sorted(
        k for k in options
        if k not in _NEUTRAL_WRITE_OPTS and k not in grid_opt_keys
    )
    if bad:
        return _no(f"write options {bad} request re-encoding")
    out_grid = None
    if source == "las":
        try:
            # the sink's exact parse (las.py LasWriter.__init__); a
            # malformed value or wrong arity declines so the general
            # sink surfaces its own error
            out_scale = tuple(
                float(v)
                for v in str(options.get("scale", "0.01,0.01,0.01")).split(",")
            )
            out_offset = tuple(
                float(v) for v in str(options.get("offset", "0,0,0")).split(",")
            )
        except ValueError:
            return _no("unparseable scale/offset write option")
        if len(out_scale) != 3 or len(out_offset) != 3:
            return _no("scale/offset write options must be comma triples")
        out_grid = (out_scale, out_offset)
    if mode not in (None, "error", "errorifexists", "overwrite"):
        return _no(f"write mode {mode!r} unsupported by the byte path")
    extracted = _extract_scan_filter(df)
    if extracted is None:
        return None  # _extract_scan_filter recorded the reason
    src_name, where, projected, computed = extracted
    if src_name != source:
        return _no(
            f"plan scans {src_name!r} but the write format is {source!r}"
        )
    try:
        ansi = (
            str(df.sparkSession.conf.get("spark.sql.ansi.enabled", "true"))
            .lower()
            != "false"
        )
    except Exception:
        ansi = True
    from .automanifest import manifest_disabled

    emit_manifest = not manifest_disabled(options)
    if source == "las":
        run = planner(
            df, where, path, mode == "overwrite", projected,
            computed=computed, out_grid=out_grid, ansi=ansi,
            manifest=emit_manifest,
        )
    else:
        run = planner(
            df, where, path, mode == "overwrite", projected,
            computed=computed, ansi=ansi, manifest=emit_manifest,
        )
    if run is None and _LAST_DECLINE is None:
        _no(
            f"source/writer layouts not byte-equivalent for {source!r}"
            " (heterogeneous headers, non-default grid/version, or a"
            " schema that does not round-trip)"
        )
    return run


_INSTALLED = False


def install_fused_write() -> None:
    """Patch ``DataFrameWriter`` so format/mode/options are mirrored on the
    Python wrapper and ``save`` tries the fused path first.  Idempotent;
    every non-las (or non-qualifying) write delegates to the original
    methods untouched."""
    global _INSTALLED
    if _INSTALLED:
        return
    from pyspark.sql.readwriter import DataFrameWriter

    orig_format = DataFrameWriter.format
    orig_mode = DataFrameWriter.mode
    orig_option = DataFrameWriter.option
    orig_options = DataFrameWriter.options
    orig_partition_by = DataFrameWriter.partitionBy
    orig_save = DataFrameWriter.save

    def _format(self, source):
        self._fw_format = source
        return orig_format(self, source)

    def _mode(self, saveMode):
        self._fw_mode = saveMode
        return orig_mode(self, saveMode)

    def _option(self, key, value):
        opts = getattr(self, "_fw_options", None)
        if opts is None:
            opts = self._fw_options = {}
        opts[str(key).lower()] = value
        return orig_option(self, key, value)

    def _options(self, **options):
        opts = getattr(self, "_fw_options", None)
        if opts is None:
            opts = self._fw_options = {}
        for k, v in options.items():
            opts[str(k).lower()] = v
        return orig_options(self, **options)

    def _partition_by(self, *cols):
        # mirror like format/mode: a fluent .partitionBy(...) must
        # disqualify the fused rewrite so the general sink's
        # partitioning error surfaces (VERDICT r9 wrong #1)
        flat = []
        for c in cols:
            flat.extend(c) if isinstance(c, (list, tuple)) else flat.append(c)
        self._fw_partition_by = flat
        return orig_partition_by(self, *cols)

    def _save(self, path=None, format=None, mode=None, partitionBy=None, **options):
        eff_format = format or getattr(self, "_fw_format", None)
        eff_pby = partitionBy or getattr(self, "_fw_partition_by", None)
        if eff_format in _PLANNERS:
            eff_mode = mode or getattr(self, "_fw_mode", None)
            eff_opts = dict(getattr(self, "_fw_options", {}) or {})
            for k, v in options.items():
                eff_opts[str(k).lower()] = v
            eff_path = path or eff_opts.get("path")
            debug = (
                str(eff_opts.get("fusedwritedebug", "")).lower() == "true"
                or os.environ.get("SPARK_GRAFT_FUSED_DEBUG")
            )
            try:
                run = plan_fused_save(
                    self._df, eff_format, eff_path, eff_mode, eff_opts,
                    partition_by=eff_pby,
                )
            except Exception as exc:
                run = None  # analysis-stage hiccup → general sink
                if debug:
                    _log.warning(
                        "fusedWrite analysis raised; general sink",
                        exc_info=exc,
                    )
            if run is not None:
                # past this point failures PROPAGATE — falling back after a
                # partial fused write would double-write or mask the error
                run(self._df.sparkSession, eff_path)
                return None
            if debug:
                _log.warning(
                    "fusedWrite general sink: %s", _LAST_DECLINE or "declined"
                )
        return orig_save(
            self, path=path, format=format, mode=mode,
            partitionBy=partitionBy, **options,
        )

    DataFrameWriter.format = _format
    DataFrameWriter.mode = _mode
    DataFrameWriter.option = _option
    DataFrameWriter.options = _options
    DataFrameWriter.partitionBy = _partition_by
    DataFrameWriter.save = _save
    _INSTALLED = True
