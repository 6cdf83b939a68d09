"""Guard: grid.py is the one module that knows the chunk layout and the
slot <-> time rule.

A chunk id, a chunk's cell ranges or its time bounds re-derived next to an
operator drift from grid.py's rule (stjoin, build, cube and streamexec each
held a copy before they moved there). Outside grid.py this rejects:
- chunk arithmetic: ``/``, ``//``, ``%`` or ``*`` with a chunk size or a
  chunk count as an operand, in Python or around an f-string field of SQL
  text (``DIV`` too);
- any use of ``_time_at`` (the old slot-start Column);
- ``F.lit`` of a datetime in operators/ or cube.py: PySpark reads a naive
  datetime in the driver process's zone, not the session zone.
benchqueries.py's DuckDB oracle SQL is the independent reference and is
exempt.

A second check holds the point of writing the grid and the aggregates as
SQL text: building the lazy plan of an assignment, a count_values cube and a
second mean cube from one collection stays under a py4j round-trip budget,
and the second cube does not plan the collection's scan again."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdalcubes_cpp_spark"
EXEMPT = {"grid.py", "benchqueries.py"}
CHUNK_NAMES = {"chunk_nt", "chunk_ny", "chunk_nx", "ncx", "ncy", "nct"}
ARITH = (ast.Div, ast.FloorDiv, ast.Mod, ast.Mult)
DATETIME_NAMES = {"t0", "t1", "t_start", "t_end", "time_labels", "datetime_at",
                  "datetime", "add_duration", "Timestamp"}
_SQL_BEFORE = re.compile(r"(/|%|\*|\bDIV)\s*\(*\s*$", re.IGNORECASE)
_SQL_AFTER = re.compile(r"^\s*\)*\s*(/|%|\*|DIV\b)", re.IGNORECASE)
_COMPS = (ast.ListComp, ast.GeneratorExp, ast.SetComp)


def _name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _names(nodes):
    return {_name(n) for root in nodes for n in ast.walk(root)} - {None}


def _is_lit(node) -> bool:
    return isinstance(node, ast.Call) and _name(node.func) == "lit"


def _sql_offences(node: ast.JoinedStr):
    parts = node.values
    for k, part in enumerate(parts):
        if not (isinstance(part, ast.FormattedValue) and _name(part.value) in CHUNK_NAMES):
            continue
        before = parts[k - 1].value if k and isinstance(parts[k - 1], ast.Constant) else ""
        after = (parts[k + 1].value if k + 1 < len(parts)
                 and isinstance(parts[k + 1], ast.Constant) else "")
        if _SQL_BEFORE.search(before) or _SQL_AFTER.search(after):
            yield f"SQL chunk arithmetic on {_name(part.value)}"


def _violations(src: str, lit_rule: bool) -> list:
    tree = ast.parse(src)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.BinOp) and isinstance(node.op, ARITH):
            hit = {_name(node.left), _name(node.right)} & CHUNK_NAMES
            if hit:
                out.append(f"line {node.lineno}: chunk arithmetic on {sorted(hit)}")
        elif isinstance(node, ast.JoinedStr):
            out += [f"line {node.lineno}: {m}" for m in _sql_offences(node)]
        elif _name(node) == "_time_at" or (
                isinstance(node, ast.alias) and node.name == "_time_at"):
            out.append(f"line {getattr(node, 'lineno', '?')}: uses _time_at")
    if lit_rule:
        # a lit's own arguments, plus the iterables of a comprehension it
        # sits in (``F.lit(t) for t in v.time_labels``)
        lits = [(c, []) for c in ast.walk(tree) if _is_lit(c)]
        lits += [(c, [g.iter for g in comp.generators])
                 for comp in ast.walk(tree) if isinstance(comp, _COMPS)
                 for c in ast.walk(comp.elt) if _is_lit(c)]
        out += [f"line {c.lineno}: F.lit of a datetime" for c, extra in lits
                if _names(c.args + extra) & DATETIME_NAMES]
    return sorted(set(out))


def _lit_rule(rel: str) -> bool:
    return rel.startswith("operators/") or rel == "cube.py"


def test_guard_flags_each_pattern():
    bad = {
        "ct = (F.col('chunk_id') / (ncy * ncx)).cast('long')": False,
        "it1 = it0 + v.chunk_nt if cy * v.chunk_ny else 0": False,
        'x = f"CAST(chunk_id % {n} DIV {grid.ncx} AS INT) * {view.chunk_ny}"': False,
        'x = f"floor(iy / {v.chunk_ny})"': False,
        "from .operators.stjoin import _time_at": False,
        "t = stjoin._time_at(F.col('it'), v)": False,
        "t0 = F.lit(v.t0)": True,
        "labels = F.array(*[F.lit(t) for t in v.time_labels])": True,
    }
    for src, lit_rule in bad.items():
        assert _violations(src, lit_rule), src
    ok = ['x = f"least({lim} + {v.chunk_nt}, {v.nt})"', "n = F.lit(v.nx)",
          "grid.chunk_limits(cid)", "v = F.lit(0.5) * F.col('x')"]
    for src in ok:
        assert not _violations(src, True), src


def test_chunk_layout_only_in_grid():
    bad = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in EXEMPT:
            continue
        found = _violations(path.read_text(encoding="utf-8"), _lit_rule(rel))
        if found:
            bad[rel] = found
    assert not bad, f"chunk layout re-derived outside grid.py: {bad}"


def test_grid_builds_no_column():
    """grid.py writes SQL text; it neither imports nor returns a Column."""
    src = (PKG / "grid.py").read_text(encoding="utf-8")
    assert "pyspark" not in src


@pytest.fixture
def py4j_calls(monkeypatch):
    """The py4j commands the driver sends, minus py4j's own memory
    commands (the deletes of garbage-collected Java references, which come
    and go with the Python GC)."""
    from py4j.java_gateway import GatewayClient

    calls: list = []
    send = GatewayClient.send_command

    def counted(self, command, *a, **kw):
        if not command.startswith("m\n"):
            calls.append(command)
        return send(self, command, *a, **kw)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    return calls


def test_plan_build_py4j_budget(spark, py4j_calls):
    """Building (lazily, no job) an assignment, a count_values cube and a
    mean cube on a small 4326 view, 2 degrees and 1 month in 1x32x32
    chunks, takes fewer than 45, 200 and 125 py4j round trips (631 and 977
    for the first two when every chunk bound was a chain of Column
    operators; 38, 182 and 114 with the grid and the aggregates as SQL
    text). The mean cube is the second from the same ``images`` object:
    partition.spread's probe of the collection is cached on it, so it
    plans no scan (no javaToPython)."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.operators.stjoin import assignment
    from gdalcubes_cpp_spark.view import CubeView

    images = spark.createDataFrame(synth.images_pdf(50))

    def view(agg):
        return CubeView.create(left=-10.0, right=-8.0, bottom=19.0, top=21.0, nx=40,
                               ny=40, t0="2020-02-01", t1="2020-02-29", dt="P1M",
                               aggregation=agg, chunk_size=(1, 32, 32))

    for build, budget in ((lambda: assignment(images, ChunkGrid(view("mean"))), 45),
                          (lambda: build_cube(images, view("count_values")).df, 200),
                          (lambda: build_cube(images, view("mean")).df, 125)):
        build()  # first build: one-off lookups
        py4j_calls.clear()
        build()
        assert len(py4j_calls) < budget
        assert not [c for c in py4j_calls if "\njavaToPython\n" in c]
