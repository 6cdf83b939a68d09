"""Guard: partition.py is the one module that decides how many partitions a
stage gets.

A partition count hand-rolled next to an operator drifts from the shared
rule (the widen floor and the per-chunk exchange were each written twice
before they moved into partition.py). Outside partition.py and session.py
(which sets the session's shuffle width), no package module may probe a
plan's partition count, read spark.sql.shuffle.partitions or the default
parallelism, or call repartition/repartitionByRange with a count.
s2.range_partition_by_cell, the range partitioner of the S2 join key, keeps
its caller-given count until the join methods are measured at scale."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdalcubes_cpp_spark"
ALLOWED = {"partition.py", "session.py"}


# (module, function) allowed to repartition by a count it is given
COUNT_ARG_ALLOWED = {("functions/s2.py", "range_partition_by_cell")}
REPARTITION = ("repartition", "repartitionByRange")


def _is_column_arg(node) -> bool:
    """A partitioning column: a name string, ``col(...)`` / ``F.col(...)``
    or ``*cols``."""
    if isinstance(node, ast.Starred):
        return True
    if isinstance(node, ast.Constant):
        return isinstance(node.value, str)
    f = node.func if isinstance(node, ast.Call) else None
    return (isinstance(f, ast.Name) and f.id == "col"
            or isinstance(f, ast.Attribute) and f.attr == "col")


def _offences(src: str, rel: str = ""):
    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func
            if isinstance(child, ast.Attribute) and child.attr == "getNumPartitions":
                yield child.lineno, "getNumPartitions"
            elif isinstance(child, ast.Attribute) and child.attr == "defaultParallelism":
                yield child.lineno, "defaultParallelism"
            elif (isinstance(child, ast.Constant)
                  and child.value == "spark.sql.shuffle.partitions"):
                yield child.lineno, '"spark.sql.shuffle.partitions"'
            elif (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                  and child.func.attr in REPARTITION and child.args
                  and not _is_column_arg(child.args[0])
                  and (rel, func) not in COUNT_ARG_ALLOWED):
                yield child.lineno, f"{child.func.attr} with a partition count"
            yield from visit(child, inner)

    yield from visit(ast.parse(src), None)


def test_guard_flags_each_pattern():
    bad = ["n = df.rdd.getNumPartitions()",
           "n = spark.sparkContext.defaultParallelism * 3",
           'n = spark.conf.get("spark.sql.shuffle.partitions")',
           "df = df.repartition(min(len(paths), 64))",
           "df = df.repartition(8, 'k')",
           "df = df.repartitionByRange(n, F.col('t'))"]
    for src in bad:
        assert list(_offences(src)), src
    ok = ["df = df.repartition('chunk_id')", "df = df.repartition(F.col('k'), 'it')",
          "df = df.repartition(*keys)", "df = df.repartitionByRange(col('t'))"]
    for src in ok:
        assert not list(_offences(src)), src
    allowed = "def range_partition_by_cell(df, c, n):\n    return df.repartitionByRange(n, c)"
    assert not list(_offences(allowed, "functions/s2.py"))
    assert list(_offences(allowed, "functions/hexgrid.py"))


def test_only_partition_module_decides_partition_counts():
    files = sorted(PKG.rglob("*.py"))
    assert len(files) > 20
    bad = [
        f"{f.relative_to(PKG).as_posix()}:{n}: {what}"
        for f in files if f.relative_to(PKG).as_posix() not in ALLOWED
        for n, what in _offences(f.read_text(encoding="utf-8"), f.relative_to(PKG).as_posix())
    ]
    assert not bad, "partition counts decided outside partition.py:\n" + "\n".join(bad)
