"""Guard: partition.py is the one module that decides how many partitions a
stage gets.

A partition count hand-rolled next to an operator drifts from the shared
rule (the widen floor and the per-chunk exchange were each written twice
before they moved into partition.py). Outside partition.py and session.py
(which sets the session's shuffle width), no package module may probe a
plan's partition count or read spark.sql.shuffle.partitions."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdalcubes_cpp_spark"
ALLOWED = {"partition.py", "session.py"}


def _offences(path: pathlib.Path):
    tree = ast.parse(path.read_text(encoding="utf-8"))
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "getNumPartitions":
            yield node.lineno, "getNumPartitions"
        elif isinstance(node, ast.Constant) and node.value == "spark.sql.shuffle.partitions":
            yield node.lineno, '"spark.sql.shuffle.partitions"'


def test_only_partition_module_decides_partition_counts():
    files = sorted(PKG.rglob("*.py"))
    assert len(files) > 20
    bad = [
        f"{f.relative_to(PKG).as_posix()}:{n}: {what}"
        for f in files if f.relative_to(PKG).as_posix() not in ALLOWED
        for n, what in _offences(f)
    ]
    assert not bad, "partition counts decided outside partition.py:\n" + "\n".join(bad)
