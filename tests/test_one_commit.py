"""Guard: IceTable.append (sources/icetable.py) is the package's one
durable commit.

A second way to decide "this write is done" drifts from the snapshot
commit: ckpt.py's lineage rows were parquet appends a crash could leave
without their data (or the data without its row), and streaming ingest
kept a renamed pointer file beside versioned state directories. Outside
sources/icetable.py this rejects:
- ``os.replace`` (a rename-into-place pointer);
- a ``.write.mode("append")`` write;
- the literal ``partitionOverwriteMode`` (an overwrite that races a commit
  and changes the session's conf);
- a ``manifest.json`` or ``state_v`` path."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdalcubes_cpp_spark"
EXEMPT = {"sources/icetable.py"}
PATHS = ("partitionOverwriteMode", "manifest.json", "state_v")


def _violations(src: str) -> list:
    out = []
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, ast.Attribute) and node.attr == "replace"
                and isinstance(node.value, ast.Name) and node.value.id == "os"):
            out.append(f"line {node.lineno}: os.replace")
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
              and node.func.attr == "mode"
              and isinstance(node.func.value, ast.Attribute) and node.func.value.attr == "write"
              and any(isinstance(a, ast.Constant) and a.value == "append" for a in node.args)):
            out.append(f"line {node.lineno}: .write.mode('append')")
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out += [f"line {node.lineno}: {p!r}" for p in PATHS if p in node.value]
    return sorted(set(out))


def test_guard_flags_each_pattern():
    bad = [
        "os.replace(tmp, path)",
        "df.write.mode('append').parquet(sink + '/_lineage')",
        "spark.conf.set('spark.sql.sources.partitionOverwriteMode', 'dynamic')",
        "path = os.path.join(sink, 'manifest.json')",
        "d = os.path.join(sink, f'state_v{version}')",
    ]
    for src in bad:
        assert _violations(src), src
    ok = ["s.replace('a', 'b')", "df.write.mode('overwrite').parquet(p)",
          "t.append(df, replace=old)", "m = f'manifest-{u}.parquet'"]
    for src in ok:
        assert not _violations(src), src


def test_one_commit_protocol():
    bad = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in EXEMPT:
            continue
        found = _violations(path.read_text(encoding="utf-8"))
        if found:
            bad[rel] = found
    assert not bad, f"a commit outside IceTable.append: {bad}"
