"""Guard: one encoder per cell index.

The numpy batch kernels are the only engine-side encoders: np_point_leaf
for S2 ids and hex_encode_np for hex ids, run in pandas_udfs. A second,
Column-expression encoder would have to be kept bit-equal to them by hand,
and the let-bound form such twins took (F.transform over a one-element
F.array, F.aggregate folds) blocks whole-stage codegen. This parses the
package and checks that:

- no module let-binds a Column through F.transform(F.array(...));
- no module under functions/ folds with F.aggregate;
- srs.py builds no Spark Column (its transforms are numpy and SQL text);
- s2_cell_id, hex_cells and both cell-keyed st_join owners reach the
  numpy kernels."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdalcubes_cpp_spark"


def _trees():
    return {p: ast.parse(p.read_text(encoding="utf-8")) for p in sorted(PKG.rglob("*.py"))}


def _is_f(node, attr: str) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == attr
            and isinstance(node.value, ast.Name) and node.value.id == "F")


def _called(node) -> set:
    """Names of every function called anywhere inside ``node``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            if isinstance(f, ast.Name):
                out.add(f.id)
            elif isinstance(f, ast.Attribute):
                out.add(f.attr)
    return out


def _call_graph(trees) -> dict:
    """def name -> names it calls, merged over every def of that name."""
    graph = defaultdict(set)
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                graph[n.name] |= _called(n)
    return graph


def _reach(graph, start: set) -> set:
    seen, todo = set(), list(start)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(graph.get(name, ()))
    return seen


def _owner_bindings(trees) -> list:
    """The call sets of each binding of ``cell_of`` inside stjoin.st_join."""
    tree = trees[PKG / "operators" / "stjoin.py"]
    st_join = next(n for n in tree.body
                   if isinstance(n, ast.FunctionDef) and n.name == "st_join")
    out = []
    for n in ast.walk(st_join):
        if isinstance(n, ast.FunctionDef) and n.name == "cell_of":
            out.append(_called(n))
        elif (isinstance(n, ast.Assign)
              and any(isinstance(t, ast.Name) and t.id == "cell_of" for t in n.targets)):
            out.append(_called(n.value))
    return out


def test_no_let_binding_or_fold_encoder():
    bad = []
    for path, tree in _trees().items():
        rel = path.relative_to(PKG)
        in_functions = rel.parts[0] == "functions"
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            if (_is_f(n.func, "transform") and n.args and isinstance(n.args[0], ast.Call)
                    and _is_f(n.args[0].func, "array")):
                bad.append(f"{rel}:{n.lineno}: F.transform(F.array(...)) let-binding")
            if in_functions and _is_f(n.func, "aggregate"):
                bad.append(f"{rel}:{n.lineno}: F.aggregate fold")
    assert not bad, bad


def test_srs_builds_no_column():
    tree = ast.parse((PKG / "srs.py").read_text(encoding="utf-8"))
    bad = []
    for n in ast.walk(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            mods = [n.module or ""] if isinstance(n, ast.ImportFrom) else [a.name for a in n.names]
            bad += [f"line {n.lineno}: imports {m}" for m in mods if m.startswith("pyspark")]
        elif isinstance(n, ast.Name) and n.id == "Column":
            bad.append(f"line {n.lineno}: uses Column")
    assert not bad, bad


def test_every_encoder_reaches_the_numpy_kernels():
    trees = _trees()
    graph = _call_graph(trees)
    assert "np_point_leaf" in _reach(graph, {"s2_cell_id"})
    assert "hex_encode_np" in _reach(graph, {"hex_cells"})
    owners = [_reach(graph, calls) for calls in _owner_bindings(trees)]
    assert len(owners) == 3  # s2, hex and the flat grid
    assert any("np_point_leaf" in r for r in owners)
    assert any("hex_encode_np" in r for r in owners)


def test_guard_sees_a_known_path():
    graph = _call_graph(_trees())
    assert "np_point_leaf" in _reach(graph, {"s2_knn_join"})
    assert "np_leaf" in _reach(graph, {"cover_cells_udf"})
