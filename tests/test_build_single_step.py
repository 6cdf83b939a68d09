"""Guard against a second decode → warp path in the cube build.

The build runs one per-batch cell step (build._cell_step) at the scan. A
second per-image decode/warp loop, or a second physical strategy (a
grouped-map kernel per chunk), would fork the outputs, and every test
would have to pin both copies. This parses operators/build.py and checks
which functions call the warp and decode primitives, and that no
grouped-map kernel is left."""

from __future__ import annotations

import ast
import pathlib

BUILD = (pathlib.Path(__file__).resolve().parent.parent
         / "gdalcubes_cpp_spark" / "operators" / "build.py")


def _callee_names(expr) -> set:
    """Names a callee expression can resolve to: ``f`` / ``x.f`` -> {"f"},
    ``(a or b)`` / ``(a if c else b)`` -> both sides."""
    if isinstance(expr, ast.Name):
        return {expr.id}
    if isinstance(expr, ast.Attribute):
        return {expr.attr}
    if isinstance(expr, ast.BoolOp):
        return set().union(*map(_callee_names, expr.values))
    if isinstance(expr, ast.IfExp):
        return _callee_names(expr.body) | _callee_names(expr.orelse)
    return set()


def _callers(names: set) -> dict:
    """{qualified enclosing function: callee names} for every call whose
    callee expression mentions one of ``names`` — a plain name
    (``warp_plane(...)``), an attribute (``mask.decode_fn(...)``) or either
    side of a choice (``(mask.decode_fn or default_decode)(...)``)."""
    found: dict = {}

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = scope + (child.name,)
            elif isinstance(child, ast.Call):
                hit = _callee_names(child.func)
                if hit & names:
                    found.setdefault(".".join(scope) or "<module>", set()).update(hit & names)
            visit(child, inner)

    visit(ast.parse(BUILD.read_text(encoding="utf-8")), ())
    return found


def test_warp_plane_called_only_by_the_cell_step_helpers():
    callers = _callers({"warp_plane"})
    assert "_warp_cells" in callers  # the guard parses what it should
    bad = sorted(set(callers) - {"_warp_cells", "warp_plane_agg"})
    assert not bad, f"warp_plane called outside _warp_cells/warp_plane_agg: {bad}"


def test_decode_called_only_by_decode_planes():
    callers = _callers({"decode_fn", "default_decode"})
    bad = sorted(set(callers) - {"_decode_planes"})
    assert not bad, f"decode_fn/default_decode called outside _decode_planes: {bad}"


def test_build_has_no_grouped_map_kernel():
    tree = ast.parse(BUILD.read_text(encoding="utf-8"))
    names = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    names |= {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    assert "applyInPandas" not in names
