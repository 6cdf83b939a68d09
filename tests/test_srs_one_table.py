"""Guard against a second projection-family decision outside srs.py.

Every SRS resolves through srs.py's one family table (srs.resolve). A
module that parses or builds a dynamic key itself, calls a per-family
resolver or indexes a family table would fork the decision "which family,
with which parameters": a new family or key format would then have to be
taught to two places. Comparing ``normalize(...)`` with an EPSG literal
is the same fork by code: it tests one spelling of a family instead of the
family (``srs.resolve(x)[0] is srs.WGS84``). This parses every module of
the package except srs.py and checks for those four patterns."""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdalcubes_cpp_spark"

PREFIXES = ("PS:", "LAEA:", "SINU:", "LCC:", "AEA:", "ETM:", "SOMERC:", "HOM:",
            "CEA:", "AEQD:", "EQC:")
_RESOLVER = re.compile(r"^_\w+_of$")
_TABLE = re.compile(r"^_[A-Z][A-Z0-9_]*$")


def _srs_names(tree) -> tuple[set, set]:
    """(names bound to the srs module, names imported from it)."""
    mods, imported = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[-1] == "srs":
                imported |= {a.asname or a.name for a in node.names}
            else:
                mods |= {a.asname or a.name for a in node.names if a.name == "srs"}
        elif isinstance(node, ast.Import):
            mods |= {a.asname or a.name for a in node.names
                     if a.name.split(".")[-1] == "srs"}
    return mods, imported


def _srs_private(expr, mods, imported, pattern):
    """The srs private name ``expr`` refers to when it matches ``pattern``."""
    if (isinstance(expr, ast.Attribute) and isinstance(expr.value, ast.Name)
            and expr.value.id in mods and pattern.match(expr.attr)):
        return expr.attr
    if isinstance(expr, ast.Name) and expr.id in imported and pattern.match(expr.id):
        return expr.id
    return None


def _is_normalize(node) -> bool:
    f = node.func if isinstance(node, ast.Call) else None
    return (isinstance(f, ast.Attribute) and f.attr == "normalize"
            or isinstance(f, ast.Name) and f.id == "normalize")


def _is_epsg(node) -> bool:
    return (isinstance(node, ast.Constant) and isinstance(node.value, str)
            and node.value.startswith("EPSG:"))


def _violations(path: pathlib.Path) -> list:
    return _source_violations(path.read_text(encoding="utf-8"))


def _source_violations(src: str) -> list:
    tree = ast.parse(src)
    mods, imported = _srs_names(tree)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare) and any(
                isinstance(op, (ast.Eq, ast.NotEq)) for op in node.ops):
            sides = [node.left, *node.comparators]
            if any(map(_is_normalize, sides)) and any(map(_is_epsg, sides)):
                out.append(f"line {node.lineno}: normalize(...) compared with an EPSG literal")
        if isinstance(node, ast.Call):
            name = _srs_private(node.func, mods, imported, _RESOLVER)
            if name:
                out.append(f"line {node.lineno}: calls srs.{name}")
        elif isinstance(node, ast.Subscript):
            name = _srs_private(node.value, mods, imported, _TABLE)
            if name:
                out.append(f"line {node.lineno}: indexes srs.{name}")
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.startswith(PREFIXES)):
            out.append(f"line {node.lineno}: dynamic-key literal {node.value[:24]!r}")
    return out


def test_guard_sees_srs_use():
    tree = ast.parse((PKG / "benchqueries.py").read_text(encoding="utf-8"))
    mods, _ = _srs_names(tree)
    assert "_srs" in mods  # the guard parses what it should


def test_guard_flags_epsg_comparisons():
    for src in ('if _srs.normalize(s) == "EPSG:3857": pass',
                'ok = "EPSG:4326" != srs.normalize(v.srs)',
                'ok = normalize(a) == "EPSG:32632"'):
        assert _source_violations(src), src
    for src in ("if _srs.resolve(s)[0] is _srs.WEBMERC: pass",
                "same = normalize(a) == normalize(b)",
                'ok = s == "EPSG:4326"'):
        assert not _source_violations(src), src


def test_family_decision_only_in_srs():
    bad = {}
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "srs.py":
            continue
        found = _violations(path)
        if found:
            bad[str(path.relative_to(PKG))] = found
    assert not bad, f"projection-family decision outside srs.py: {bad}"
