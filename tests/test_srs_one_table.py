"""Guard against a second projection-family decision outside srs.py.

Every SRS resolves through srs.py's one family table (srs.resolve). A
module that parses or builds a dynamic key itself, calls a per-family
resolver or indexes a family table would fork the decision "which family,
with which parameters": a new family or key format would then have to be
taught to two places. Comparing ``normalize(...)`` with an EPSG literal
is the same fork by code: it tests one spelling of a family instead of the
family (``srs.resolve(x)[0] is srs.WGS84``). This parses every module of
the package except srs.py and checks for those four patterns.

Inside srs.py each transform decision has one place too. The datum stage
is applied by the two entry-point helpers (``_to_grid`` calls
``wgs84_to_datum``, ``_to_wgs84`` calls ``datum_to_wgs84``), so no family
kernel reads a params ``helm``. Each latitude series is written once
(``_tm_consts``, ``_chi_series``, ``_authalic_series``), so no
module-level name holds one of their coefficients."""

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


# srs.py's datum functions -> the one entry-point helper allowed to call each
_DATUM_STAGE = {"wgs84_to_datum": "_to_grid", "datum_to_wgs84": "_to_wgs84"}


def _reads_helm(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "helm"
            or isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == "getattr" and len(node.args) > 1
            and isinstance(node.args[1], ast.Constant) and node.args[1].value == "helm")


def _datum_violations(src: str, kernels: set) -> list:
    """Datum-stage calls outside their entry-point helper, and kernels
    (functions named in ``kernels``) that read a params helm."""
    out = []
    for top in ast.parse(src).body:
        owner = top.name if isinstance(top, ast.FunctionDef) else "<module>"
        for node in ast.walk(top):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                    and node.func.id in _DATUM_STAGE
                    and owner != _DATUM_STAGE[node.func.id]):
                out.append(f"line {node.lineno}: {owner} calls {node.func.id}")
            if owner in kernels and _reads_helm(node):
                out.append(f"line {node.lineno}: kernel {owner} reads helm")
    return out


def _series_coefficients(e2s) -> set:
    from gdalcubes_cpp_spark import srs

    out = set()
    for e2 in e2s:
        *arc, foot = srs._tm_consts(e2)
        out |= {*arc, *foot, *srs._chi_series(e2), *srs._authalic_series(e2)}
    return out


def _coefficient_names(namespace: dict, coeffs: set) -> list:
    """Module-level names whose value is (or is a tuple holding) one of
    ``coeffs``."""
    def floats(v):
        return [v] if isinstance(v, float) else [
            x for x in v if isinstance(x, float)] if isinstance(v, tuple) else []

    return sorted(name for name, v in namespace.items()
                  if any(x in coeffs for x in floats(v)))


def _srs_kernels() -> set:
    from gdalcubes_cpp_spark import srs

    fams = [v for v in vars(srs).values() if isinstance(v, srs.Family)]
    return {f.__name__ for fam in fams
            for f in (fam.forward, fam.inverse, fam.inverse_sql)
            if f is not None and f.__name__ != "<lambda>"}


def _srs_e2s() -> set:
    from gdalcubes_cpp_spark import srs

    e2s = {srs.E2, srs._E2_GRS80} | {srs._e2_of(*v) for v in srs._ELLPS.values()}
    return e2s | {p.e2 for _, p in srs._KNOWN.values() if hasattr(p, "e2")}


def test_guard_flags_datum_and_series_forks():
    src = ("def ps_forward(lon, lat, p):\n"
           "    return wgs84_to_datum(lon, lat, p.a, p.e2, p.helm)\n"
           "def _to_wgs84(fam, p, x, y):\n"
           "    return datum_to_wgs84(x, y, p.a, p.e2, getattr(p, 'helm', None))\n"
           "def ps_inverse(x, y, p):\n"
           "    return getattr(p, 'helm', None)\n")
    assert len(_datum_violations(src, {"ps_forward", "ps_inverse"})) == 3
    assert not _datum_violations(src.split("def ps_inverse")[0].replace(
        "def ps_forward", "def _to_grid"), {"ps_forward"})
    from gdalcubes_cpp_spark import srs

    coeffs = _series_coefficients({srs.E2})
    assert _coefficient_names({"_X2": srs._chi_series(srs.E2)[0],
                               "_C": srs._tm_consts(srs.E2)[:4], "K0": 0.9996},
                              coeffs) == ["_C", "_X2"]
    assert {"ps_forward", "etm_inverse_sql", "hom_inverse_sql"} <= _srs_kernels()


def test_srs_datum_stage_and_series_written_once():
    from gdalcubes_cpp_spark import srs

    src = (PKG / "srs.py").read_text(encoding="utf-8")
    assert not _datum_violations(src, _srs_kernels())
    assert not _coefficient_names(vars(srs), _series_coefficients(_srs_e2s()))
