"""Guard the package's import surface.

The ``functions`` package exports its operators lazily, and many modules
import their siblings inside a function body, so a missing module would
otherwise surface only when that function first runs. This parses every
module of the package and checks that each in-package import (relative or
``gdalcubes_cpp_spark.*``, at module level or function-local) and each
``functions._EXPORTS`` target names a module that exists and a name that
module binds.

The module name is historical: it once held the training-mix and
connected-components tests, which left with those operators. The guard
keeps it so that ``test_functions_lazy_export_surface`` keeps its id."""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdalcubes_cpp_spark"


def _module_path(parts: list) -> pathlib.Path | None:
    """The file of the in-package module ``parts`` (relative to PKG's
    parent), or None when it does not exist."""
    base = PKG.parent.joinpath(*parts)
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _bound_names(path: pathlib.Path) -> set:
    """Names a module binds at its top level (defs, classes, assignments,
    imports) plus the keys of a lazy ``_EXPORTS`` table."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
            if (isinstance(node, ast.Assign) and isinstance(node.value, ast.Dict)
                    and any(getattr(t, "id", None) == "_EXPORTS" for t in targets)):
                names |= {k.value for k in node.value.keys}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _check_from(parts: list, names, where: str) -> list:
    """Problems with ``from <parts> import <names>``."""
    target = _module_path(parts)
    if target is None:
        return [f"{where}: no module {'.'.join(parts)}"]
    out = []
    bound = None
    for name in names:
        if name == "*" or _module_path(parts + [name]) is not None:
            continue
        if bound is None:
            bound = _bound_names(target)
        if name not in bound:
            out.append(f"{where}: {'.'.join(parts)} has no {name}")
    return out


def _problems(path: pathlib.Path) -> list:
    rel = path.relative_to(PKG.parent)
    pkg_parts = list(rel.parent.parts)
    out = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        where = f"{rel}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg_parts[:len(pkg_parts) - (node.level - 1)]
                parts = base + (node.module.split(".") if node.module else [])
            elif (node.module or "").split(".")[0] == PKG.name:
                parts = node.module.split(".")
            else:
                continue
            out += _check_from(parts, [a.name for a in node.names], where)
        elif isinstance(node, ast.Import):
            for a in node.names:
                parts = a.name.split(".")
                if parts[0] == PKG.name and _module_path(parts) is None:
                    out.append(f"{where}: no module {a.name}")
    return out


def test_functions_lazy_export_surface():
    """Every name in functions.__all__ resolves via the lazy exporter."""
    import gdalcubes_cpp_spark.functions as fns

    for name in fns.__all__:
        assert callable(getattr(fns, name)), name
    with pytest.raises(AttributeError):
        fns.not_a_real_operator


def test_in_package_imports_resolve():
    """Every in-package import, eager or function-local, and every
    functions._EXPORTS target names an existing module and a name it binds."""
    problems = []
    for path in sorted(PKG.rglob("*.py")):
        problems += _problems(path)
    exports = PKG / "functions" / "__init__.py"
    for node in ast.parse(exports.read_text(encoding="utf-8")).body:
        if (isinstance(node, ast.Assign)
                and getattr(node.targets[0], "id", None) == "_EXPORTS"):
            for k, v in zip(node.value.keys, node.value.values):
                parts = ["gdalcubes_cpp_spark", "functions", v.value.lstrip(".")]
                problems += _check_from(parts, [k.value], f"_EXPORTS[{k.value!r}]")
    assert not problems, "\n".join(problems)
