"""Guard against environment-variable forks in the engine.

A ``GDALCUBES_*`` switch read inside the package silently forks a code
path that tests and benchmarks then have to run twice. The only
environment contract is ``GDALCUBES_STREAMING*``: the variables that
operators/streamexec.py hands to the child processes it launches."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdalcubes_cpp_spark"
ALLOWED = {"operators/streamexec.py": "GDALCUBES_STREAMING"}


def test_package_reads_no_gdalcubes_env_switch():
    files = sorted(PKG.rglob("*.py"))
    assert len(files) > 20
    bad = []
    for f in files:
        rel = f.relative_to(PKG).as_posix()
        for n, line in enumerate(f.read_text(encoding="utf-8").splitlines(), 1):
            for name in re.findall(r"GDALCUBES_\w*", line):
                if not (rel in ALLOWED and name.startswith(ALLOWED[rel])):
                    bad.append(f"{rel}:{n}: {name}")
    assert not bad, "GDALCUBES_* outside the streaming contract:\n" + "\n".join(bad)
