"""No script outside the package imports a private name from it.

The measurement surface (bench.py, tools/, perfbench/) drives the
package through its public API only; a bench that imports `_name` times
an internal that the product may reshape at will. Pure Python: the
files are parsed, never imported, so no Spark session is needed."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _scripts() -> list[Path]:
    return sorted(
        [*REPO.glob("*.py"), *REPO.glob("tools/*.py"), *REPO.glob("perfbench/*.py")]
    )


def _private_imports(path: Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.ImportFrom)
            and (node.module or "").split(".")[0] == "simages_spark"
        ):
            found += [
                f"{path.relative_to(REPO)}:{node.lineno} {node.module}.{a.name}"
                for a in node.names
                if a.name.startswith("_")
            ]
    return found


def test_scripts_import_no_private_package_names():
    scripts = _scripts()
    assert any(p.name == "bench.py" for p in scripts)
    bad = [hit for p in scripts for hit in _private_imports(p)]
    assert not bad, "private imports:\n" + "\n".join(bad)
