"""Every package import in the package, ``bench.py`` and ``perfbench/``
resolves: the module exists and exports each imported name.

``cli``, ``live`` and ``analytics`` import lazily inside functions, many of
which no other test calls, so a deleted module or name would otherwise
surface only when a user reaches that function. Static (AST) check; no
Spark session is started.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "polymarket_data_ingestor_spark"


def _sources() -> list[Path]:
    return (sorted((ROOT / PKG).rglob("*.py")) + [ROOT / "bench.py"]
            + sorted((ROOT / "perfbench").glob("*.py")))


def _module_of(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_imports(path: Path):
    """(line, module, names) for each package import in ``path``, at
    module level or inside a function; ``names`` is empty for a plain
    ``import a.b``."""
    here = _module_of(path)
    is_pkg = path.name == "__init__.py"
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = here.split(".")
                base = base[:len(base) - node.level + (1 if is_pkg else 0)]
                mod = ".".join(base + ([mod] if mod else []))
            if mod.split(".")[0] == PKG:
                yield node.lineno, mod, [a.name for a in node.names]


def test_every_package_import_resolves():
    problems = []
    n = 0
    for path in _sources():
        for line, mod, names in _package_imports(path):
            n += 1
            where = f"{path.relative_to(ROOT)}:{line}"
            try:
                m = importlib.import_module(mod)
            except ImportError as exc:
                problems.append(f"{where}: {mod}: {exc}")
                continue
            for name in names:
                if name == "*" or hasattr(m, name):
                    continue
                try:  # a submodule not yet imported by its package
                    importlib.import_module(f"{mod}.{name}")
                except ImportError:
                    problems.append(f"{where}: {mod} has no {name!r}")
    assert n > 50, f"found only {n} package imports: is the walk broken?"
    assert not problems, "\n".join(problems)
