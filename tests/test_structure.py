"""Source-level structure guards; they read the sources and start no Spark.

* Engine code submits concurrent Spark jobs through one helper,
  ``_run_concurrently`` in ``engine/query.py``, which passes the caller's
  job group and local properties on to its worker threads.
* The search system (``engine/``, ``core/``, ``analysis/``,
  ``streaming/``) does not import the ``ops`` layer.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "itemsjs_spark"
HELPER = "_run_concurrently"


def test_thread_pools_only_inside_the_concurrency_helper():
    helpers = []
    for path in sorted((PKG / "engine").rglob("*.py")):
        src = path.read_text()
        allowed = set()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name == HELPER:
                helpers.append(path.name)
                allowed.update(range(node.lineno, node.end_lineno + 1))
        for lineno, line in enumerate(src.splitlines(), start=1):
            if "ThreadPoolExecutor" in line:
                assert lineno in allowed, f"{path.name}:{lineno}: {line.strip()}"
    assert helpers == ["query.py"]


def _imported_modules(path: Path):
    package = ["itemsjs_spark", *path.relative_to(PKG).parent.parts]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            yield mod
            for alias in node.names:
                yield f"{mod}.{alias.name}"


def test_search_system_does_not_import_ops():
    bad = []
    for sub in ("engine", "core", "analysis", "streaming"):
        for path in sorted((PKG / sub).rglob("*.py")):
            for mod in _imported_modules(path):
                if mod == "itemsjs_spark.ops" or mod.startswith("itemsjs_spark.ops."):
                    bad.append(f"{path.relative_to(PKG)}: {mod}")
    assert not bad, bad
