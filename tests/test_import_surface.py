"""Every package name the benchmark and the tools import must exist.

`perfbench/` is frozen, so a rename or move inside the package would
break it silently until the next benchmark run; this scan (no Spark
session) catches that at test time."""

import ast
import glob
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ("perfbench/*.py", "bench.py", "bench_extra.py", "tools/*.py")


def _package_imports():
    """(file, module, name) for every `from lightly_ocr_spark... import
    name` in the scanned sources."""
    found = []
    for pattern in SOURCES:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern))):
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                if (isinstance(node, ast.ImportFrom) and node.module
                        and node.module.split(".")[0] == "lightly_ocr_spark"):
                    found += [(os.path.relpath(path, ROOT), node.module,
                               alias.name) for alias in node.names]
    return found


def test_benchmark_and_tool_imports_resolve():
    imports = _package_imports()
    assert imports, "scan found no package imports"
    missing = []
    for path, module, name in imports:
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{path}: from {module} import {name}")
    assert not missing, missing
