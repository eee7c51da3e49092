import ast
import os
import re
from collections import Counter
from pathlib import Path

import numpy as np
import pytest

from deeptime_spark.session import get_spark

ROOT = Path(__file__).resolve().parent.parent
_SKIP_DIRS = {"__pycache__", "spark-warehouse"}


def python_sources(under: str = "") -> dict[str, str]:
    """``{repo-relative posix path: text}`` of every ``.py`` file under
    ``ROOT/under``, found by walking the tree, so source-scan guards run in
    any copy of the repo, git checkout or not. Hidden directories (``.git``,
    benchmark run directories like ``.perfbench``), ``__pycache__`` and ``spark-warehouse``
    are skipped; no tracked source lives there, so the walk covers every
    tracked file and a guard over it is never looser than one over
    ``git ls-files``."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(ROOT / under):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d not in _SKIP_DIRS]
        for name in filenames:
            if name.endswith(".py"):
                path = Path(dirpath, name)
                out[path.relative_to(ROOT).as_posix()] = path.read_text(encoding="utf-8")
    return out


def matching_defs(pattern: str, under: str = "deeptime_spark") -> set[tuple[str, str]]:
    """``(path, top-level def or class)`` of every source line under
    ``under`` that matches the regex ``pattern`` (``None`` for module-level
    lines)."""
    found = set()
    for path, text in python_sources(under).items():
        scope = None
        for line in text.splitlines():
            if line.startswith(("def ", "class ")):
                scope = re.match(r"(?:def|class) (\w+)", line).group(1)
            if re.search(pattern, line):
                found.add((path, scope))
    return found


def matching_scopes(pattern: str, under: str = "deeptime_spark") -> Counter:
    """How many source lines under ``under`` match the regex ``pattern``, by
    ``(path, innermost def or class)``; nested scopes are dotted
    (``Class.method.inner``), module-level lines are ``None``."""
    found = Counter()
    for path, text in python_sources(under).items():
        scopes = []  # (first line, last line, dotted name), outer before inner

        def visit(node, prefix):
            for child in ast.iter_child_nodes(node):
                name = prefix
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    name = f"{prefix}.{child.name}" if prefix else child.name
                    scopes.append((child.lineno, child.end_lineno, name))
                visit(child, name)

        visit(ast.parse(text), "")
        for n, line in enumerate(text.splitlines(), 1):
            if re.search(pattern, line):
                inner = [name for first, last, name in scopes if first <= n <= last]
                found[(path, inner[-1] if inner else None)] += 1
    return found


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deeptime-spark-tests")
    yield s


@pytest.fixture
def rng():
    return np.random.default_rng(42)
