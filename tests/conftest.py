import os
import re
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


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deeptime-spark-tests")
    yield s


@pytest.fixture
def rng():
    return np.random.default_rng(42)
