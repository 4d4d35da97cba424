"""COVERAGE.md names only code that exists: every backticked `module.attr`
of an Implementation column imports and resolves, and every named file
(and test) is in the tree."""

import importlib
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# backticked names in the Implementation column that are not this engine's code
PROSE = {"pyarrow.dataset"}
QUALIFIED = re.compile(r"[a-z_][\w/]*\.\w+")


def _implementation_names():
    col = None
    for line in open(os.path.join(ROOT, "COVERAGE.md"), encoding="utf-8"):
        if not line.startswith("|"):
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if "Implementation" in cells:
            col = cells.index("Implementation")
        elif col is not None and not set(line) <= set("|-: \n"):
            yield from re.findall(r"`([^`]+)`", cells[col])


def _resolves(name):
    path, _, test = name.partition("::")
    if path.endswith((".py", "/")):
        for base in ("crumble_spark", "tests"):
            f = os.path.join(ROOT, base, path)
            if os.path.exists(f):
                return not test or f"def {test}(" in open(f, encoding="utf-8").read()
        return False
    mod, attr = re.sub(r"\(.*\)$", "", name).replace("/", ".").rsplit(".", 1)
    try:
        return hasattr(importlib.import_module(f"crumble_spark.{mod}"), attr)
    except ImportError:
        return False


def test_coverage_names_only_code_that_exists():
    names = {
        n for n in _implementation_names()
        if n not in PROSE and (QUALIFIED.match(n) or n.endswith("/"))
    }
    assert len(names) > 60  # the parse found the tables
    assert sorted(n for n in names if not _resolves(n)) == []
