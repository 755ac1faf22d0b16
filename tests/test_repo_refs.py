"""Static check (no Spark session): every repo-relative ``.py`` path named in
engine code, scripts, tests, the driver entry point or the verify notes
exists, so comments and docstrings cannot keep pointing at renamed or
deleted files."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# A path starts at a top-level package dir; the lookbehind skips paths that
# are suffixes of longer ones (``/root/x/tests/a.py``, ``perfbench_tests/``).
REF = re.compile(r"(?<![\w/.-])(?:hadoop_spark|scripts|tests|perfbench)/[\w/]+\.py")


def _sources() -> list[Path]:
    files = [
        *sorted((ROOT / "hadoop_spark").rglob("*.py")),
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted((ROOT / "tests").glob("*.py")),
        ROOT / "__spark_entry__.py",
        ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
    ]
    return [f for f in files if f.exists()]


def test_referenced_repo_paths_exist():
    refs = 0
    missing = []
    for src in _sources():
        for lineno, line in enumerate(src.read_text().splitlines(), 1):
            for ref in REF.findall(line):
                refs += 1
                if not (ROOT / ref).is_file():
                    missing.append(f"{src.relative_to(ROOT)}:{lineno}: {ref}")
    assert refs, "the scan found no references at all"
    assert missing == []


def test_trace_hooks_resolve():
    """perfbench's tracer rebinds every ``(module, name)`` in its
    ``WRAPPED`` table, so an engine rename would break ``--trace 1`` runs,
    which the test suite does not exercise. Read the table without
    importing perfbench and resolve each hook."""
    import ast
    import importlib

    tree = ast.parse((ROOT / "perfbench" / "tracing.py").read_text())
    (wrapped,) = [
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "WRAPPED" for t in node.targets)
    ]
    assert wrapped, "WRAPPED is empty"
    broken = []
    for module, names, _span in wrapped:
        mod = importlib.import_module(module)
        broken += [f"{module}.{n}" for n in names if not callable(getattr(mod, n, None))]
    assert broken == []
