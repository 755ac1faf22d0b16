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
