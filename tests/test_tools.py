"""The tools/ scripts as the docs and the package name them. Starts no
Spark session.

- Every ``tools/<name>.py`` that the package, the tests, the docs or
  the verify skill names exists. A deleted probe is cited as
  ``git show <commit>:tools/<name>.py`` next to the record of its
  finding, which this check allows.
- No tool or test hard-codes this checkout's path: each finds the
  repo root from its own ``__file__``, so a run from a second checkout
  (say, a copy of a parent commit for a before/after) imports and
  starts that checkout's sif_spark and tools, not another's."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = [
    "sif_spark", "tests", "docs", ".claude/skills",
    "README.md", "COVERAGE.md", "CLUSTER.md", "SCALE.md",
]
MENTION = re.compile(r"(git show \S+:)?\btools/([A-Za-z0-9_]+)\.py")


def _files():
    for name in SCANNED:
        p = ROOT / name
        yield from (
            sorted(f for f in p.rglob("*") if f.is_file()
                   and "__pycache__" not in f.parts)
            if p.is_dir() else [p]
        )


def test_every_named_tool_exists():
    missing = set()
    for f in _files():
        text = f.read_text(errors="ignore")
        for m in MENTION.finditer(text):
            if m.group(1) is None and not (
                ROOT / "tools" / f"{m.group(2)}.py"
            ).is_file():
                missing.add((str(f.relative_to(ROOT)), m.group(2)))
    assert not missing, sorted(missing)


def test_no_tool_hard_codes_a_checkout_path():
    bad = [
        str(f.relative_to(ROOT))
        for d in ("tools", "tests")
        for f in sorted((ROOT / d).glob("*.py"))
        if str(ROOT) in f.read_text()
    ]
    assert not bad, bad
