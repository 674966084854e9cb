"""Every tools/*.py and tests/*.py path the living docs name must exist,
so the docs cannot keep pointing at deleted tools.  Historical records
(PLANS.md, OPTIMIZATION_r*.md, VERDICT.md) are exempt."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = [
    "README.md",
    "COVERAGE.md",
    "perfbench/README.md",
    ".claude/skills/verify/SKILL.md",
]
_PATH = re.compile(r"(?<![\w./-])(?:tools|tests)/[\w./-]*?\.py\b")


def test_doc_paths_exist():
    missing = []
    for doc in DOCS:
        path = os.path.join(REPO, doc)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                for ref in _PATH.findall(line):
                    if not os.path.exists(os.path.join(REPO, ref)):
                        missing.append(f"{doc}:{lineno}: {ref}")
    assert missing == [], missing
