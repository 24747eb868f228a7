"""The living docs name only scripts and jobs that exist.

README.md, COVERAGE.md and the verify skill tell a reader which script
or job to run; a removed file must take its pointers with it.  Dated
records (BENCH/, CHANGES.md, OPTIMIZATION_r06.md) keep the names they
were written with and are out of scope."""

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
DOCS = ("README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md")
PATH_RE = re.compile(r"\b(?:scripts|jobs)/[\w-]+\.[A-Za-z]+")


def test_docs_name_existing_scripts_and_jobs():
    named = {(doc, p) for doc in DOCS for p in PATH_RE.findall((REPO / doc).read_text())}
    assert len(named) > 5
    missing = sorted(f"{doc}: {p}" for doc, p in named if not (REPO / p).is_file())
    assert missing == []
