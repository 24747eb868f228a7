"""The living docs name only scripts, jobs and code that exist.

README.md, COVERAGE.md and the verify skill tell a reader which script
or job to run and which function does what; a removed or renamed file
or definition must take its pointers with it.  Dated records (BENCH/,
CHANGES.md, OPTIMIZATION_r06.md) keep the names they were written with
and are out of scope.  Nothing here imports Spark or the package."""

import ast
import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
DOCS = ("README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md")
PATH_RE = re.compile(r"\b(?:scripts|jobs)/[\w-]+\.[A-Za-z]+")
#: a backticked span; its `module.name` or `module.name(...)` tail
SPAN_RE = re.compile(r"`([^`\n]+)`")
REF_RE = re.compile(r"(?:^|\.)(\w+)\.(\w+)(?:\(.*\))?$")


def test_docs_name_existing_scripts_and_jobs():
    named = {(doc, p) for doc in DOCS for p in PATH_RE.findall((REPO / doc).read_text())}
    assert len(named) > 5
    missing = sorted(f"{doc}: {p}" for doc, p in named if not (REPO / p).is_file())
    assert missing == []


def _top_level_names(path: Path) -> set:
    """The functions, classes and assigned names at the top of a module."""
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
    return names


def test_docs_name_existing_definitions():
    """A backticked `module.name` (or `module.name(...)`) whose module is
    the stem of a gips_spark module names a top-level definition of it.
    perfbench's metric names (BENCHMARK.json) are not code references."""
    defs = {}
    for path in (REPO / "gips_spark").rglob("*.py"):
        if path.stem != "__init__":
            defs.setdefault(path.stem, set()).update(_top_level_names(path))
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    metrics = {m["name"] for kind in ("end_to_end", "per_layer") for m in bench[kind]}
    resolved, missing = 0, []
    for doc in DOCS:
        for span in SPAN_RE.findall((REPO / doc).read_text()):
            m = REF_RE.search(span.strip())
            if not m or m.group(1) not in defs or span.strip() in metrics:
                continue
            if m.group(2) in defs[m.group(1)]:
                resolved += 1
            else:
                missing.append(f"{doc}: {span}")
    assert resolved > 40
    assert missing == []
