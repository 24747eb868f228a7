"""Repository checks that need no Spark: every top-level definition in
gips_spark/ has a reader, and the contract gate and the tests import
the tree they live in."""

from __future__ import annotations

import ast
import os
import re
import shutil
import subprocess
import sys
import warnings
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# named by nothing else, kept on purpose
KEPT = {
    # tests/test_h3lite.py checks cell_boundary against it
    ("gips_spark.functions.h3lite", "k_ring"),
    # the H3 migration seam COVERAGE.md documents, and the half of its
    # two-function interface that no operator calls yet
    ("gips_spark.functions.cellindex", "_RealH3Backend"),
    ("gips_spark.functions.cellindex", "cell_to_latlng"),
}


def _py_files():
    """Every Python file in the repo outside dot-directories."""
    for path in sorted(REPO.rglob("*.py")):
        if not any(part.startswith(".") for part in path.relative_to(REPO).parts):
            yield path


def _modules():
    """(dotted module name, is a package __init__, AST) of every Python
    file in the repo outside dot-directories."""
    for path in _py_files():
        rel = path.relative_to(REPO)
        parts = rel.with_suffix("").parts
        init = parts[-1] == "__init__"
        with warnings.catch_warnings():  # invalid escapes in docstrings
            warnings.simplefilter("ignore")
            tree = ast.parse(path.read_text(), str(rel))
        yield ".".join(parts[:-1] if init else parts), init, tree


def _aliases(mod: str, init: bool, tree) -> dict:
    """Local name → the dotted name it is bound to by an import."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = a.name if a.asname else a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(mod, init, node)
            for a in node.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
    return out


def _import_base(mod: str, init: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module
    pkg = mod.split(".") if init else mod.split(".")[:-1]
    pkg = pkg[: len(pkg) - node.level + 1]
    return ".".join(pkg + ([node.module] if node.module else []))


def _references(mod: str, init: bool, stmt, aliases: dict) -> set:
    """(module, name) pairs that `stmt` names: a name loaded in its own
    module, a name imported from a module, an attribute of a name bound
    to a module; a string that spells a name counts for every module
    (module None)."""
    refs = set()
    for node in ast.walk(stmt):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.add((mod, node.id))
        elif isinstance(node, ast.ImportFrom):
            refs.update((_import_base(mod, init, node), a.name) for a in node.names)
        elif isinstance(node, ast.Attribute):
            head, _, rest = _dotted(node.value).partition(".")
            if head in aliases:
                refs.add((".".join(filter(None, [aliases[head], rest])), node.attr))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value.isidentifier():
            refs.add((None, node.value))
    return refs


def _dotted(node) -> str:
    """`a.b.c` for a chain of attributes on a name, else ''."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return head and f"{head}.{node.attr}"
    return ""


def _defined(stmt) -> list:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
    return [t.id for t in targets if isinstance(t, ast.Name)]


def test_every_gips_spark_definition_is_named_elsewhere():
    """A top-level function, class or constant in gips_spark/ that no
    file names outside its own definition (tests included) is dead."""
    definitions, named = [], {}
    for mod, init, tree in _modules():
        aliases = _aliases(mod, init, tree)
        for i, stmt in enumerate(tree.body):
            for ref in _references(mod, init, stmt, aliases):
                named.setdefault(ref, set()).add((mod, i))
            if mod.startswith("gips_spark"):
                definitions += [(mod, name, i) for name in _defined(stmt)]
    assert len(definitions) > 300
    dead = [
        f"{mod}.{name}"
        for mod, name, i in definitions
        if not (name.startswith("__") and name.endswith("__"))
        and (mod, name) not in KEPT
        and not (named.get((mod, name), set()) | named.get((None, name), set())) - {(mod, i)}
    ]
    assert dead == []


def test_check_entry_imports_its_own_tree(tmp_path):
    """A copy of scripts/check_entry.py imports __spark_entry__ and
    gips_spark from the tree it was copied into, whatever the working
    directory."""
    (tmp_path / "scripts").mkdir()
    shutil.copy(REPO / "scripts" / "check_entry.py", tmp_path / "scripts")
    (tmp_path / "__spark_entry__.py").write_text("")
    (tmp_path / "gips_spark").mkdir()
    (tmp_path / "gips_spark" / "__init__.py").write_text("get_spark = None\n")
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    load = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('check_entry', sys.argv[1])\n"
        "m = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(m)\n"
        "import gips_spark\n"
        "print(m.entrymod.__file__)\n"
        "print(gips_spark.__file__)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", load, str(tmp_path / "scripts" / "check_entry.py")],
        cwd=elsewhere, env=env, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert out == [
        str(tmp_path / "__spark_entry__.py"),
        str(tmp_path / "gips_spark" / "__init__.py"),
    ]


def test_no_file_pins_a_checkout_path():
    """No Python file spells this checkout's absolute path or puts an
    absolute path literal on sys.path: run from a copy of the tree, such
    a file would import the modules at that path instead of its own."""
    pinned = re.compile(
        rf"""["']{re.escape(str(REPO))}[/"']|sys\.path\.(?:insert|append)\([^)]*["']/"""
    )
    assert [str(p.relative_to(REPO)) for p in _py_files() if pinned.search(p.read_text())] == []
