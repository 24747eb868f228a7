"""Repository checks that need no Spark: every top-level definition in
gips_spark/ is reached from an entry point, and the contract gate and
the tests import the tree they live in."""

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

#: top-level gips_spark definitions that no entry point reaches, each
#: kept as the sole implementation of an operator SURVEY.md names (its
#: COVERAGE.md row says it has no production caller) or as a helper of
#: one; the list only shrinks (`test_every_gips_spark_definition_is_reached`)
TEST_ONLY = {
    # relational: GIPS inventory semantics
    ("gips_spark.operators.relational", "SENSOR_RANK"): "J6 sensor preference order",
    ("gips_spark.operators.relational", "ASSET_LATENCY_DAYS"): "J7 per-sensor latency window",
    ("gips_spark.operators.relational", "inventory"): "F1-F4, F7 inventory filters",
    ("gips_spark.operators.relational", "best_scene_per_tile_date"): "J6 sensor preference",
    ("gips_spark.operators.relational", "coverage_calendar"): "A2 coverage aggregation",
    ("gips_spark.operators.relational", "inventory_summary"): "A5 count-distinct summary",
    ("gips_spark.operators.relational", "missing_products"): "F5 product-availability anti join",
    ("gips_spark.operators.relational", "parse_scene_id"): "S1 filename parse",
    ("gips_spark.operators.relational", "scenes_in_window"): "J7 latency range join",
    ("gips_spark.operators.relational", "tile_timeseries"): "W3 moving mean + lag",
    # catalog: sinks and the scan
    ("gips_spark.sources.catalog", "read_table"): "S1 archive scan",
    ("gips_spark.sources.catalog", "write_project_dir"): "S7 project-dir sink",
    ("gips_spark.sources.catalog", "write_stats_csv"): "S8 byte-stable stats CSV",
    # fetch: T15 distributed manifest fetch
    ("gips_spark.sources.fetch", "FETCH_STATUS_SCHEMA"): "T15 fetch status rows",
    ("gips_spark.sources.fetch", "_CHUNK"): "T15 chunked write size",
    ("gips_spark.sources.fetch", "_backoff_s"): "T15 retry backoff",
    ("gips_spark.sources.fetch", "_sha256_file"): "T15 checksum verification",
    ("gips_spark.sources.fetch", "fetch_assets"): "T15 fetch kernel",
    ("gips_spark.sources.fetch", "repartition_by_host"): "T15 per-host politeness",
    # similarity: T5 names IVF
    ("gips_spark.operators.similarity", "ivf_topk"): "T5 IVF top-k",
    ("gips_spark.operators.similarity", "_MAX_BLOCK_ELEMS"): "T5 IVF distance block cap",
    ("gips_spark.operators.similarity", "_sq_dists"): "T5 IVF distance block",
    ("gips_spark.operators.similarity", "_nearest_chunked"): "T5 IVF centroid assignment",
    ("gips_spark.operators.similarity", "_probe_chunked"): "T5 IVF probe order",
    ("gips_spark.operators.similarity", "_centroid_update"): "T5 IVF Lloyd update",
    ("gips_spark.operators.similarity", "_kmeans"): "T5 IVF seed k-means",
    ("gips_spark.operators.similarity", "_refine_distributed"): "T5 IVF distributed refinement",
    # dedup: the T2 scale paths
    ("gips_spark.operators.dedup", "ngram_jaccard_pairs"): "T2 n-gram Jaccard pairs",
    ("gips_spark.operators.dedup", "embedding_dedup_pairs"): "T2 embedding near-dup pairs",
    # zonal: ACCA masks (X5) and composites (A3)
    ("gips_spark.operators.zonal", "_ACCA_HIST_SCHEMA"): "X5 ACCA pass-two histogram",
    ("gips_spark.operators.zonal", "acca_mask"): "X5 ACCA distributed two-pass mask",
    ("gips_spark.operators.zonal", "acca_cloud_mask"): "X5 ACCA binary cloudmask",
    ("gips_spark.operators.zonal", "apply_mask"): "X5 mask application",
    ("gips_spark.operators.zonal", "scene_band_means"): "A3 composite input",
    ("gips_spark.operators.zonal", "temporal_composite"): "A3 max-value composite",
    # one each
    ("gips_spark.operators.pip_join", "coverage_fractions"): "F6 coverage thresholds",
    ("gips_spark.operators.tile_assign", "latest_per_url"): "J6 latest crawl per url",
    ("gips_spark.operators.qa", "qa_unpack_array"): "X5 array QA unpack",
    ("gips_spark.operators.footprint", "scenes_with_cells"): "SURVEY 1.2 h3_cells column",
    ("gips_spark.operators.atmos", "apply_gain_offset"): "X6 gain/offset hook",
    # s2: the round-trip oracle, beside the private Hilbert tables it reads
    ("gips_spark.functions.s2", "cell_to_center_latlng"): "S2 round-trip oracle",
    ("gips_spark.functions.s2", "cell_level"): "S2 round-trip oracle",
    ("gips_spark.functions.s2", "st_to_uv"): "S2 round-trip oracle",
    # fixtures: the thermal band ACCA needs
    ("gips_spark.sources.fixtures", "gen_thermal_chunks"): "X5 ACCA thermal fixture",
    ("gips_spark.sources.fixtures", "gen_thermal_chunks_pdf"): "X5 ACCA thermal fixture",
    # the H3 migration seam COVERAGE.md documents
    ("gips_spark.functions.h3lite", "k_ring"): "tests/test_h3lite.py checks cell_boundary by it",
    ("gips_spark.functions.cellindex", "cell_to_latlng"): "the seam's second function",
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


def _is_test(mod: str) -> bool:
    return mod.split(".")[0] == "tests" or mod == "perfbench.test_perfbench"


def test_every_gips_spark_definition_is_reached():
    """Every top-level function, class or constant in gips_spark/ is
    reached from an entry point, or is on TEST_ONLY.

    The roots are every top-level statement of every Python file outside
    the tests, except gips_spark's own definitions; `_references` is
    followed from them through the definitions it reaches.  Fails on a
    definition that only tests reach, on one that nothing names (its
    own statement aside), and on a TEST_ONLY entry that is reached or
    no longer exists."""
    definitions, named, refs, roots = [], {}, {}, []
    for mod, init, tree in _modules():
        aliases = _aliases(mod, init, tree)
        for i, stmt in enumerate(tree.body):
            refs[(mod, i)] = _references(mod, init, stmt, aliases)
            for ref in refs[(mod, i)]:
                named.setdefault(ref, set()).add((mod, i))
            names = _defined(stmt) if mod.startswith("gips_spark") else []
            definitions += [(mod, name, i) for name in names]
            if not names and not _is_test(mod):
                roots.append((mod, i))
    assert len(definitions) > 300 and len(roots) > 300
    stmts = {}
    for mod, name, i in definitions:
        stmts.setdefault((mod, name), set()).add((mod, i))
        stmts.setdefault((None, name), set()).add((mod, i))
    reached, todo = set(), list(roots)
    while todo:
        for ref in refs[todo.pop()]:
            new = stmts.get(ref, set()) - reached
            reached |= new
            todo += new
    unreached = {
        f"{mod}.{name}": bool(
            (named.get((mod, name), set()) | named.get((None, name), set())) - {(mod, i)}
        )
        for mod, name, i in definitions
        if (mod, i) not in reached
        and (mod, name) not in TEST_ONLY
        and not (name.startswith("__") and name.endswith("__"))
    }
    found = {
        "named by nothing": [d for d, by_tests in unreached.items() if not by_tests],
        "reached only from tests": [d for d, by_tests in unreached.items() if by_tests],
        "stale TEST_ONLY entries": [
            f"{mod}.{name}" for mod, name in TEST_ONLY
            if not stmts.get((mod, name)) or stmts[(mod, name)] & reached
        ],
    }
    assert found == {kind: [] for kind in found}


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
