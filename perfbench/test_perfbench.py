"""Tests of the benchmark's own checks.

Run from the repository root:
    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loop import Checker  # noqa: E402
from probes import ProcTree, digest  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    # the engine's own session builder, as tests/conftest.py uses, so the
    # JVM starts with the engine conf whichever test module runs first
    from gips_spark import get_spark

    s = get_spark("perfbench-test", master="local[1]", shuffle_partitions=2)
    yield s
    s.stop()


def _table(spark):
    return spark.range(1000).selectExpr("id", "id * 0.5 AS x", "cast(id % 7 AS string) AS s")


def test_dropped_output_row_is_a_failure(spark):
    full = _table(spark)
    chk = Checker()
    assert chk.check("warm", digest(full)[0], (1, 1, 1))
    assert chk.check("op0", digest(full.orderBy("s"))[0], (1, 1, 1))  # order does not matter
    assert not chk.check("op1", digest(full.where("id != 500"))[0], (1, 1, 1))
    assert (chk.attempted, chk.failed) == (3, 1)
    assert "op1: output" in chk.errors[0]


def test_changed_value_and_changed_shape_are_failures(spark):
    full = _table(spark)
    chk = Checker()
    chk.check("warm", digest(full)[0], (1, 1, 1))
    changed = full.selectExpr("id", "CASE WHEN id = 3 THEN x + 1 ELSE x END AS x", "s")
    assert not chk.check("op0", digest(changed)[0], (1, 1, 1))
    # same output but fewer tasks: served from a cache
    assert not chk.check("op1", digest(full)[0], (1, 1, 0))
    assert chk.failed == 2


def test_proc_tree_counts_child_cpu():
    tree = ProcTree()
    before = tree.cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        child.wait(timeout=30)
    finally:
        child.kill()
    # the reaped child's CPU lands in this process's cutime
    assert tree.cpu_s() - before >= 0.4
