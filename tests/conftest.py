"""Shared pytest fixtures: one SparkSession per test run + small tables.

Keep the suite fast: local[4], tiny deterministic inputs (pages=2000).
`python -m pytest -x -q` is the mandated gate (BASELINE.json).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from gips_spark import get_spark
from gips_spark.sources import fixtures

_LOCAL_DIRS = pytest.StashKey[list]()


def pytest_configure(config):
    """Set up the test JVM's host resources before any JVM starts.

    * Its own subdirectory of each SPARK_LOCAL_DIRS entry: a JVM that is
      killed leaves its blockmgr-* dirs behind, and a shared local dir
      then fills up.
    * A driver heap of a third of physical memory at most (get_spark's
      default is 16g): on a 15 GB host the 10^5-query kNN test grew the
      JVM past the host's memory, and once the kernel killed it every
      later Spark test failed.
    """
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(16 * 1024, phys_mb // 3)}m")
    base = os.environ.get("SPARK_LOCAL_DIRS")
    dirs = [
        tempfile.mkdtemp(prefix=f"gips-tests-{os.getpid()}-", dir=d)
        for d in (base.split(",") if base else [])
    ]
    config.stash[_LOCAL_DIRS] = dirs
    if dirs:
        os.environ["SPARK_LOCAL_DIRS"] = ",".join(dirs)


def pytest_unconfigure(config):
    for d in config.stash.get(_LOCAL_DIRS, []):
        shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gips-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages(spark):
    return fixtures.gen_pages(spark, 2000).cache()


@pytest.fixture(scope="session")
def enriched(spark, pages):
    from gips_spark.operators import tile_assign

    return tile_assign.enrich_pages(
        pages, salt_target_rows=20, with_text=True
    ).cache()


@pytest.fixture(scope="session")
def extents(spark):
    return fixtures.gen_extents(spark).cache()


@pytest.fixture(scope="session")
def directory(spark, enriched):
    from gips_spark.operators import cell_directory

    return cell_directory.build_cell_directory(enriched).cache()


@pytest.fixture(scope="session")
def raster_chunks(spark):
    return fixtures.gen_raster_chunks(spark, 12).cache()


@pytest.fixture(scope="session")
def scenes(spark):
    return fixtures.gen_scenes(spark).cache()
