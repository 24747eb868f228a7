"""Shared pytest fixtures: one SparkSession per test run + small tables.

Keep the suite fast: local[4], tiny deterministic inputs (pages=2000).
`python -m pytest -x -q` is the mandated gate (BASELINE.json).
"""

from __future__ import annotations

import pytest

from gips_spark import get_spark
from gips_spark.sources import fixtures


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
