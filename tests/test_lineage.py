"""Lineage/resume protocol tests (SURVEY.md §5.2 layers 5–6)."""

import shutil

import pyspark.sql.functions as F

from gips_spark.operators import tile_assign
from gips_spark.plans import lineage
from jobs import run_stage as rs


def _transform(df):
    # run_stage re-derives `bucket` on the output from the key column
    return tile_assign.enrich_pages(df, do_repartition=False).select(
        "url", "geocode_src", "h3_7", "s2_13"
    )


def test_run_resume_idempotent(spark, pages, tmp_path):
    out = str(tmp_path / "stage1")
    m1 = lineage.run_stage(
        spark, "enrich", "run1", pages, _transform, "url", out, n_buckets=8,
        cell_col="h3_7",
    )
    assert m1["buckets_run"] == 8 and m1["rows"] == pages.count()

    # re-run: zero new work
    m2 = lineage.run_stage(
        spark, "enrich", "run2", pages, _transform, "url", out, n_buckets=8,
        cell_col="h3_7",
    )
    assert m2["resumed"] and m2["buckets_run"] == 0

    full = spark.read.parquet(f"{out}/data")
    lin = spark.read.parquet(f"{out}/_lineage")
    assert lin.count() == 8
    n_before = full.count()
    sums_before = {
        r["bucket"]: r["checksum"]
        for r in lin.select("bucket", "checksum").collect()
    }

    # simulate failure: drop two buckets' data and their lineage rows
    for b in (2, 5):
        shutil.rmtree(f"{out}/data/bucket={b}")
    keep = lin.where(~F.col("bucket").isin([2, 5])).cache()
    keep.count()
    shutil.rmtree(f"{out}/_lineage")
    keep.write.parquet(f"{out}/_lineage")

    m3 = lineage.run_stage(
        spark, "enrich", "run3", pages, _transform, "url", out, n_buckets=8,
        cell_col="h3_7",
    )
    assert m3["buckets_run"] == 2

    # identical final state: same rows, same per-bucket checksums
    assert spark.read.parquet(f"{out}/data").count() == n_before
    sums_after = {
        r["bucket"]: r["checksum"]
        for r in spark.read.parquet(f"{out}/_lineage")
        .select("bucket", "checksum")
        .collect()
    }
    assert sums_after == sums_before


def test_cell_prefix_partition_pruning(spark, enriched, tmp_path):
    """Partition pruning reaches the scan: a cell_prefix filter over the
    prefix-partitioned layout shows up as PartitionFilters (SURVEY.md §4
    'spatial pruning before IO')."""
    import contextlib
    import io

    out = str(tmp_path / "pe")
    geo = enriched.where(F.col("cell_prefix") >= 0)
    geo.write.partitionBy("cell_prefix").parquet(out)
    one = geo.select("cell_prefix").first()["cell_prefix"]
    rd = spark.read.parquet(out).where(F.col("cell_prefix") == one)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rd.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell_prefix" in plan
    # and the pruned read returns exactly that prefix's rows
    assert rd.count() == geo.where(F.col("cell_prefix") == one).count()


def test_two_fresh_runs_identical_checksums(spark, pages, tmp_path):
    """Determinism guard: unordered writes / float nondeterminism / salted
    recombination would break this (SURVEY.md §5.2 layer 6)."""
    outs = [str(tmp_path / "a"), str(tmp_path / "b")]
    sums = []
    for o in outs:
        lineage.run_stage(
            spark, "enrich", "r", pages, _transform, "url", o, n_buckets=4,
            cell_col="h3_7",
        )
        lin = spark.read.parquet(f"{o}/_lineage")
        sums.append(
            sorted(
                (r["bucket"], r["row_count"], r["checksum"], str(r["cell_lo"]), str(r["cell_hi"]))
                for r in lin.collect()
            )
        )
    assert sums[0] == sums[1]


def test_empty_buckets_get_manifest_rows(spark, tmp_path):
    """A bucket whose output is empty still gets a lineage row
    (row_count 0), so it is never recomputed on resume (ADVICE r1)."""
    import pandas as pd

    out = str(tmp_path / "empty_b")
    # 3 rows → with 16 buckets most buckets are empty
    df = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "b", "c"], "v": [1, 2, 3]})
    )
    m1 = lineage.run_stage(
        spark, "s", "r1", df, lambda d: d, "url", out, n_buckets=16
    )
    lin = spark.read.parquet(f"{out}/_lineage")
    assert lin.count() == 16
    assert lin.where(F.col("row_count") == 0).count() == 13
    # full resume: zero new work even though most buckets were empty
    m2 = lineage.run_stage(
        spark, "s", "r2", df, lambda d: d, "url", out, n_buckets=16
    )
    assert m2["resumed"] and m2["buckets_run"] == 0


def test_empty_output_gets_manifest_rows(spark, tmp_path):
    """A transform that returns no rows writes no data file at all; every
    bucket still gets a 0-row lineage row, and a re-run is a no-op."""
    import pandas as pd

    out = str(tmp_path / "empty_out")
    df = spark.createDataFrame(pd.DataFrame({"url": ["a", "b", "c"], "v": [1, 2, 3]}))
    m1 = lineage.run_stage(
        spark, "s", "r1", df, lambda d: d.where(F.lit(False)), "url", out, n_buckets=4
    )
    assert m1["buckets_run"] == 4 and m1["rows"] == 0 and not m1["resumed"]
    lin = spark.read.parquet(f"{out}/_lineage")
    assert sorted(
        (r["bucket"], r["row_count"], r["checksum"]) for r in lin.collect()
    ) == [(b, 0, "0") for b in range(4)]
    m2 = lineage.run_stage(
        spark, "s", "r2", df, lambda d: d.where(F.lit(False)), "url", out, n_buckets=4
    )
    assert m2["resumed"] and m2["buckets_run"] == 0
    assert m2.keys() == m1.keys()
    assert spark.read.parquet(f"{out}/_lineage").count() == 4


def test_stage_resume_byte_identical_without_salt(spark, pages, tmp_path):
    """The run_stage._enrich contract: persisted output excludes `salt`
    (histogram-dependent under bucket filtering), so delete-and-resume
    reproduces identical checksums even for the full enrich stage
    (ADVICE r1 medium)."""
    out = str(tmp_path / "enr")
    lineage.run_stage(
        spark, "enrich", "r1", pages, rs._enrich, "url", out, n_buckets=8,
        cell_col="h3_7",
    )
    lin1 = {
        r["bucket"]: r["checksum"]
        for r in spark.read.parquet(f"{out}/_lineage").collect()
    }
    assert "salt" not in spark.read.parquet(f"{out}/data").columns

    for b in (1, 6):
        shutil.rmtree(f"{out}/data/bucket={b}")
    keep = spark.read.parquet(f"{out}/_lineage").where(~F.col("bucket").isin([1, 6])).cache()
    keep.count()
    shutil.rmtree(f"{out}/_lineage")
    keep.write.parquet(f"{out}/_lineage")

    m = lineage.run_stage(
        spark, "enrich", "r2", pages, rs._enrich, "url", out, n_buckets=8,
        cell_col="h3_7",
    )
    assert m["buckets_run"] == 2
    lin2 = {
        r["bucket"]: r["checksum"]
        for r in spark.read.parquet(f"{out}/_lineage").collect()
    }
    assert lin2 == lin1
