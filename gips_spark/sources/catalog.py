"""Catalog IO: Iceberg when the runtime has it, partitioned Parquet fallback.

The production design (SURVEY.md §1.2/§7.6) reads/writes Iceberg tables
partitioned by cell prefix; this sandbox has no Iceberg jars, so the
same API falls back to Parquet + the engine's own lineage manifests
(plans/lineage.py, the one per-bucket resume protocol; jobs/ingest_batch.py
writes through write_table and resumes through it), which the engine
needs anyway for resume.

Sinks mirror the reference's outputs:
* write_project_dir — GIPS project-directory sink (`gips/tiles.py ::
  Tiles.project`): per-date partitioned product files (S7);
* write_stats_csv   — GIPS `gips_stats` CSV sink (S8), canonically
  ordered + %.6f floats so files are byte-stable (O2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gips_spark.plans.lineage import bucket_of


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def write_table(
    spark: SparkSession,
    df: DataFrame,
    name_or_path: str,
    partition_cols: tuple[str, ...] = (),
    mode: str = "append",
    bucket_by: tuple[int, str] | None = None,
) -> str:
    """Append/overwrite a table. Iceberg `writeTo` when jars exist, else
    partitioned parquet at the given path. Returns the engine used.

    ``bucket_by=(n, col)`` mirrors Iceberg's ``bucket(n, col)`` partition
    transform.  The parquet fallback pins the SAME physical layout an
    Iceberg bucketed write produces — a ``{col}_bucket=<b>/`` directory
    level with exactly one file per bucket (repartitioned on the bucket
    key before the write) — so a cluster run with real jars changes the
    catalog entry, not the file layout.  (Hash family differs: Iceberg
    buckets with Murmur3, the fallback with ``lineage.bucket_of``'s
    xxhash64 — layout-equivalent, documented — so the fallback's buckets
    are the ones the lineage protocol resumes by.)"""
    if iceberg_available(spark) and not name_or_path.startswith(("/", "file:")):
        w = df.writeTo(name_or_path)
        parts = [F.col(c) for c in partition_cols]
        if bucket_by:
            parts.append(F.bucket(bucket_by[0], bucket_by[1]))
        if parts:
            w = w.partitionedBy(*parts)
        if mode == "overwrite" and parts:
            # dynamic partition overwrite: replace ONLY the partitions
            # present in `df` — createOrReplace() is a WHOLE-TABLE
            # replace, which broke the ingest job's per-(batch,bucket)
            # idempotent-resume contract on the Iceberg path (ADVICE
            # r5 medium).  The table's existence is decided BEFORE the
            # write, so a failed overwrite raises instead of turning
            # into a whole-table replace.
            if spark.catalog.tableExists(name_or_path):
                w.overwritePartitions()
            else:
                w.createOrReplace()
        else:
            (w.createOrReplace() if mode == "overwrite" else w.append())
        return "iceberg"
    out_cols = list(partition_cols)
    if bucket_by:
        n, col = bucket_by
        bcol = f"{col}_bucket"
        df = df.withColumn(bcol, bucket_of(F.col(col), n))
        out_cols.append(bcol)
        df = df.repartition(*[F.col(c) for c in out_cols])
    w = df.write.mode(mode)
    if out_cols:
        w = w.partitionBy(*out_cols)
    w.parquet(name_or_path)
    return "parquet"


def read_table(spark: SparkSession, name_or_path: str) -> DataFrame:
    if iceberg_available(spark) and not name_or_path.startswith(("/", "file:")):
        return spark.read.table(name_or_path)
    return spark.read.parquet(name_or_path)


def write_project_dir(df: DataFrame, out_dir: str, date_col: str = "acq_date") -> None:
    """S7 — per-date project-directory sink (GIPS `<date>_<sensor>_<prod>`
    layout becomes `date=<d>/` parquet partitions)."""
    df.withColumn("date", F.col(date_col).cast("string")).write.mode(
        "overwrite"
    ).partitionBy("date").parquet(out_dir)


def write_stats_csv(stats: DataFrame, out_path: str) -> None:
    """S8 — zonal-stats CSV, byte-stable: canonical row order (O2), %.6f."""
    cols = stats.columns
    formatted = stats.select(
        *[
            F.format_string("%.6f", F.col(c)).alias(c)
            if dict(stats.dtypes)[c] in ("double", "float")
            else F.col(c).cast("string").alias(c)
            for c in cols
        ]
    )
    formatted.orderBy(*cols).coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(out_path)
