"""Per-partition lineage + idempotent resume (BASELINE.json north_rule).

Protocol
--------
A *stage* is a deterministic function `input DF → output DF` plus a
stable record key.  Work is split into ``n_buckets`` hash buckets of the
key (``bucket = pmod(xxhash64(key), n)``, :func:`bucket_of`, the one
bucket hash).  Each completed bucket gets a lineage row:

    run_id, stage, bucket, cell_lo, cell_hi, row_count, checksum, wall_ms

appended to a ``_lineage`` table after the bucket's output lands.  On
resume the driver anti-joins the bucket list against existing lineage
(SURVEY.md §2.3 J8 — the reference's skip-existing `Data.process`
overwrite check): only missing buckets are recomputed and dynamically
overwritten, so

* re-run with complete lineage  → zero new work,
* delete some buckets' data+lineage → only those are recomputed,
  byte-identical (stage determinism is what goldens pin down).

:func:`run_buckets` is the protocol; its callers differ only in how they
write the todo buckets and in the lineage rows that count as done (the
*scope*).  :func:`run_stage` writes ``<out>/data/bucket=<b>/`` and
resumes by stage; ``jobs/ingest_batch.py`` writes catalog tables under
``batch=<id>`` and resumes by (batch id, stage).

The checksum is order-insensitive: sum of per-row xxhash64 over the
output columns, as decimal(38,0) so no overflow ambiguity.  A table
that exists but cannot be read raises: it is never taken for an empty
one.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_COLS = [
    "run_id",
    "stage",
    "bucket",
    "cell_lo",
    "cell_hi",
    "row_count",
    "checksum",
    "wall_ms",
]


def bucket_of(key_col, n_buckets: int):
    return F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")


def _checksum_col(df: DataFrame):
    cols = [F.col(c) for c in sorted(df.columns) if c != "bucket"]
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at `path`, or None when there is none yet: the
    path does not exist, or holds only ``_``/``.`` entries (all that a
    write of no rows leaves).  Any other failure raises."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath) or all(
        st.getPath().getName().startswith(("_", ".")) for st in fs.listStatus(jpath)
    ):
        return None
    return spark.read.parquet(path)


def completed_buckets(
    spark: SparkSession, lineage_path: str, match: dict
) -> set[int]:
    """Buckets with a lineage row whose columns equal `match`."""
    lin = read_table(spark, lineage_path)
    if lin is None:
        return set()
    for col, value in match.items():
        lin = lin.where(F.col(col) == value)
    return {r["bucket"] for r in lin.select("bucket").distinct().collect()}


def _metrics(stage: str, run_id: str, counts: list, wall_ms: int, resumed: bool) -> dict:
    rows = sum(counts)
    med = sorted(counts)[len(counts) // 2] if counts else 0
    return {
        "stage": stage,
        "run_id": run_id,
        "rows": rows,
        "buckets_run": len(counts),
        "wall_ms": wall_ms,
        "rows_per_sec": rows / (wall_ms / 1000.0) if wall_ms else 0.0,
        "skew_ratio": (max(counts) / med) if med else 1.0,
        "resumed": resumed,
    }


def run_buckets(
    spark: SparkSession,
    lineage_path: str,
    stage: str,
    run_id: str,
    n_buckets: int,
    write,
    scope: tuple[str, ...] = ("stage",),
) -> dict:
    """Write the buckets that lineage does not mark done, then record them.

    A bucket is done when `lineage_path` holds a row for it whose
    `scope` columns (of ``run_id`` and ``stage``) equal this call's.
    ``write(todo)`` writes the todo buckets' output and returns
    ``(written, cell)``: what it wrote, read back as the output columns
    plus an int ``bucket``, and the Column whose per-bucket min / max
    is the bucket's cell range.  Every todo bucket then gets one lineage
    row, 0 rows and checksum '0' when its output is empty — otherwise
    it is never marked complete and every resume recomputes it
    (ADVICE r1).

    Returns a metrics dict (stage, run_id, rows, buckets_run, wall_ms,
    rows_per_sec, skew_ratio over bucket row counts, resumed).
    """
    key = {"run_id": run_id, "stage": stage}
    done = completed_buckets(spark, lineage_path, {c: key[c] for c in scope})
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return _metrics(stage, run_id, [], 0, resumed=True)
    t0 = time.monotonic()
    written, cell = write(todo)
    wall_ms = int((time.monotonic() - t0) * 1000)

    written = written.where(F.col("bucket").isin(todo))
    agg = written.groupBy("bucket").agg(
        F.min(cell).alias("cell_lo"),
        F.max(cell).alias("cell_hi"),
        F.count(F.lit(1)).alias("row_count"),
        _checksum_col(written).cast("string").alias("checksum"),
    )
    todo_df = spark.createDataFrame([(int(b),) for b in todo], "bucket int")
    manifest = (
        todo_df.join(agg, "bucket", "left")
        .withColumn("row_count", F.coalesce(F.col("row_count"), F.lit(0)))
        .withColumn("checksum", F.coalesce(F.col("checksum"), F.lit("0")))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("wall_ms", F.lit(wall_ms))
        .select(*LINEAGE_COLS)
        .cache()  # one scan of the output serves the append and the metrics
    )
    manifest.write.mode("append").parquet(lineage_path)
    counts = [r["row_count"] for r in manifest.select("row_count").collect()]
    manifest.unpersist()
    return _metrics(stage, run_id, counts, wall_ms, resumed=False)


def run_stage(
    spark: SparkSession,
    stage: str,
    run_id: str,
    in_df: DataFrame,
    transform,
    key_col: str,
    out_path: str,
    n_buckets: int = 32,
    cell_col: str | None = None,
) -> dict:
    """Run `transform` incrementally over hash buckets of `key_col`.

    Output lands in ``<out_path>/data/bucket=<b>/`` and lineage in
    ``<out_path>/_lineage``; a bucket done by any earlier run of `stage`
    is skipped.  Returns :func:`run_buckets`' metrics dict.
    """
    data = f"{out_path}/data"

    def write(todo):
        bucketed = in_df.withColumn("bucket", bucket_of(F.col(key_col), n_buckets))
        if len(todo) < n_buckets:
            bucketed = bucketed.where(F.col("bucket").isin(todo))
        out = transform(bucketed)
        if "bucket" not in out.columns:
            out = out.withColumn("bucket", bucket_of(F.col(key_col), n_buckets))
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        out.write.mode("overwrite").partitionBy("bucket").parquet(data)
        cell = F.col(cell_col) if cell_col in out.columns else F.lit(None)
        return spark.read.schema(out.schema).parquet(data), cell

    return run_buckets(spark, f"{out_path}/_lineage", stage, run_id, n_buckets, write)
