"""Lineage-resumable incremental corpus ingest (VERDICT r4 next #2).

The daily-ingest JOB shape around the incremental dedup operators
(operators/dedup.py: build_dedup_index / incremental_exact_dedup): a new
crawl batch is deduped against the persisted key index — corpus text is
never rescanned — and the survivors are appended to the corpus plus BOTH
index tables, with per-bucket lineage rows so a killed run resumes
idempotently.  Mirrors the reference's incremental-archive contract
(`gips/data/core.py :: Asset.archive` + `Data.process` skip-existing):
work already on disk is detected and skipped, re-runs are no-ops.

Corpus layout under ``root/`` (all via sources.catalog.write_table, so a
real Iceberg catalog changes the catalog entry, not the layout):

    corpus/  batch=<bid>/<id>_bucket=<b>/      survivor documents
    keys/    batch=<bid>/tkey1_bucket=<b>/     (tkey1, tkey2, canonical_id)
    bands/   batch=<bid>/bkey_bucket=<b>/      (band, bkey, id, sig)
    assign/  batch=<bid>/<id>_bucket=<b>/      (id, canonical_id) verdicts
    _lineage/                                  run_id, stage, bucket, …

Idempotency model: every table is partitioned by (batch, bucket) and
written with DYNAMIC partition overwrite — re-running a batch can only
replace that batch's own partitions, never duplicate them (the Iceberg
analog is a static-partition overwrite).  Resume and lineage are
plans/lineage.py's one protocol (``run_buckets``, scoped by batch id and
stage, bucketed by ``lineage.bucket_of``): per (stage, bucket) a lineage
row (row_count + order-insensitive xxhash64 checksum) is appended AFTER
the bucket's data lands, and only buckets without one are recomputed.
This module owns only the catalog write under ``batch=<id>`` and the
batch filter on the read-back.  Deleting a bucket's data dir + its
lineage row re-creates exactly that bucket with identical
content/checksum (stage determinism), which the two-batch pytest pins
end-to-end.  A corpus table that exists but cannot be read raises; it
is never taken for an empty corpus.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gips_spark.operators import dedup  # noqa: E402
from gips_spark.plans import lineage  # noqa: E402
from gips_spark.sources import catalog  # noqa: E402


def _write_stage(
    spark: SparkSession,
    root: str,
    batch_id: str,
    stage: str,
    df: DataFrame,
    bucket_on: str,
    n_buckets: int,
) -> dict:
    """Write `df`'s missing buckets for (batch, stage) + lineage rows
    (plans/lineage.py's protocol, scoped by batch id and stage).

    Returns lineage.run_buckets' metrics dict — the north_rule per-stage
    metrics surface."""
    table = f"{root}/{stage}"
    bcol = f"{bucket_on}_bucket"

    def write(todo):
        out = df.withColumn("batch", F.lit(batch_id))
        if len(todo) < n_buckets:
            out = out.where(lineage.bucket_of(F.col(bucket_on), n_buckets).isin(todo))
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        catalog.write_table(
            spark, out, table,
            partition_cols=("batch",), mode="overwrite",
            bucket_by=(n_buckets, bucket_on),
        )
        on_disk = T.StructType(out.schema.fields + [T.StructField(bcol, T.IntegerType())])
        written = (
            spark.read.schema(on_disk).parquet(table)
            .where(F.col("batch") == batch_id)
            .drop("batch")
            .withColumnRenamed(bcol, "bucket")
        )
        # no cell column: the range stays null, typed string as in every
        # existing corpus's lineage (a _lineage dir cannot mix types)
        return written, F.lit(None).cast("string")

    return lineage.run_buckets(
        spark, f"{root}/_lineage", stage, batch_id, n_buckets, write,
        scope=("run_id", "stage"),
    )


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: str,
    root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle: int = 5,
    n_buckets: int = 8,
) -> dict:
    """Ingest one batch against the corpus at `root`; resumable.

    Dedup verdicts for EVERY batch row land in assign/; survivors
    (id == canonical_id, i.e. texts new to the corpus, batch-min id per
    text) are appended to corpus/ + keys/ + bands/.  Safe to re-run
    after any crash: completed (stage, bucket) pairs are skipped via
    lineage, partial ones are dynamically overwritten with identical
    content (checksums pinned by tests/test_lineage.py).
    """
    corpus_keys = lineage.read_table(spark, f"{root}/keys")
    if corpus_keys is None:
        corpus_keys = spark.createDataFrame(
            [], "tkey1 bigint, tkey2 bigint, canonical_id bigint"
        )
    else:
        corpus_keys = corpus_keys.select("tkey1", "tkey2", "canonical_id")

    # checkpointed, not cached: a cached plan that scans keys/ is
    # re-cached when the keys stage writes keys/, and the bands stage
    # would run the dedup join again against the re-listed table
    assign = dedup.incremental_exact_dedup(corpus_keys, batch, id_col, text_col)
    assign = assign.select(F.col("id").alias(id_col), "canonical_id").localCheckpoint()
    survivors = (
        batch.join(
            assign.where(F.col(id_col) == F.col("canonical_id")).select(id_col),
            id_col,
        )
    ).cache()
    skeys, sbands = dedup.build_dedup_index(
        survivors, id_col, text_col, num_perm=num_perm, bands=bands, shingle=shingle
    )

    metrics = {
        "batch_id": batch_id,
        "stages": [
            _write_stage(spark, root, batch_id, stage, df, bucket_on, n_buckets)
            for stage, df, bucket_on in (
                ("assign", assign, id_col),
                ("corpus", survivors, id_col),
                ("keys", skeys, "tkey1"),
                ("bands", sbands, "bkey"),
            )
        ],
    }
    survivors.unpersist()
    metrics["rows_in"] = batch.count()
    metrics["survivors"] = metrics["stages"][1]["rows"] if not metrics["stages"][1]["resumed"] else None
    return metrics


def main():
    """Cluster entry: spark-submit --py-files gips_spark.zip \
    jobs/ingest_batch.py --batch <parquet> --batch-id b42 --root /data/corpus

    Runs one ingest batch incrementally (per-bucket lineage; re-running
    after a crash resumes, re-running when complete is a no-op) and
    prints the per-stage metrics as one JSON line."""
    import argparse
    import json

    from gips_spark import get_spark
    from gips_spark.plans import metrics as metrics_mod

    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", required=True, help="parquet path of the new batch")
    ap.add_argument("--batch-id", required=True)
    ap.add_argument("--root", required=True, help="corpus root directory")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--master", default=None, help="None → spark-submit decides")
    args = ap.parse_args()

    spark = get_spark("ingest-batch", master=args.master)
    m = ingest_batch(
        spark,
        spark.read.parquet(args.batch),
        args.batch_id,
        args.root,
        id_col=args.id_col,
        text_col=args.text_col,
        n_buckets=args.buckets,
    )
    m["shuffle_bytes"] = metrics_mod.shuffle_bytes_total(spark)
    print(json.dumps(m))
    spark.stop()


if __name__ == "__main__":
    main()
