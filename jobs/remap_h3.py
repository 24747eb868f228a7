"""H3 id-migration job (VERDICT r2 #5 — the migration-runbook's code half).

Migrates a dataset written with one cell-indexer backend to another
(e.g. engine-canonical h3lite ids → real Uber H3 ids, the day the `h3`
package is installable) by RE-DERIVING every id from (lat, lon) through
the currently-active backend (functions/cellindex.py), never by
translating id→id — the two labelings share no geometric
correspondence finer than the point itself.

    spark-submit --py-files gips_spark.zip jobs/remap_h3.py \
        --in /data/pages_enriched --out /data/pages_enriched_h3v4 \
        --run-id remap1 --buckets 4096
    # with GIPS_SPARK_H3_BACKEND=h3 exported to driver + executors
    # (spark.executorEnv.GIPS_SPARK_H3_BACKEND=h3)

Scale shape: one Arrow pass over (lat, lon) — 16 B/row each way — plus
the lineage-bucketed idempotent write (plans/lineage.py): any failed /
interrupted run resumes at the bucket level by checksum.  Rows with no
geocode keep NULL ids, exactly like the original assignment
(eqNullSafe salting invariants unchanged).

Reference parity: tile ids are the `gips/data/core.py ::
Repository.vector2tiles` contract; remapping = re-running vector2tiles
under the new grid, which is precisely re-derivation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gips_spark import get_spark  # noqa: E402
from gips_spark.functions import udfs  # noqa: E402
from gips_spark.operators import tile_assign  # noqa: E402
from gips_spark.plans import lineage, metrics  # noqa: E402


def remap(df):
    """Drop the old ids, recompute (h3_7, s2_13, cell_prefix) from
    lat/lon via the active cellindex backend.

    Any persisted ``salt`` column is DROPPED too (ADVICE r3 low): salt
    was derived from the OLD h3_7 via plans/salt, so carrying it into a
    migrated dataset would be a latent skew trap — re-salt with
    plans.salt against the new ids before any skew-sensitive write."""
    return (
        df.drop("h3_7", "s2_13", "cell_prefix", "salt")
        .withColumn("e", udfs.cells_only(F.col("lat"), F.col("lon")))
        .select("*", "e.*")
        .drop("e")
        .withColumn("cell_prefix", tile_assign.cell_prefix_col(F.col("h3_7")))
    )


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--in", dest="in_path", required=True)
    ap.add_argument("--out", dest="out_path", required=True)
    ap.add_argument("--run-id", default="remap")
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("gips-remap-h3", master=args.master)
    in_df = spark.read.parquet(args.in_path)
    m = lineage.run_stage(
        spark,
        "remap_h3",
        args.run_id,
        in_df,
        remap,
        key_col="url",
        out_path=args.out_path,
        n_buckets=args.buckets,
        cell_col="h3_7",
    )
    m["shuffle_bytes"] = metrics.shuffle_bytes_total(spark)
    m["backend"] = os.environ.get("GIPS_SPARK_H3_BACKEND", "engine")
    print(json.dumps(m))
    spark.stop()


if __name__ == "__main__":
    main()
