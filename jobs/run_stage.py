"""Cluster entry point: spark-submit --py-files gips_spark.zip jobs/run_stage.py

The north_rule deployment shape: the same engine code runs on a
multi-executor cluster at N and 4N executors; this driver script runs
one named stage incrementally (lineage buckets) and prints its metrics
as one JSON line.

Examples
--------
  spark-submit --py-files gips_spark.zip jobs/run_stage.py \
      --stage enrich --in /data/pages --out /data/pages_enriched \
      --run-id r42 --buckets 4096

  # sandbox smoke (local mode):
  python jobs/run_stage.py --stage enrich --in .bench_cache/pages_100000 \
      --out /tmp/enriched --run-id dev --buckets 32

Stages: enrich (pages → pages_enriched), assignments (→ url,h3_7,s2_13).
Resume: re-running with the same --out skips completed buckets
(plans/lineage.py) — idempotent by checksum.
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gips_spark import get_spark  # noqa: E402
from gips_spark.operators import tile_assign  # noqa: E402
from gips_spark.plans import lineage, metrics  # noqa: E402


def _enrich(df):
    # single-pass mode (sampled salt plan, no persist) — the 10^12-row
    # shape.  `salt` is dropped from the PERSISTED output: it is an
    # execution-layout helper whose value depends on the salt histogram,
    # which on resume is computed over the todo-bucket subset only —
    # keeping it would break the byte-identical resume contract
    # (ADVICE r1).  `cell_prefix` is per-row deterministic and stays.
    return tile_assign.enrich_pages(df, do_repartition=False).drop("salt")


def _assignments(df):
    return tile_assign.tile_assignments(
        tile_assign.enrich_pages(df, do_repartition=False)
    )


STAGES = {"enrich": _enrich, "assignments": _assignments}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True, choices=sorted(STAGES))
    ap.add_argument("--in", dest="in_path", required=True)
    ap.add_argument("--out", dest="out_path", required=True)
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--master", default=None, help="None → spark-submit decides")
    args = ap.parse_args(argv)

    spark = get_spark(f"gips-{args.stage}", master=args.master)
    in_df = spark.read.parquet(args.in_path)
    m = lineage.run_stage(
        spark,
        args.stage,
        args.run_id,
        in_df,
        STAGES[args.stage],
        key_col="url",
        out_path=args.out_path,
        n_buckets=args.buckets,
        cell_col="h3_7",
    )
    m["shuffle_bytes"] = metrics.shuffle_bytes_total(spark)
    print(json.dumps(m))
    spark.stop()


if __name__ == "__main__":
    main()
