"""Canary-flanked kNN stage bench (VERDICT r3 next #3): put a clean
knn driver number on the record, with the same canary machinery as the
scaling protocol deciding which trials ran in clean host windows.

Stage definition identical to bench.py's knn stage (100 queries,
knn_join over persisted enr + directory at sf0.1 = 1M rows,
local[32]); each trial is flanked by canaries, all trials + canaries
published, and the REPORTED number is the min over trials whose two
flanking canaries are ≤ 1.25× the session floor (falling back to the
unconditional min, labeled, if no trial is flanked-clean).

Run: python scripts/knn_flanked.py [n_trials]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.scaling_protocol import canary_seconds  # noqa: E402

from gips_spark import get_spark  # noqa: E402
from gips_spark.operators import cell_directory, knn, tile_assign  # noqa: E402
from gips_spark.sources import fixtures  # noqa: E402


def main():
    n_trials = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    n_rows = 1_000_000
    spark = get_spark("knn-flank", master="local[32]", shuffle_partitions=32)

    cache_dir = os.path.join(REPO, ".bench_cache", f"pages_{n_rows}")
    if not os.path.isdir(cache_dir):
        fixtures.gen_pages(spark, n_rows).write.mode("overwrite").parquet(cache_dir)
    enr_out = os.path.join(REPO, ".bench_cache", "enr_out")
    if not os.path.isdir(enr_out):
        pages = spark.read.parquet(cache_dir)
        tile_assign.enrich_pages(
            pages, salt_target_rows=max(1000, n_rows // 200), salt_sample=0.02
        ).write.mode("overwrite").parquet(enr_out)

    enr = spark.read.parquet(enr_out).persist()
    enr.count()
    directory = cell_directory.build_cell_directory(enr).persist()
    directory.count()
    queries = fixtures.gen_knn_queries(spark)

    def knn_once():
        knn.knn_join(spark, enr, queries, directory).write.format("noop").mode(
            "overwrite"
        ).save()

    knn_once()  # warm (worker pool, plan JIT) — excluded, as in bench.py

    canaries = [canary_seconds()]
    trials = []
    for _ in range(n_trials):
        t0 = time.monotonic()
        knn_once()
        trials.append(time.monotonic() - t0)
        canaries.append(canary_seconds())
    spark.stop()

    floor = min(canaries)
    flanked_clean = [
        t
        for i, t in enumerate(trials)
        if max(canaries[i], canaries[i + 1]) <= 1.25 * floor
    ]
    result = {
        "stage": "knn (100 queries, 1M rows, local[32])",
        "trials": [round(t, 2) for t in trials],
        "canaries": [round(c, 2) for c in canaries],
        "floor": round(floor, 2),
        "clean_trials": [round(t, 2) for t in flanked_clean],
        "knn_flanked_min": round(min(flanked_clean), 2) if flanked_clean else None,
        "knn_unconditional_min": round(min(trials), 2),
    }
    print(json.dumps(result))
    with open(os.path.join(REPO, "BENCH", "knn_flanked.json"), "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
