"""Canary-flanked ASSIGN stage bench (VERDICT r4 next #10): the assign
stage has a clean-window record (7.9s driver run, r4) but never a
canary-flanked standalone number; this puts one on the record with the
canary machinery of scripts/scaling_protocol.py.

Stage definition identical to bench.py's assign stage (single-pass
sampled-salt enrich of the sf0.1 = 1M-row pages cache, assignment-only
geocode+H3/S2 UDF, hash repartition on (cell_prefix, salt),
parquet checkpoint; local[32]).  Each trial is flanked by canaries; all
trials + canaries are published; the REPORTED number is the min over
trials whose two flanking canaries are ≤ 1.25× the session floor
(fallback: unconditional min, labeled).

Run: python scripts/assign_flanked.py [n_trials]
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
from gips_spark.operators import tile_assign  # noqa: E402
from gips_spark.sources import fixtures  # noqa: E402


def main():
    n_trials = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    n_rows = 1_000_000
    spark = get_spark("assign-flank", master="local[32]", shuffle_partitions=32)

    cache_dir = os.path.join(REPO, ".bench_cache", f"pages_{n_rows}")
    if not os.path.isdir(cache_dir):
        fixtures.gen_pages(spark, n_rows).write.mode("overwrite").parquet(cache_dir)
    pages = spark.read.parquet(cache_dir)
    out = os.path.join(REPO, ".bench_cache", "assign_flank_out")

    def assign_once():
        spark.catalog.clearCache()
        tile_assign.enrich_pages(
            pages, salt_target_rows=max(1000, n_rows // 200), salt_sample=0.02
        ).write.mode("overwrite").parquet(out)

    # warm (worker pool, plan JIT) on a slice — excluded, as in bench.py
    warm = pages.limit(60_000).repartition(64)
    tile_assign.enrich_pages(
        warm, persist=False, do_repartition=False, salt_sample=0.02
    ).write.format("noop").mode("overwrite").save()

    canaries = [canary_seconds()]
    trials = []
    for _ in range(n_trials):
        t0 = time.monotonic()
        assign_once()
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
        "stage": "assign (single-pass salted enrich, 1M rows, local[32])",
        "trials": [round(t, 2) for t in trials],
        "canaries": [round(c, 2) for c in canaries],
        "floor": round(floor, 2),
        "clean_trials": [round(t, 2) for t in flanked_clean],
        "assign_flanked_min": round(min(flanked_clean), 2) if flanked_clean else None,
        "assign_unconditional_min": round(min(trials), 2),
        "rows": n_rows,
    }
    print(json.dumps(result))
    with open(os.path.join(REPO, "BENCH", "assign_flanked.json"), "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()


