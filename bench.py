"""Engine benchmark — the four headline stages of BASELINE.md, one JSON line.

Stages (north_star):
  a. assign  — read pages parquet → fused extract+geocode+H3/S2 UDF →
               salt → repartitionByRange(cell_prefix, salt) → materialize
  b. pip     — point-in-polygon join (cell-cover plan) vs 24 extents
  c. knn     — exact kNN for 100 queries via cell-directory pruning
  d. zonal   — spectral products + partial+final zonal stats over extents

Input: deterministic synthetic pages sized by the sf of
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1 → 1,000,000 rows;
sf0.01 → 100,000), materialized once under .bench_cache/ and then READ
from parquet so stage (a) measures the real scan→enrich→shuffle path.
Parallelism: local[$SPARK_GRAFT_CPUS] (default 32) — run with CPUS=8
and CPUS=32 for the two-cluster-size scaling evidence (BENCH/BASELINE.md).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {stage: sec}, "sf": <sf>, "rows": N,
   "assign_rows_per_sec": ..., "skew_ratio": ..., "parallelism": N}
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gips_spark import get_spark  # noqa: E402
from gips_spark.operators import cell_directory, knn, pip_join, tile_assign, zonal  # noqa: E402
from gips_spark.plans import salt as saltplan  # noqa: E402
from gips_spark.sources import fixtures  # noqa: E402

ROWS_PER_SF = 10_000_000  # sf0.1 → 1M rows (schema identical to 10^12 design)


def _materialize(df):
    df.write.format("noop").mode("overwrite").save()


def _best_of(fn, trials: int = 2) -> list[float]:
    """Run fn() `trials` times, return all wall times.  The host has
    documented 20× run-to-run variance windows (BENCH/BASELINE.md);
    noise only ADDS time, so min-of-N is the least biased single-line
    estimate (VERDICT r2 #2: best-of-2 on EVERY stage, not just
    assign).  All trials are reported in the JSON."""
    ts = []
    for _ in range(trials):
        t0 = time.monotonic()
        fn()
        ts.append(time.monotonic() - t0)
    return ts


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    n_rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", int(ROWS_PER_SF * sf)))
    # label override for the larger bench tier (BENCH_ROWS=10M → sf1):
    # the synthetic pages input is sized by n_rows, not by sf_dir tables
    sf = float(os.environ.get("SPARK_GRAFT_BENCH_SF", sf))

    spark = get_spark("gips-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    cache_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_cache", f"pages_{n_rows}"
    )
    if not os.path.isdir(cache_dir):
        fixtures.gen_pages(spark, n_rows).write.mode("overwrite").parquet(cache_dir)

    timings: dict[str, float] = {}

    # warmup: spawn/import the Python worker pool + JIT the plan shapes on
    # a small slice, so timings measure steady-state throughput (this
    # sandbox host has bursty CPU; cold workers dominate otherwise)
    warm = spark.read.parquet(cache_dir).limit(60_000).repartition(cpus * 2)
    tile_assign.enrich_pages(
        warm, persist=False, do_repartition=False, salt_sample=0.02
    ).write.format("noop").mode("overwrite").save()

    # a) extract + geocode + tile assignment (the primary metric).
    # SINGLE-PASS mode (VERDICT r1 #5): sampled salt plan, no
    # block-manager persist, ONE full UDF pass, hash repartition on
    # (cell_prefix, salt), checkpointed to parquet — the shape that
    # survives 10^12 rows (exact mode persists the whole enriched table
    # incl. extracted_text, impossible at 100 TB; it remains for golden
    # tests).  The checkpoint keeps no extracted_text, so the default
    # enrich_pages (with_text=False) neither reads html nor runs the
    # extraction, and this stage does not price it (bench_extra.py's
    # text_chain does); the .drop below is a no-op.  The byte-identity
    # contract is pinned by goldens, the stage output keeps derived
    # columns (same contract as jobs/run_stage.py).
    enr_out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_cache", "enr_out"
    )
    pages = spark.read.parquet(cache_dir)
    trials: dict[str, list[float]] = {}

    def _assign_once():
        spark.catalog.clearCache()
        tile_assign.enrich_pages(
            pages, salt_target_rows=max(1000, n_rows // 200), salt_sample=0.02
        ).drop("extracted_text").write.mode("overwrite").parquet(enr_out)

    # best-of-3 on EVERY stage (r5; was 3 only for assign/knn): host
    # gusts recur every 3-5 min and r4's trials show 15× spread on even
    # the sub-second stages (pip 13.9/0.8), so a third trial materially
    # raises the odds one lands clean; min-of-N stays the least biased
    # estimate and all trials are published in the JSON
    trials["assign"] = _best_of(_assign_once, trials=3)

    enr = spark.read.parquet(enr_out).persist()
    n_enr = enr.count()

    extents = fixtures.gen_extents(spark)
    # directory best-of-3: rebuild fresh each trial (unpersist between —
    # Spark would otherwise serve trial 2 from trial 1's cache, the
    # logical-plan cache-match trap)
    directory = None
    dir_trials = []
    for i in range(3):
        if directory is not None:
            directory.unpersist()
        d = cell_directory.build_cell_directory(enr)
        t0 = time.monotonic()
        d.persist()
        d.count()
        dir_trials.append(time.monotonic() - t0)
        directory = d
    trials["directory"] = dir_trials

    # b) point-in-polygon join (cell-cover scale plan)
    trials["pip"] = _best_of(
        lambda: _materialize(pip_join.pip_join_cells(spark, enr, extents, directory)),
        trials=3,
    )

    # c) exact kNN, 100 queries
    queries = fixtures.gen_knn_queries(spark)
    trials["knn"] = _best_of(
        lambda: _materialize(knn.knn_join(spark, enr, queries, directory)),
        trials=3,
    )

    # d) zonal: products + stats over extents (raster fixture pre-cached —
    # measure the operator, not the driver-side synthesis)
    raster_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_cache", "raster_60"
    )
    if not os.path.isdir(raster_dir):
        fixtures.gen_raster_chunks(spark, n_scenes=60).write.mode(
            "overwrite"
        ).parquet(raster_dir)

    def _zonal_once():
        chunks = spark.read.parquet(raster_dir)
        prod = zonal.compute_products(chunks)
        zs = zonal.zonal_stats(spark, prod, extents)
        _materialize(zs)

    trials["zonal"] = _best_of(_zonal_once, trials=3)
    timings = {k: min(v) for k, v in trials.items()}

    skew = saltplan.skew_ratio(
        enr.where(F.col("h3_7").isNotNull()), "h3_7"
    )

    total = sum(timings.values())
    out = {
        "metric": "gips_spark 4-stage pipeline (assign/pip/knn/zonal) wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "rows": n_enr,
        "assign_rows_per_sec": round(n_enr / timings["assign"], 1),
        "assign_trials": [round(t, 3) for t in trials["assign"]],
        "stage_trials": {k: [round(t, 3) for t in v] for k, v in trials.items()},
        "skew_ratio": round(skew, 1),
        "parallelism": cpus,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
