"""Optimization-round isolation bench (guide §1.4): decompose the assign
stage into its sub-chains with the noop sink, so each layer's cost is
measured separately from the parquet sink and from each other.

NOT part of the frozen driver contract — bench.py stays the measured
artifact; this file exists so OPTIMIZATION_r06.md can cite where the
seconds go.  Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py [stage ...]

Prints one JSON line: {"stages": {name: [trials...]}, ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gips_spark import get_spark  # noqa: E402
from gips_spark.operators import cell_directory, knn, pip_join, tile_assign, zonal  # noqa: E402
from gips_spark.sources import fixtures  # noqa: E402

ROWS_PER_SF = 10_000_000


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    n_rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", int(ROWS_PER_SF * sf)))
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

    spark = get_spark("gips-bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    sc = spark.sparkContext

    cache_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_cache", f"pages_{n_rows}"
    )
    if not os.path.isdir(cache_dir):
        fixtures.gen_pages(spark, n_rows).write.mode("overwrite").parquet(cache_dir)
    pages = spark.read.parquet(cache_dir)

    def scan_all():
        _noop(pages)

    def scan_no_html():
        _noop(pages.select("url", "warc_ts", "text", "lang"))

    def full_chain_noop():
        # the bench's exact enrichment chain, noop sink instead of parquet
        _noop(
            tile_assign.enrich_pages(
                pages,
                salt_target_rows=max(1000, n_rows // 200),
            )
        )

    def full_chain_norepart():
        # assignment-only chain: geocode_and_cells UDF, html never read
        _noop(
            tile_assign.enrich_pages(
                pages,
                salt_target_rows=max(1000, n_rows // 200),
                do_repartition=False,
            )
        )

    def text_chain():
        # full_chain_norepart + html scan, Arrow shipping and strip
        # (enrich_struct): the difference prices text extraction, which
        # the bench's assign stage no longer runs
        _noop(
            tile_assign.enrich_pages(
                pages,
                salt_target_rows=max(1000, n_rows // 200),
                do_repartition=False,
                with_text=True,
            )
        )

    enr_out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_cache", "enr_out_extra"
    )

    def assign_parquet():
        spark.catalog.clearCache()
        tile_assign.enrich_pages(
            pages, salt_target_rows=max(1000, n_rows // 200)
        ).write.mode("overwrite").parquet(enr_out)

    stages = {
        "scan_all": scan_all,
        "scan_no_html": scan_no_html,
        "full_chain_norepart": full_chain_norepart,
        "text_chain": text_chain,
        "full_chain_noop": full_chain_noop,
        "assign_parquet": assign_parquet,
    }

    # downstream stages need the enriched table: build it once (not timed)
    post = os.environ.get("SPARK_GRAFT_BENCH_POST", "0") == "1"
    if post:
        # own dir — the timed assign_parquet stage overwrites enr_out,
        # which would invalidate a persisted frame read from it
        enr_post = enr_out + "_post"
        if not os.path.isdir(enr_post):
            tile_assign.enrich_pages(
                pages, salt_target_rows=max(1000, n_rows // 200)
            ).write.mode("overwrite").parquet(enr_post)
        enr = spark.read.parquet(enr_post).persist()
        enr.count()
        extents = fixtures.gen_extents(spark)
        directory = cell_directory.build_cell_directory(enr).persist()
        directory.count()
        queries = fixtures.gen_knn_queries(spark)
        raster_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".bench_cache", "raster_60"
        )
        if not os.path.isdir(raster_dir):
            fixtures.gen_raster_chunks(spark, n_scenes=60).write.mode(
                "overwrite"
            ).parquet(raster_dir)

        def dir_build():
            d = cell_directory.build_cell_directory(enr)
            d.persist()
            d.count()
            d.unpersist()

        def pip_stage():
            _noop(pip_join.pip_join_cells(spark, enr, extents, directory))

        def knn_stage():
            _noop(knn.knn_join(spark, enr, queries, directory))

        def zonal_stage():
            chunks = spark.read.parquet(raster_dir)
            prod = zonal.compute_products(chunks)
            _noop(zonal.zonal_stats(spark, prod, extents))

        def zonal_products():
            chunks = spark.read.parquet(raster_dir)
            _noop(zonal.compute_products(chunks))

        stages.update(
            {
                "dir_build": dir_build,
                "pip": pip_stage,
                "knn": knn_stage,
                "zonal": zonal_stage,
                "zonal_products": zonal_products,
            }
        )

    only = sys.argv[1:]
    picked = {k: v for k, v in stages.items() if not only or k in only}

    # one warmup pass (worker pool spawn) on a small slice
    warm = pages.limit(50_000)
    _noop(tile_assign.enrich_pages(warm, do_repartition=False))

    out: dict[str, list[float]] = {}
    for name, fn in picked.items():
        ts = []
        for _ in range(trials):
            sc.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            fn()
            ts.append(round(time.monotonic() - t0, 3))
        sc.setJobDescription(None)
        out[name] = ts

    print(
        json.dumps(
            {
                "stages": out,
                "best": {k: min(v) for k, v in out.items()},
                "sf": sf,
                "rows": n_rows,
                "parallelism": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
