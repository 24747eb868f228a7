"""Freeze golden content hashes for the flagship outputs (FIXTURES.md §Goldens).

Hashes are produced ONCE from the current engine build after its kernels
passed the independent-oracle test suite, then frozen in
tests/golden/hashes.json and never regenerated implicitly — future
rounds must match byte-for-byte after canonical ordering (guards the
frozen extractor/geocoder/indexer semantics across refactors).

Canonicalization: rows sorted by full key; floats formatted %.6f;
UTF-8; LF.  Run with --write to (re)freeze deliberately.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "golden",
    "hashes.json",
)

N_PAGES = 2000  # matches tests/conftest.py


def _hash_pdf(pdf, float_cols=()) -> str:
    pdf = pdf.copy()
    for c in pdf.columns:
        if c in float_cols:
            pdf[c] = pdf[c].map(lambda v: "" if v != v else f"{v:.6f}")
        else:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    blob = "\n".join("\x1f".join(r) for r in pdf.itertuples(index=False)).encode()
    return hashlib.sha256(blob).hexdigest()


def compute_hashes(spark) -> dict[str, str]:
    import pyspark.sql.functions as F

    from gips_spark.operators import cell_directory, knn, pip_join, tile_assign, zonal
    from gips_spark.sources import fixtures

    pages = fixtures.gen_pages(spark, N_PAGES).cache()
    enr = tile_assign.enrich_pages(
        pages, salt_target_rows=20, with_text=True
    ).cache()
    extents = fixtures.gen_extents(spark)
    directory = cell_directory.build_cell_directory(enr).cache()

    out = {}
    out["extracted_text"] = _hash_pdf(
        enr.select("url", "warc_ts", "extracted_text").toPandas()
    )
    out["geocoded"] = _hash_pdf(
        enr.select("url", "warc_ts", "lat", "lon", "geocode_src").toPandas(),
        float_cols=("lat", "lon"),
    )
    out["tile_assignments"] = _hash_pdf(
        enr.select("url", "warc_ts", "h3_7", "s2_13").toPandas()
    )
    out["pip_pairs"] = _hash_pdf(
        pip_join.pip_join(spark, enr, extents).toPandas()
    )
    q = fixtures.gen_knn_queries(spark)
    out["knn_results"] = _hash_pdf(
        knn.knn_join(spark, enr, q, directory)
        .select("query_id", "rank", "url", F.round("dist_m", 3).alias("dist_m"))
        .toPandas(),
        float_cols=("dist_m",),
    )
    chunks = fixtures.gen_raster_chunks(spark, 12)
    out["zonal_stats"] = _hash_pdf(
        zonal.zonal_stats(spark, chunks, extents).toPandas(),
        float_cols=("min", "max", "mean", "stddev", "skew"),
    )
    return out


def main():
    from gips_spark import get_spark

    spark = get_spark("goldens", master="local[8]", shuffle_partitions=8)
    got = compute_hashes(spark)
    if "--write" in sys.argv:
        os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
        with open(GOLDEN_PATH, "w") as f:
            json.dump(got, f, indent=2, sort_keys=True)
        print(f"froze {len(got)} goldens → {GOLDEN_PATH}")
    else:
        want = json.load(open(GOLDEN_PATH))
        bad = {k: (got[k], want.get(k)) for k in got if got[k] != want.get(k)}
        print("MATCH" if not bad else f"MISMATCH: {list(bad)}")
        sys.exit(1 if bad else 0)
    spark.stop()


if __name__ == "__main__":
    main()
