"""End-to-end pipeline tests: enrich → tile assign → PIP → kNN (Spark).

Golden philosophy (SURVEY.md §5.4): oracles are independent straight-line
implementations (numpy brute force, duckdb SQL), never the engine.
"""

import duckdb
import numpy as np
import pytest
import pyspark.sql.functions as F

from gips_spark.functions import h3lite
from gips_spark.functions.geom import point_in_rings_bruteforce
from gips_spark.operators import knn, pip_join, tile_assign


def test_enrich_schema_and_rows(enriched, pages):
    assert enriched.count() == pages.count()
    for c in [
        "url",
        "warc_ts",
        "lang",
        "extracted_text",
        "lat",
        "lon",
        "geocode_src",
        "h3_7",
        "s2_13",
        "cell_prefix",
        "salt",
    ]:
        assert c in enriched.columns
    srcs = {r["geocode_src"] for r in enriched.select("geocode_src").distinct().collect()}
    assert srcs == {"latlon_qs", "coord_text", "city_url", "city_text", "cctld", "none"}
    # `enriched` is the with_text=True form; the default adds no text
    default_cols = tile_assign.enrich_pages(pages, salt_target_rows=20).columns
    assert "extracted_text" not in default_cols
    assert default_cols == [c for c in enriched.columns if c != "extracted_text"]


def test_default_enrich_plan_reads_no_html(spark, pages, tmp_path):
    """The default chain is assignment-only: no scan reads html and the
    with-text kernel is not in the plan (Catalyst cannot prune inside a
    Python UDF, so only leaving it out of the plan saves the read)."""
    import re

    path = str(tmp_path / "pages")
    pages.write.parquet(path)
    df = tile_assign.enrich_pages(spark.read.parquet(path), salt_target_rows=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    assert read_schemas, plan
    assert not any("html" in r for r in read_schemas), read_schemas
    assert "enrich_struct" not in plan and "geocode_and_cells" in plan


def test_with_text_minus_text_equals_default(pages):
    """Dropping extracted_text from the with-text form gives the default
    form on every column, salt and cell_prefix included."""
    kw = dict(salt_target_rows=20, do_repartition=False)
    a = tile_assign.enrich_pages(pages, with_text=True, **kw).drop("extracted_text")
    b = tile_assign.enrich_pages(pages, **kw)
    assert a.columns == b.columns
    assert a.where(F.col("salt") > 0).count() > 0  # salting is exercised
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_geocode_and_cells_nulls_not_nan(pages):
    """The Arrow kernel carries unresolved rows as null through Arrow
    validity: lat/lon/h3_7/s2_13 are null exactly where geocode_src is
    'none', and no row holds a NaN."""
    from gips_spark.functions import udfs

    g = pages.select(
        udfs.geocode_and_cells(F.col("url"), F.col("text")).alias("g")
    ).select("g.*")
    none = F.col("geocode_src") == "none"
    mismatch = F.lit(False)
    for c in ("lat", "lon", "h3_7", "s2_13"):
        mismatch = mismatch | (F.col(c).isNull() != none)
    assert g.where(none).count() > 0
    assert g.where(mismatch).count() == 0
    assert g.where(F.isnan("lat") | F.isnan("lon")).count() == 0


def test_salt_plan_same_over_repartitioned_sample(pages):
    """enrich_pages moves the salt sample into few partitions before the
    kernel; the rows are drawn before that exchange, so the salt plan
    over the repartitioned sample is the plan over the sample itself,
    the null cell's row included."""
    from gips_spark.functions import udfs
    from gips_spark.plans import salt as saltplan

    def plan(df):
        cells = df.select(udfs.geocode_and_cells(F.col("url"), F.col("text")).h3_7.alias("h3_7"))
        return saltplan.salt_plan(cells, "h3_7", target_rows=20, fraction=0.02)

    sample = pages.sample(fraction=0.02, seed=42)
    a, b = plan(sample), plan(sample.repartition(1))
    assert a.where(F.col("h3_7").isNull()).count() == 1
    assert a.count() > 1
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_cell_prefix_col_matches_h3lite(enriched):
    """The partitioning prefix Column is `h3lite.cell_prefix` on every
    id of the fixture, and the null cell maps to -1."""
    rows = enriched.select(
        "h3_7", tile_assign.cell_prefix_col(F.col("h3_7")).alias("p")
    ).collect()
    ids = [r["h3_7"] for r in rows if r["h3_7"] is not None]
    assert ids and len(ids) < len(rows)
    want = dict(zip(ids, h3lite.cell_prefix(ids).tolist()))
    assert all(r["p"] == want.get(r["h3_7"], -1) for r in rows)


def test_enrich_partition_invariant(spark, pages):
    """Same assignments regardless of input partitioning (determinism)."""
    a = tile_assign.enrich_pages(pages.repartition(3), do_repartition=False)
    b = tile_assign.enrich_pages(pages.repartition(11), do_repartition=False)
    cols = ["url", "warc_ts", "geocode_src", "h3_7", "s2_13"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_extracted_text_contains_source_text(spark, pages):
    """html wraps text; frozen extractor must recover it verbatim inside."""
    from gips_spark.functions import textx

    pdf = pages.limit(500).select("text", "html").toPandas()
    extracted = textx.extract_text(pdf["html"])
    assert all(t in e for t, e in zip(pdf["text"], extracted))


def test_tile_assignments_only_geocoded(enriched):
    ta = tile_assign.tile_assignments(enriched)
    assert ta.where(F.col("h3_7").isNull() | F.col("s2_13").isNull()).count() == 0
    n_geo = enriched.where(F.col("geocode_src") != "none").count()
    assert ta.count() == n_geo


def test_latest_per_url_vs_duckdb(enriched):
    got = (
        tile_assign.latest_per_url(enriched)
        .groupBy()
        .agg(F.count("*").alias("n"), F.countDistinct("url").alias("u"))
        .first()
    )
    assert got["n"] == got["u"]
    pdf = enriched.select("url", "warc_ts").toPandas()
    want = duckdb.sql(
        "select count(*) from (select url, row_number() over "
        "(partition by url order by warc_ts desc) rn from pdf) where rn=1"
    ).fetchone()[0]
    assert got["n"] == want


def test_pip_plans_agree_and_match_bruteforce(spark, enriched, extents, directory):
    p1 = pip_join.pip_join(spark, enriched, extents).cache()
    p2 = pip_join.pip_join_cells(spark, enriched, extents, directory)
    assert p1.exceptAll(p2).count() == 0
    assert p2.exceptAll(p1).count() == 0

    # independent scalar oracle over every (point, extent) pair
    pts = (
        enriched.where(F.col("geocode_src") != "none")
        .select("url", "lat", "lon")
        .toPandas()
    )
    ext = extents.select("extent_id", "rings").collect()
    want = set()
    for e in ext:
        rings = [
            [(p["lon"], p["lat"]) for p in ring] for ring in e["rings"]
        ]
        for u, la, lo in zip(pts["url"], pts["lat"], pts["lon"]):
            if point_in_rings_bruteforce(rings, lo, la):
                want.add((u, e["extent_id"]))
    got = {(r["url"], r["extent_id"]) for r in p1.collect()}
    assert got == want


def test_knn_exact_vs_bruteforce(spark, enriched, directory):
    from gips_spark.sources import fixtures

    q = fixtures.gen_knn_queries(spark)
    a = knn.knn_join(spark, enriched, q, directory).cache()
    b = knn.knn_bruteforce(enriched, q).cache()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # every query returns exactly min(k, n_points) rows
    per_q = {r["query_id"]: r["n"] for r in a.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    ks = {r["query_id"]: r["k"] for r in q.collect()}
    n_pts = enriched.where(F.col("geocode_src") != "none").count()
    for qid, k in ks.items():
        assert per_q.get(qid, 0) == min(k, n_pts)


def test_knn_empty_queries_both_placements(spark, enriched, directory):
    """No queries → no rows, on both placements: the driver placement
    gives its candidate frame an explicit schema, as there is none to
    infer from zero candidates."""
    from gips_spark.sources import fixtures

    q = fixtures.gen_knn_queries(spark).limit(0)
    for engine in (knn.knn_join, knn.knn_join_distributed):
        assert engine(spark, enriched, q, directory).count() == 0


def test_coverage_fractions(spark, enriched, extents, directory):
    cov = pip_join.coverage_fractions(spark, enriched, extents, directory).cache()
    sums = cov.groupBy("extent_id").agg(F.sum("pcov").alias("s")).collect()
    for r in sums:
        assert abs(r["s"] - 1.0) < 1e-9
    bad = cov.where(
        (F.col("ptile") < 0) | (F.col("ptile") > 1) | (F.col("pcov") < 0)
    ).count()
    assert bad == 0


def test_knn_two_level_slice_under_one_percent(spark):
    """VERDICT r1 #6 done-criterion: with a ~10^5-cell directory the
    driver collects <1% of it (coarse rollup + surviving res-7 slice),
    and results stay brute-force-equal."""
    import pandas as pd

    from gips_spark.operators import cell_directory

    rng = np.random.default_rng(1234)
    n = 100_000
    # near-uniform on the sphere → ~1e5 distinct res-7 cells
    lat = np.degrees(np.arcsin(rng.uniform(-0.999, 0.999, n)))
    lon = rng.uniform(-180.0, 180.0, n)
    cells = h3lite.latlng_to_cell(lat, lon, 7)
    pdf = pd.DataFrame(
        {
            "url": [f"https://x{i}.example.com/p" for i in range(n)],
            "lat": lat,
            "lon": lon,
            "h3_7": cells,
            "geocode_src": "grid",
        }
    )
    pts = spark.createDataFrame(pdf).cache()
    directory = cell_directory.build_cell_directory(pts).cache()
    n_cells = directory.count()
    assert n_cells > 90_000

    qpdf = pd.DataFrame(
        {
            "query_id": ["Q1", "Q2", "Q3", "Q4"],
            "lat": [48.85, -33.87, 0.0, 89.0],
            "lon": [2.35, 151.21, -179.99, 10.0],
            "k": [5, 10, 3, 7],
        }
    )
    q = spark.createDataFrame(qpdf)

    cand, n_slice = knn._two_level_candidates(directory, qpdf)
    frac = n_slice / n_cells
    assert frac < 0.01, f"slice fraction {frac:.3%} ({n_slice} res-7 rows)"

    a = knn.knn_join(spark, pts, q, directory).cache()
    b = knn.knn_bruteforce(pts, q).cache()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_knn_multiblock_queries_exact(spark, enriched, directory):
    """>512 queries exercises the blocked (queries × prefixes) bound
    matrix (knn.py BLOCK=512) across block boundaries — results must
    stay brute-force-equal."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    n_q = 700
    qpdf = pd.DataFrame(
        {
            "query_id": [f"M{i:04d}" for i in range(n_q)],
            "lat": rng.uniform(-60, 60, n_q),
            "lon": rng.uniform(-180, 180, n_q),
            "k": rng.choice([1, 3], size=n_q).astype("int32"),
        }
    )
    q = spark.createDataFrame(qpdf)
    a = knn.knn_join(spark, enriched, q, directory).cache()
    b = knn.knn_bruteforce(enriched, q).cache()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.bench
def test_knn_driver_pruning_1e4_queries_fast():
    import pandas as pd
    """VERDICT r3 next #2 done-bar: the driver-side pruning (the coarse
    and fine kernels, pair bounds and covering radii) for 10^4 queries
    against a realistic directory runs in seconds, not minutes — the
    former iterrows loops were O(q) pandas row ops (~5-20s at 1e4; the
    vectorized path measures ~1.9-2.7s here: chord-GEMM proxy +
    argpartition covering).  Pure numpy/pandas — no Spark, so the
    timing isolates driver work; bound is 6s to ride out host gusts
    while still catching a regression to per-row loops."""
    import time

    rng = np.random.default_rng(99)
    n_pref, n_cells, n_q = 5000, 20000, 10_000
    cla = rng.uniform(-60, 60, n_pref)
    clo = rng.uniform(-180, 180, n_pref)
    coarse_pdf = pd.DataFrame(
        {
            "prefix": np.arange(n_pref, dtype=np.int64),
            "n_rows": rng.integers(1, 500, n_pref),
            "min_lat": cla - 0.5,
            "max_lat": cla + 0.5,
            "min_lon": np.clip(clo - 0.5, -180, 180),
            "max_lon": np.clip(clo + 0.5, -180, 180),
        }
    )
    fla = rng.uniform(-60, 60, n_cells)
    flo = rng.uniform(-180, 180, n_cells)
    # every prefix holds >=1 cell (the real slice is built FROM the
    # directory, so this invariant always holds in the pipeline)
    pref_of_cell = np.concatenate(
        [np.arange(n_pref), rng.integers(0, n_pref, n_cells - n_pref)]
    )
    slice_pdf = pd.DataFrame(
        {
            "h3_7": (pref_of_cell.astype(np.int64) << h3lite.PREFIX_SHIFT)
            | np.arange(n_cells, dtype=np.int64) % (1 << h3lite.PREFIX_SHIFT),
            "n_rows": rng.integers(1, 50, n_cells),
            "min_lat": fla - 0.05,
            "max_lat": fla + 0.05,
            "min_lon": np.clip(flo - 0.05, -180, 180),
            "max_lon": np.clip(flo + 0.05, -180, 180),
        }
    )
    queries_pdf = pd.DataFrame(
        {
            "query_id": [f"B{i}" for i in range(n_q)],
            "lat": rng.uniform(-60, 60, n_q),
            "lon": rng.uniform(-180, 180, n_q),
            "k": rng.choice([1, 5, 10], n_q).astype(np.int64),
        }
    )

    # the driver placement's res-7 slice, keyed by prefix as
    # knn._prefixed does it JVM-side
    cells = slice_pdf.assign(prefix=slice_pdf["h3_7"].to_numpy() >> h3lite.PREFIX_SHIFT)
    # best-of-3: host noise is strictly additive (bursty-CPU gusts), so
    # the min over interleaved trials is the clean estimate
    trials = []
    for _ in range(3):
        t0 = time.monotonic()
        surv = knn._coarse_survivors(knn._coarse_arrays(coarse_pdf), queries_pdf)
        pairs = surv.merge(cells, on="prefix")
        cand = knn._fine_select(pairs)
        trials.append(time.monotonic() - t0)
    elapsed = min(trials)
    print(f"\ndriver pruning for {n_q} queries: best-of-3 {elapsed:.2f}s {trials}")
    assert elapsed < 6.0, f"{trials}"
    # sanity: every query kept a prefix and reached the fine kernel
    # (the synthetic cells are not inside their prefix bboxes, so few
    # survive it); candidates are a subset of the fine pairs
    assert surv["query_id"].nunique() == n_q
    assert pairs["query_id"].nunique() == n_q
    assert len(cand) and cand.merge(pairs, on=["query_id", "h3_7"]).shape[0] == len(cand)


def test_knn_distributed_exact_vs_bruteforce(spark, enriched, directory):
    """knn_join_distributed == brute force on the standard fixture
    (mixed k, same contract as knn_join)."""
    from gips_spark.sources import fixtures

    q = fixtures.gen_knn_queries(spark)
    a = knn.knn_join_distributed(spark, enriched, q, directory).cache()
    b = knn.knn_bruteforce(enriched, q).cache()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_knn_distributed_1e5_queries(spark, enriched, directory):
    """VERDICT r3 next #8 done-bar: 10^5 queries through the fully
    distributed plan (no queries.toPandas()), brute-force-equal.
    Driver never materializes the query set — only the res-4 rollup."""
    import pandas as pd

    rng = np.random.default_rng(11)
    n_q = 100_000
    qpdf = pd.DataFrame(
        {
            "query_id": [f"D{i:06d}" for i in range(n_q)],
            "lat": rng.uniform(-60, 60, n_q),
            "lon": rng.uniform(-180, 180, n_q),
            "k": rng.choice([1, 2], size=n_q).astype("int32"),
        }
    )
    q = spark.createDataFrame(qpdf).repartition(8).cache()
    a = knn.knn_join_distributed(spark, enriched, q, directory).cache()
    b = knn.knn_bruteforce(enriched, q).cache()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_knn_distributed_planted_hotspot_skew(spark, enriched, directory):
    """VERDICT r4 watch #2: 2e4 queries concentrated on the Tokyo
    mega-cell prefix + background spread.  Pins (a) exactness vs the
    two-level driver path under planted skew, (b) that the
    repartition(query_parts, "query_id") feeding the fine stage
    re-spreads the hot prefix's rows evenly (bounded max/median
    partition rows) — the stage whose balance actually bounds the
    Python kernel's wall time at scale."""
    import pandas as pd

    rng = np.random.default_rng(99)
    n_hot, n_bg = 20_000, 200
    qpdf = pd.DataFrame(
        {
            "query_id": [f"H{i}" for i in range(n_hot)] + [f"B{i}" for i in range(n_bg)],
            "lat": np.concatenate(
                [35.6762 + rng.uniform(-0.4, 0.4, n_hot),
                 rng.uniform(-60, 60, n_bg)]
            ),
            "lon": np.concatenate(
                [139.6503 + rng.uniform(-0.4, 0.4, n_hot),
                 rng.uniform(-180, 180, n_bg)]
            ),
            "k": rng.choice([1, 5, 10], n_hot + n_bg).astype(np.int64),
        }
    )
    q = spark.createDataFrame(qpdf)
    st = {}
    a = knn.knn_join_distributed(
        spark, enriched, q, directory, query_parts=8, stage_out=st
    ).select("query_id", "rank", "url").cache()
    b = knn.knn_join(spark, enriched, q, directory).select(
        "query_id", "rank", "url"
    ).cache()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == b.count()

    # fine-stage input balance: explicit repartition on query_id (what
    # knn_join_distributed feeds mapInPandas) — hot-prefix concentration
    # must not survive the re-spread
    hist = (
        st["paired"].repartition(8, "query_id")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().toPandas()["count"].to_numpy()
    )
    assert len(hist) >= 4  # explicit repartition is not AQE-coalesced
    med = float(np.median(hist))
    assert med > 0 and hist.max() / med < 2.5, hist.tolist()
    a.unpersist(); b.unpersist()
