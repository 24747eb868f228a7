"""Zonal/raster tests vs independent numpy + duckdb oracles."""

import duckdb
import numpy as np

from gips_spark.functions.geom import rings_to_prepared
from gips_spark.operators import zonal


def _band_arrays(pdf):
    return {
        (r["scene_id"], r["band"], r["chunk_id"]): np.asarray(r["pixels"], dtype=np.float64)
        for _, r in pdf.iterrows()
    }


def test_products_match_numpy_oracle(spark, raster_chunks):
    prod = zonal.compute_products(raster_chunks, ["ndvi", "msavi2"]).toPandas()
    src = raster_chunks.toPandas()
    arrs = _band_arrays(src)
    nodata = -9999.0
    for _, r in prod.head(50).iterrows():
        key = (r["scene_id"], "nir", r["chunk_id"])
        nir = arrs[key]
        red = arrs[(r["scene_id"], "red", r["chunk_id"])]
        valid = (nir != nodata) & (red != nodata)
        got = np.asarray(r["pixels"], dtype=np.float64)
        if r["band"] == "ndvi":
            want = (nir - red) / (nir + red)
        else:
            want = (2 * nir + 1 - np.sqrt((2 * nir + 1) ** 2 - 8 * (nir - red))) / 2
        assert np.allclose(got[valid], want[valid].astype(np.float32), atol=1e-6)
        assert np.all(got[~valid] == nodata)


def test_zonal_stats_match_numpy_oracle(spark, raster_chunks, extents):
    stats = zonal.zonal_stats(spark, raster_chunks, extents).toPandas()
    assert len(stats) > 0
    src = raster_chunks.toPandas()
    prep = {
        r["extent_id"]: rings_to_prepared(r["rings"])
        for r in extents.select("extent_id", "rings").collect()
    }
    for _, row in stats.head(12).iterrows():
        poly = prep[row["extent_id"]]
        vals = []
        sub = src[(src["scene_id"] == row["scene_id"]) & (src["band"] == row["band"])]
        for _, ch in sub.iterrows():
            gt = list(ch["gt"])
            w, h = int(ch["w"]), int(ch["h"])
            lons = gt[0] + (np.arange(w) + int(ch["x0"]) + 0.5) * gt[1]
            lats = gt[3] + (np.arange(h) + int(ch["y0"]) + 0.5) * gt[5]
            lon_g = np.repeat(lons[None, :], h, axis=0).ravel()
            lat_g = np.repeat(lats[:, None], w, axis=1).ravel()
            px = np.asarray(ch["pixels"], dtype=np.float64)
            inside = poly.contains_chunked(lon_g, lat_g)
            v = px[inside & (px != float(ch["nodata"]))]
            vals.append(v)
        v = np.concatenate(vals) if vals else np.array([])
        assert row["count"] == v.size
        assert np.isclose(row["mean"], v.mean(), rtol=1e-9)
        assert np.isclose(row["min"], v.min()) and np.isclose(row["max"], v.max())
        assert np.isclose(row["stddev"], v.std(ddof=1), rtol=1e-7)
        m2 = ((v - v.mean()) ** 2).mean()
        m3 = ((v - v.mean()) ** 3).mean()
        if m2 > 1e-12:
            assert np.isclose(row["skew"], m3 / m2**1.5, rtol=1e-6)


def test_zonal_rollup_subtotals(spark, raster_chunks, extents):
    base = zonal.zonal_stats(spark, raster_chunks, extents).toPandas()
    rolled = zonal.zonal_stats(spark, raster_chunks, extents, rollup=True).toPandas()
    # detail rows identical
    detail = rolled[rolled["band"].notna() & rolled["scene_id"].notna()]
    assert len(detail) == len(base)
    # per-extent subtotal equals recombination of that extent's details
    top = rolled[rolled["scene_id"].isna() & rolled["extent_id"].notna()]
    for _, r in top.iterrows():
        sub = base[base["extent_id"] == r["extent_id"]]
        assert r["count"] == sub["count"].sum()
        assert np.isclose(
            r["mean"],
            (sub["mean"] * sub["count"]).sum() / sub["count"].sum(),
            rtol=1e-9,
        )


def test_scene_band_means_vs_duckdb(spark, raster_chunks):
    got = zonal.scene_band_means(raster_chunks).toPandas()
    src = raster_chunks.select("scene_id", "band", "pixels", "nodata").toPandas()
    want = duckdb.sql(
        """
        select scene_id, band, avg(px) band_mean, count(*) valid_px
        from (select scene_id, band, nodata, unnest(pixels) px from src)
        where px <> nodata group by 1, 2
        """
    ).df()
    m = got.merge(want, on=["scene_id", "band"], suffixes=("", "_w"))
    assert len(m) == len(got) == len(want)
    assert np.allclose(m["band_mean"], m["band_mean_w"], rtol=1e-9)
    assert (m["valid_px"] == m["valid_px_w"]).all()


def test_temporal_composite_vs_duckdb(spark, scenes, raster_chunks):
    prod = zonal.compute_products(raster_chunks, ["ndvi"]).cache()
    got = zonal.temporal_composite(scenes, prod, "ndvi", days=32).toPandas()
    means = zonal.scene_band_means(prod).toPandas()
    sc = scenes.select("scene_id", "tile_id", "acq_date").toPandas()
    want = duckdb.sql(
        """
        select tile_id,
               date '2025-01-01' + to_days((cast(floor(datediff('day', date '2025-01-01', acq_date)/32) as int))*32) window_start,
               max(band_mean) max_val
        from means join sc using (scene_id)
        where band = 'ndvi' group by 1, 2
        """
    ).df()
    got_s = got.sort_values(["tile_id", "window_start"]).reset_index(drop=True)
    want_s = want.sort_values(["tile_id", "window_start"]).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    assert np.allclose(got_s["max_val"], want_s["max_val"], rtol=1e-12)


def test_mask_application(spark, raster_chunks):
    """apply_mask with the ACCA cloudmask, on every pixel: nodata where
    the mask is 1, the product's own value everywhere else (mask 0,
    mask nodata, or no mask row for the chunk)."""
    from gips_spark.sources import fixtures

    prod = zonal.compute_products(raster_chunks, ["ndvi"]).cache()
    mask = zonal.acca_cloud_mask(
        raster_chunks.union(fixtures.gen_thermal_chunks(spark, 12))
    ).cache()
    masked = zonal.apply_mask(prod, mask).toPandas()
    src = prod.toPandas()

    def by_chunk(pdf):
        return {
            (r["scene_id"], r["chunk_id"]): np.asarray(r["pixels"], dtype=np.float64)
            for _, r in pdf.iterrows()
        }

    want, got, m = by_chunk(src), by_chunk(masked), by_chunk(mask.toPandas())
    assert got.keys() == want.keys() and len(masked) == len(src)
    n_masked = 0
    for key, px in want.items():
        hit = m[key] == 1.0 if key in m else np.zeros(px.shape, dtype=bool)
        assert np.array_equal(got[key], np.where(hit, fixtures.NODATA, px))
        n_masked += int(hit.sum())
    assert n_masked > 0
    prod.unpersist()
    mask.unpersist()


def test_mosaic_deterministic_first_wins(spark, raster_chunks):
    prod = zonal.compute_products(raster_chunks, ["ndvi"]).cache()
    m1 = zonal.mosaic_first_nonnodata(prod, "ndvi").toPandas()
    m2 = zonal.mosaic_first_nonnodata(prod.repartition(13), "ndvi").toPandas()
    m1 = m1.sort_values("scene_id").reset_index(drop=True)
    m2 = m2.sort_values("scene_id").reset_index(drop=True)
    assert (m1["scene_id"] == m2["scene_id"]).all()
    for a, b in zip(m1["pixels"], m2["pixels"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))


# ------------------------------------------------------------- real ACCA


def test_acca_classify_known_answers():
    """Hand-built pixels hitting every branch of the published decision
    tree (Irish 2000) — a true known-answer oracle, not a re-run."""
    from gips_spark.operators.zonal import (
        ACCA_AMBIG, ACCA_CLEAR, ACCA_COLD, ACCA_SNOW, ACCA_WARM, acca_classify,
    )

    #           green  red   nir   swir1  bt      expect
    cases = [
        (0.10, 0.05, 0.20, 0.10, 280.0, ACCA_CLEAR),   # f1: red ≤ 0.08
        (0.60, 0.50, 0.45, 0.05, 270.0, ACCA_SNOW),    # f2: NDSI ≥ 0.7
        (0.30, 0.30, 0.35, 0.25, 305.0, ACCA_CLEAR),   # f3: BT ≥ 300
        (0.30, 0.30, 0.35, 0.08, 260.0, ACCA_AMBIG),   # f4: (1-s5)*bt ≥ 225
        (0.30, 0.15, 0.40, 0.30, 260.0, ACCA_AMBIG),   # f5: nir/red ≥ 2
        (0.18, 0.30, 0.40, 0.30, 260.0, ACCA_AMBIG),   # f6: nir/green ≥ 2
        (0.40, 0.35, 0.30, 0.35, 260.0, ACCA_AMBIG),   # f7: nir/swir1 ≤ 1
        (0.40, 0.35, 0.40, 0.30, 260.0, ACCA_COLD),    # (1-.3)*260=182 < 210
        (0.40, 0.35, 0.40, 0.20, 270.0, ACCA_WARM),    # (1-.2)*270=216 ∈ [210,225)
        (np.nan, 0.35, 0.40, 0.20, 270.0, np.nan),     # nodata propagates
    ]
    a = np.array(cases, dtype=np.float64)
    got = acca_classify(a[:, 0], a[:, 1], a[:, 2], a[:, 3], a[:, 4])
    want = a[:, 5]
    ok = np.isnan(want) == np.isnan(got)
    ok &= np.isnan(want) | (got == want)
    assert ok.all(), list(zip(got, want))


def test_acca_threshold_binned():
    from gips_spark.operators.zonal import acca_bt_threshold

    h = np.zeros(120, dtype=np.int64)
    h[50] = 97   # 250 K
    h[80] = 3    # 280 K → 97.5% falls inside bin 80
    assert acca_bt_threshold(h) == 280.0
    assert acca_bt_threshold(np.zeros(120, dtype=np.int64)) == -np.inf


def test_acca_mask_spark_vs_numpy(spark, raster_chunks):
    """Distributed ACCA (chunk pass-one + histogram-reduced pass-two)
    equals a single-process numpy evaluation over gathered scenes."""
    from gips_spark.operators import zonal
    from gips_spark.sources import fixtures

    thermal = fixtures.gen_thermal_chunks(spark, 12)
    chunks = raster_chunks.union(thermal)
    got = zonal.acca_mask(chunks).toPandas()
    assert len(got) > 0

    pdf = chunks.toPandas()
    by_scene = {}
    for (sid, cid), grp in pdf.groupby(["scene_id", "chunk_id"]):
        nodata = float(grp["nodata"].iloc[0])
        px = {
            b: np.asarray(p, dtype=np.float64)
            for b, p in zip(grp["band"], grp["pixels"])
        }
        bands = {
            b: np.where(px[b] == nodata, np.nan, px[b])
            for b in ("green", "red", "nir", "swir1", "tirs")
        }
        cls = zonal.acca_classify(
            bands["green"], bands["red"], bands["nir"], bands["swir1"],
            bands["tirs"],
        )
        by_scene.setdefault(sid, {})[cid] = (cls, bands["tirs"], nodata)
    n_upgraded = 0
    for sid, per_chunk in by_scene.items():
        allcls = np.concatenate([c for c, _, _ in per_chunk.values()])
        allbt = np.concatenate([t for _, t, _ in per_chunk.values()])
        cloud = (allcls == zonal.ACCA_WARM) | (allcls == zonal.ACCA_COLD)
        h = np.zeros(120, dtype=np.int64)
        if cloud.any():
            b = np.clip(np.floor(allbt[cloud] - 200.0), 0, 119).astype(np.int64)
            h = np.bincount(b, minlength=120)
        thr = zonal.acca_bt_threshold(h)
        for cid, (cls, bt, nodata) in per_chunk.items():
            if h.sum() >= zonal.ACCA_MIN_CLOUD:
                up = (cls == zonal.ACCA_AMBIG) & (bt < thr)
                n_upgraded += int(up.sum())
                cls = np.where(up, zonal.ACCA_WARM, cls)
            want = np.where(np.isnan(cls), nodata, cls).astype(np.float32)
            grow = got[(got["scene_id"] == sid) & (got["chunk_id"] == cid)]
            assert len(grow) == 1, (sid, cid)
            np.testing.assert_array_equal(
                np.asarray(grow["pixels"].iloc[0], dtype=np.float32), want
            )
    assert n_upgraded > 0  # pass two is live on the fixture


def test_acca_cloud_mask_binary(spark, raster_chunks):
    from gips_spark.operators import zonal
    from gips_spark.sources import fixtures

    chunks = raster_chunks.union(fixtures.gen_thermal_chunks(spark, 12))
    m = zonal.acca_cloud_mask(chunks).toPandas()
    vals = np.unique(np.concatenate([np.asarray(p) for p in m["pixels"]]))
    assert set(vals.tolist()) <= {0.0, 1.0, -9999.0}
    assert (m["band"] == "cloudmask").all()


def test_acca_cloud_mask_nonrepresentable_nodata(spark, raster_chunks):
    """ADVICE r3: a nodata value with no exact float32 representation
    (-9999.1) must still be recognized — comparison happens after both
    sides are cast to float32, mirroring how pass-one stored pixels."""
    from pyspark.sql import functions as F2

    from gips_spark.operators import zonal
    from gips_spark.sources import fixtures

    odd = np.float32(-9999.1)  # -9999.099609375 as float32
    chunks = (
        raster_chunks.union(fixtures.gen_thermal_chunks(spark, 12))
        .withColumn(
            "pixels",
            F2.transform(
                "pixels",
                lambda p: F2.when(
                    p == F2.col("nodata").cast("float"), F2.lit(float(odd))
                ).otherwise(p).cast("float"),
            ),
        )
        .withColumn("nodata", F2.lit(-9999.1))
    )
    m = zonal.acca_cloud_mask(chunks).toPandas()
    vals = np.unique(np.concatenate([np.asarray(p, dtype=np.float32) for p in m["pixels"]]))
    assert set(vals.tolist()) <= {0.0, 1.0, float(odd)}
    assert float(odd) in vals.tolist()  # nodata survived, not reclassified


def test_dos_correction_matches_numpy(spark):
    """DOS1 (atmos.py): engine correction == numpy reference on
    UN-quantized random floats with nodata holes and an all-nodata
    chunk; haze = per-(scene,band) min over non-nodata pixels, output
    clamped at 0, nodata preserved.  Also pins the gain/offset hook."""
    import numpy as np
    from gips_spark.operators import atmos
    from gips_spark.sources.fixtures import RASTER_SCHEMA

    rng = np.random.default_rng(7)
    rows = []
    for scene in ("SA", "SB"):
        for band in ("red", "nir"):
            for chunk in range(3):
                px = (rng.random(40) * 0.8 + 0.05).astype(np.float32)
                if scene == "SA" and band == "red" and chunk == 2:
                    px[:] = -999.0  # all-nodata chunk
                else:
                    px[rng.integers(0, 40, 5)] = -999.0
                rows.append(
                    (scene, band, chunk, 0, chunk, 40, 1, px.tolist(), -999.0,
                     [0.0] * 6)
                )
    chunks = spark.createDataFrame(rows, RASTER_SCHEMA)
    got = {
        (r["scene_id"], r["band"], r["chunk_id"]): np.array(r["pixels"], dtype=np.float32)
        for r in atmos.dos_correction(chunks).collect()
    }
    # numpy reference
    arrs = {}
    for scene, band, chunk, *_rest in rows:
        arrs.setdefault((scene, band), {})[chunk] = np.array(
            _rest[4], dtype=np.float32
        )
    n_checked = 0
    for (scene, band), by_chunk in arrs.items():
        allpx = np.concatenate(list(by_chunk.values()))
        valid = allpx[allpx != np.float32(-999.0)]
        haze = valid.min() if valid.size else np.float32(0.0)
        for chunk, px in by_chunk.items():
            want = np.where(
                px == np.float32(-999.0),
                px,
                np.maximum(px - haze, np.float32(0.0)),
            )
            assert np.array_equal(got[(scene, band, chunk)], want)
            n_checked += 1
    assert n_checked == len(rows)

    # gain/offset: linear transform, nodata untouched
    go = {
        (r["scene_id"], r["band"], r["chunk_id"]): np.array(r["pixels"], dtype=np.float32)
        for r in atmos.apply_gain_offset(chunks, 0.01, -0.2).collect()
    }
    for scene, band, chunk, *_rest in rows:
        px = np.array(_rest[4], dtype=np.float32)
        # engine arithmetic is float64 (Spark widens float * double)
        # with a single final cast — mirror that rounding profile
        want = np.where(
            px == np.float32(-999.0),
            px,
            (px.astype(np.float64) * 0.01 - 0.2).astype(np.float32),
        )
        assert np.array_equal(go[(scene, band, chunk)], want)
