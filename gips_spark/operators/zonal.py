"""M3 — raster products + raster↔vector zonal aggregation (SURVEY.md A1–A4).

Reference parity:
* spectral indices  — `gippy.algorithms.indices` invoked per product in
  `gips/data/<driver>/__init__.py :: Data.process` (public formulas:
  NDVI/EVI/LSWI/NDSI/NDWI/MSAVI2/SATVI);
* masks             — ACCA (`gippy.algorithms.acca`): `acca_mask` over
  the thermal fixture (`fixtures.gen_thermal_chunks`), `acca_cloud_mask`
  → the binary cloudmask that `apply_mask` applies;
* zonal statistics  — `gips/scripts/stats.py` + `GeoRaster.stats()`:
  per (extent, scene, band): count/min/max/mean/stddev/skew;
* mosaic            — `gips/tiles.py :: Tiles.mosaic` → cookie_cutter:
  deterministic first-non-nodata paste in scene_id order;
* temporal composite— MODIS `ndvi8`-style max-value composite.

Execution shape: per-chunk numpy inside applyInPandas/mapInPandas; the
zonal kernel emits PARTIAL moment tuples (n, s1, s2, s3, min, max) per
chunk and the final combine is a plain groupBy().agg() — the A6
partial+final pattern, so no hot (extent, scene, band) group ever
materializes in one Python worker and pixel explode never happens.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gips_spark.functions.geom import rings_to_prepared
from gips_spark.sources.fixtures import RASTER_SCHEMA

_EPS = 1e-12


def _index_formulas(b: dict) -> dict:
    """Public spectral-index formulas over band→np.ndarray (float64)."""
    blue, green, red = b["blue"], b["green"], b["red"]
    nir, swir1, swir2 = b["nir"], b["swir1"], b["swir2"]
    with np.errstate(divide="ignore", invalid="ignore"):
        out = {
            "ndvi": (nir - red) / (nir + red),
            "evi": 2.5 * (nir - red) / (nir + 6.0 * red - 7.5 * blue + 1.0),
            "lswi": (nir - swir1) / (nir + swir1),
            "ndsi": (green - swir1) / (green + swir1),
            "ndwi": (green - nir) / (green + nir),
            "msavi2": (
                2.0 * nir + 1.0 - np.sqrt((2.0 * nir + 1.0) ** 2 - 8.0 * (nir - red))
            )
            / 2.0,
            "satvi": ((swir1 - red) / (swir1 + red + 0.5)) * 1.5 - swir2 / 2.0,
            "vari": (green - red) / (green + red - blue),
        }
    return out


def compute_products(raster_chunks: DataFrame, products: list[str] | None = None) -> DataFrame:
    """(scene, band, chunk) rows → (scene, product, chunk) rows.

    Grouped by (scene_id, chunk_id): each group holds the 6 band rows of
    one chunk window; numpy computes all requested indices at once.
    """
    products = products or ["ndvi", "evi", "ndwi", "msavi2"]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        nodata = float(first["nodata"])
        # pixels arrive as float32 — compare against the float32-rounded
        # nodata or a non-representable value (e.g. -9999.1) never hits
        nd32 = float(np.float32(nodata))
        bands = {}
        for band, pixels in zip(pdf["band"], pdf["pixels"]):
            px = np.asarray(pixels, dtype=np.float64)
            bands[band] = np.where(px == nd32, np.nan, px)
        if len(bands) < 6:
            return pd.DataFrame(columns=list(RASTER_SCHEMA.fieldNames()))
        idx = _index_formulas(bands)
        rows = []
        for p in products:
            v = idx[p]
            v = np.where(np.isfinite(v), v, nodata).astype(np.float32)
            rows.append(
                {
                    "scene_id": first["scene_id"],
                    "band": p,
                    "chunk_id": int(first["chunk_id"]),
                    "x0": int(first["x0"]),
                    "y0": int(first["y0"]),
                    "w": int(first["w"]),
                    "h": int(first["h"]),
                    "pixels": v.tolist(),
                    "nodata": nodata,
                    "gt": list(first["gt"]),
                }
            )
        return pd.DataFrame(rows)

    return raster_chunks.groupBy("scene_id", "chunk_id").applyInPandas(
        kernel, schema=RASTER_SCHEMA
    )


# ------------------------------------------------------------- real ACCA

#: ACCA pass-one classes (Irish 2000 / Irish et al. 2006, the published
#: Landsat-7 Automated Cloud Cover Assessment decision tree)
ACCA_CLEAR, ACCA_WARM, ACCA_COLD, ACCA_AMBIG, ACCA_SNOW = 0.0, 1.0, 2.0, 3.0, 4.0

#: pass-two thermal histogram: 1-K bins over [200, 320) K
_ACCA_BT_LO, _ACCA_BT_BINS = 200.0, 120
#: pass-two reclassification quantile + minimum cloud evidence
ACCA_Q, ACCA_MIN_CLOUD = 0.975, 50


def acca_classify(green, red, nir, swir1, bt) -> np.ndarray:
    """Vectorized ACCA PASS ONE over reflectance bands (TOA, [0, 1])
    and brightness temperature (Kelvin) — the published 8-filter tree
    (`gippy.algorithms.acca` slot, SURVEY.md §2.8 X5; replaces round
    1-2's brightness stand-in, VERDICT r2 #8):

      f1 red > 0.08            else CLEAR   (brightness)
      f2 NDSI < 0.7            else SNOW
      f3 BT < 300 K            else CLEAR   (temperature)
      f4 (1−swir1)·BT < 225    else AMBIG   (warm surfaces)
      f5 nir/red < 2.0         else AMBIG   (vegetation)
      f6 nir/green < 2.0       else AMBIG   (senescing vegetation)
      f7 nir/swir1 > 1.0       else AMBIG   (rock / desert)
      f8 survivors: COLD cloud if (1−swir1)·BT < 210 else WARM cloud

    NaN in any input → NaN out (caller maps to nodata)."""
    g = np.asarray(green, dtype=np.float64)
    r = np.asarray(red, dtype=np.float64)
    n4 = np.asarray(nir, dtype=np.float64)
    s5 = np.asarray(swir1, dtype=np.float64)
    t6 = np.asarray(bt, dtype=np.float64)
    valid = ~(np.isnan(g) | np.isnan(r) | np.isnan(n4) | np.isnan(s5) | np.isnan(t6))
    with np.errstate(divide="ignore", invalid="ignore"):
        ndsi = (g - s5) / (g + s5)
        comp = (1.0 - s5) * t6
        r43 = n4 / r
        r42 = n4 / g
        r45 = n4 / s5
    out = np.full(g.shape, ACCA_CLEAR)
    cand = valid & (r > 0.08)
    snow = cand & (ndsi >= 0.7)
    out[snow] = ACCA_SNOW
    cand &= ~snow & (t6 < 300.0)
    amb = np.zeros_like(cand)
    for fail in (comp >= 225.0, r43 >= 2.0, r42 >= 2.0, r45 <= 1.0):
        hit = cand & fail
        amb |= hit
        cand &= ~hit
    out[amb] = ACCA_AMBIG
    out[cand & (comp < 210.0)] = ACCA_COLD
    out[cand & (comp >= 210.0)] = ACCA_WARM
    out[~valid] = np.nan
    return out


def acca_bt_threshold(hist: np.ndarray, q: float = ACCA_Q) -> float:
    """Pass-two thermal threshold from a binned cloud-BT histogram:
    lower edge of the first bin where the cumulative count reaches
    q·total.  Binned (1 K) so the distributed chunk-partial + scene-sum
    reduction reproduces it EXACTLY (same additive trick as
    zonal_stats) — and so a SQL oracle can recompute it."""
    total = int(hist.sum())
    if total == 0:
        return -np.inf
    cum = np.cumsum(hist)
    b = int(np.searchsorted(cum, q * total))
    return _ACCA_BT_LO + float(min(b, _ACCA_BT_BINS - 1))


_ACCA_HIST_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("bin", T.IntegerType()),
        T.StructField("n", T.LongType()),
    ]
)


def acca_mask(raster_chunks: DataFrame, pass_two: bool = True) -> DataFrame:
    """Real ACCA over raster_chunks → band 'acca' rows with per-pixel
    classes {0 clear, 1 warm, 2 cold, 3 ambiguous, 4 snow, nodata}.

    Needs bands green/red/nir/swir1 + 'tirs' (brightness temperature,
    Kelvin — fixtures.gen_thermal_chunks synthesizes it; real scenes
    carry it natively).  Scale shape: pass one is chunk-local; pass two
    reduces per-chunk 1-K cloud-BT histograms to ONE tiny (scene, bin)
    table (≤120 rows/scene), derives the scene threshold, and
    broadcast-joins it back — no scene's pixels ever gather in one
    task."""

    def p1_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        nodata = float(first["nodata"])
        px = {
            b: np.asarray(p, dtype=np.float64)
            for b, p in zip(pdf["band"], pdf["pixels"])
        }
        need = ("green", "red", "nir", "swir1", "tirs")
        if any(b not in px for b in need):
            return pd.DataFrame(columns=list(RASTER_SCHEMA.fieldNames()))
        nd32 = float(np.float32(nodata))  # pixels are float32
        bands = {b: np.where(px[b] == nd32, np.nan, px[b]) for b in need}
        cls = acca_classify(
            bands["green"], bands["red"], bands["nir"], bands["swir1"],
            bands["tirs"],
        )
        out = np.where(np.isnan(cls), nodata, cls).astype(np.float32)
        row = {f: first[f] for f in RASTER_SCHEMA.fieldNames()}
        row["band"] = "acca"
        row["pixels"] = out.tolist()
        return pd.DataFrame([row])[list(RASTER_SCHEMA.fieldNames())]

    p1 = raster_chunks.groupBy("scene_id", "chunk_id").applyInPandas(
        p1_kernel, schema=RASTER_SCHEMA
    )
    if not pass_two:
        return p1
    p1 = p1.localCheckpoint(eager=False)

    tirs = raster_chunks.where(F.col("band") == "tirs").select(
        "scene_id", "chunk_id", F.col("pixels").alias("bt_px")
    )
    joined = p1.join(tirs, ["scene_id", "chunk_id"])

    def hist_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for sid, cls_px, bt_px in zip(
                pdf["scene_id"], pdf["pixels"], pdf["bt_px"]
            ):
                cls = np.asarray(cls_px, dtype=np.float64)
                bt = np.asarray(bt_px, dtype=np.float64)
                cloud = (cls == ACCA_WARM) | (cls == ACCA_COLD)
                if not cloud.any():
                    continue
                b = np.clip(
                    np.floor(bt[cloud] - _ACCA_BT_LO), 0, _ACCA_BT_BINS - 1
                ).astype(np.int64)
                cnt = np.bincount(b, minlength=_ACCA_BT_BINS)
                nz = np.nonzero(cnt)[0]
                rows.extend((sid, int(k), int(cnt[k])) for k in nz)
            yield pd.DataFrame(rows, columns=["scene_id", "bin", "n"])

    hist = (
        joined.select("scene_id", "pixels", "bt_px")
        .mapInPandas(hist_kernel, schema=_ACCA_HIST_SCHEMA)
        .groupBy("scene_id", "bin")
        .agg(F.sum("n").alias("n"))
    )

    def thresh_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        h = np.zeros(_ACCA_BT_BINS, dtype=np.int64)
        h[pdf["bin"].to_numpy()] = pdf["n"].to_numpy()
        return pd.DataFrame(
            {
                "scene_id": [pdf["scene_id"].iloc[0]],
                "bt_thresh": [acca_bt_threshold(h)],
                "n_cloud": [int(h.sum())],
            }
        )

    thr = hist.groupBy("scene_id").applyInPandas(
        thresh_kernel,
        schema="scene_id string, bt_thresh double, n_cloud long",
    )

    def p2_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rows = []
            for _, r in pdf.iterrows():
                cls = np.asarray(r["pixels"], dtype=np.float64)
                if (
                    r["n_cloud"] is not None
                    and int(r["n_cloud"]) >= ACCA_MIN_CLOUD
                ):
                    bt = np.asarray(r["bt_px"], dtype=np.float64)
                    up = (cls == ACCA_AMBIG) & (bt < float(r["bt_thresh"]))
                    cls = np.where(up, ACCA_WARM, cls)
                row = {f: r[f] for f in RASTER_SCHEMA.fieldNames()}
                row["pixels"] = cls.astype(np.float32).tolist()
                out_rows.append(row)
            yield pd.DataFrame(out_rows, columns=list(RASTER_SCHEMA.fieldNames()))

    return (
        joined.join(F.broadcast(thr), "scene_id", "left")
        .mapInPandas(p2_kernel, schema=RASTER_SCHEMA)
    )


def acca_cloud_mask(raster_chunks: DataFrame, pass_two: bool = True) -> DataFrame:
    """ACCA classes → binary cloudmask (1 = warm/cold cloud), band
    'cloudmask', pixels ∈ {0, 1, nodata}; `apply_mask` applies it."""
    acca = acca_mask(raster_chunks, pass_two=pass_two)
    # compare in float32 — pass-one stored classes (and nodata pixels)
    # via astype(float32), so an exact-equality test against the DOUBLE
    # nodata column silently misses any nodata value that is not
    # float32-representable (ADVICE r3 low)
    to_mask = F.transform(
        "pixels",
        lambda p: F.when(p == F.col("nodata").cast("float"), p)
        .when((p == F.lit(ACCA_WARM)) | (p == F.lit(ACCA_COLD)), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .cast("float"),
    )
    return acca.withColumn("pixels", to_mask).withColumn("band", F.lit("cloudmask"))


def apply_mask(products: DataFrame, mask: DataFrame) -> DataFrame:
    """Set product pixels to nodata wherever mask==1 (ProjectInventory's
    mask-one-product-by-another, SURVEY.md §1.1)."""
    m = mask.select(
        F.col("scene_id").alias("m_scene"),
        F.col("chunk_id").alias("m_chunk"),
        F.col("pixels").alias("m_pixels"),
    )
    joined = products.join(
        m,
        (products.scene_id == m.m_scene) & (products.chunk_id == m.m_chunk),
        "left",
    )
    masked = F.when(
        F.col("m_pixels").isNotNull(),
        F.zip_with(
            "pixels",
            "m_pixels",
            lambda p, q: F.when(q == 1.0, F.col("nodata")).otherwise(p),
        ),
    ).otherwise(F.col("pixels"))
    return joined.withColumn("pixels", masked).drop("m_scene", "m_chunk", "m_pixels")


# ------------------------------------------------------------ zonal stats

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("extent_id", T.StringType()),
        T.StructField("scene_id", T.StringType()),
        T.StructField("band", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("s1", T.DoubleType()),
        T.StructField("s2", T.DoubleType()),
        T.StructField("s3", T.DoubleType()),
        T.StructField("mn", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def _chunk_bbox_cols(df: DataFrame) -> DataFrame:
    gt = F.col("gt")
    lon0 = F.element_at(gt, 1) + F.col("x0") * F.element_at(gt, 2)
    lon1 = F.element_at(gt, 1) + (F.col("x0") + F.col("w")) * F.element_at(gt, 2)
    lat0 = F.element_at(gt, 4) + (F.col("y0") + F.col("h")) * F.element_at(gt, 6)
    lat1 = F.element_at(gt, 4) + F.col("y0") * F.element_at(gt, 6)
    return (
        df.withColumn("c_min_lon", F.least(lon0, lon1))
        .withColumn("c_max_lon", F.greatest(lon0, lon1))
        .withColumn("c_min_lat", F.least(lat0, lat1))
        .withColumn("c_max_lat", F.greatest(lat0, lat1))
    )


def zonal_stats(
    spark, chunks: DataFrame, extents: DataFrame, rollup: bool = False
) -> DataFrame:
    """→ (extent_id, scene_id, band, count, min, max, mean, stddev, skew).

    stddev is the sample stddev (matches SQL stddev_samp); skew is the
    population skewness m3/m2^1.5 (matches Spark's `skewness`).

    ``rollup=True`` adds grouping-set subtotal rows (A7 — extent and
    extent×scene level); valid because the moment partials (n, Σx, Σx²,
    Σx³, min, max) are additive, so subtotals finalize exactly.
    """
    bc = spark.sparkContext.broadcast(
        {
            r["extent_id"]: rings_to_prepared(r["rings"])
            for r in extents.select("extent_id", "rings").collect()
        }
    )
    ext = extents.select("extent_id", "minx", "miny", "maxx", "maxy")
    cand = _chunk_bbox_cols(chunks).join(
        F.broadcast(ext),
        (F.col("c_min_lon") <= F.col("maxx"))
        & (F.col("c_max_lon") >= F.col("minx"))
        & (F.col("c_min_lat") <= F.col("maxy"))
        & (F.col("c_max_lat") >= F.col("miny")),
        "inner",
    )

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prep = bc.value
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                poly = prep.get(r.extent_id)
                if poly is None:
                    continue
                w, h = int(r.w), int(r.h)
                gt = list(r.gt)
                cols = np.arange(w) + int(r.x0)
                rows_ = np.arange(h) + int(r.y0)
                lons = gt[0] + (cols + 0.5) * gt[1]
                lats = gt[3] + (rows_ + 0.5) * gt[5]
                lon_g = np.repeat(lons[None, :], h, axis=0).ravel()
                lat_g = np.repeat(lats[:, None], w, axis=1).ravel()
                inside = poly.contains_chunked(lon_g, lat_g)
                px = np.asarray(r.pixels, dtype=np.float64)
                nodata = float(np.float32(r.nodata))  # pixels are float32
                v = px[inside & (px != nodata)]
                if v.size == 0:
                    continue
                out.append(
                    {
                        "extent_id": r.extent_id,
                        "scene_id": r.scene_id,
                        "band": r.band,
                        "n": int(v.size),
                        "s1": float(v.sum()),
                        "s2": float((v**2).sum()),
                        "s3": float((v**3).sum()),
                        "mn": float(v.min()),
                        "mx": float(v.max()),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in _PARTIAL_SCHEMA.fields])

    part = cand.select(
        "extent_id", "scene_id", "band", "x0", "y0", "w", "h", "pixels", "nodata", "gt"
    ).mapInPandas(partials, schema=_PARTIAL_SCHEMA)

    group_cols = ["extent_id", "scene_id", "band"]
    grouping = part.rollup(*group_cols) if rollup else part.groupBy(*group_cols)
    agg = grouping.agg(
        F.sum("n").alias("count"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.sum("s3").alias("s3"),
    )
    n = F.col("count").cast("double")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = F.col("s3") / n - 3 * mean * F.col("s2") / n + 2 * mean * mean * mean
    stddev = F.when(n > 1, F.sqrt(F.greatest(m2, F.lit(0.0)) * n / (n - 1))).otherwise(
        F.lit(None)
    )
    skew = F.when(m2 > _EPS, m3 / F.pow(m2, 1.5)).otherwise(F.lit(None))
    return agg.select(
        "extent_id",
        "scene_id",
        "band",
        "count",
        "min",
        "max",
        mean.alias("mean"),
        stddev.alias("stddev"),
        skew.alias("skew"),
    )


# --------------------------------------------------- composites & mosaic


def scene_band_means(chunks: DataFrame) -> DataFrame:
    """Per (scene, band): mean over valid pixels — JVM-side (explode-free
    via aggregate() over the array), used by composites."""
    valid_sum = F.aggregate(
        "pixels",
        F.struct(F.lit(0.0).alias("s"), F.lit(0).cast("long").alias("c")),
        lambda acc, x: F.struct(
            (acc["s"] + F.when(x != F.col("nodata").cast("float"), x.cast("double")).otherwise(0.0)).alias("s"),
            (acc["c"] + F.when(x != F.col("nodata").cast("float"), 1).otherwise(0)).alias("c"),
        ),
    )
    per_chunk = chunks.withColumn("vs", valid_sum).select(
        "scene_id", "band", F.col("vs.s").alias("s"), F.col("vs.c").alias("c")
    )
    return per_chunk.groupBy("scene_id", "band").agg(
        (F.sum("s") / F.sum("c")).alias("band_mean"), F.sum("c").alias("valid_px")
    )


def temporal_composite(
    scenes: DataFrame, chunks: DataFrame, band: str = "ndvi", days: int = 32
) -> DataFrame:
    """MODIS ndvi8-analog max-value composite per (tile, N-day window).

    → (tile_id, window_start, band, max_val) — SQL-expressible for the
    duckdb oracle (A3)."""
    means = scene_band_means(chunks).where(F.col("band") == band)
    joined = means.join(
        scenes.select("scene_id", "tile_id", "acq_date"), "scene_id"
    )
    ws = F.date_add(
        F.lit("2025-01-01"),
        (F.floor(F.datediff(F.col("acq_date"), F.lit("2025-01-01")) / days) * days).cast(
            "int"
        ),
    )
    return (
        joined.withColumn("window_start", ws)
        .groupBy("tile_id", "window_start")
        .agg(F.max("band_mean").alias("max_val"))
        .withColumn("band", F.lit(band))
        .select("tile_id", "window_start", "band", "max_val")
    )


def pixelwise_composite(chunks: DataFrame, band: str = "ndvi") -> DataFrame:
    """A3 pixel-wise variant: np.nanmax over stacked chunks per
    (scene-tile chunk window) — grouped-map kernel, nodata-aware."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        nodata = float(first["nodata"])
        stack = np.stack(
            [np.asarray(p, dtype=np.float64) for p in pdf["pixels"]], axis=0
        )
        stack = np.where(stack == float(np.float32(nodata)), np.nan, stack)
        with np.errstate(all="ignore"):
            mx = np.nanmax(stack, axis=0)
        mx = np.where(np.isfinite(mx), mx, nodata).astype(np.float32)
        out = first.to_dict()
        out["pixels"] = mx.tolist()
        out["scene_id"] = "composite_" + str(first["chunk_id"])
        return pd.DataFrame([out])[list(RASTER_SCHEMA.fieldNames())]

    return (
        chunks.where(F.col("band") == band)
        .groupBy("chunk_id", "x0", "y0")
        .applyInPandas(kernel, schema=RASTER_SCHEMA)
    )


def mosaic_first_nonnodata(chunks: DataFrame, band: str) -> DataFrame:
    """A4 cookie_cutter analog: per acquisition date, paste overlapping
    chunk windows in deterministic scene_id order, first non-nodata wins
    (byte-stable — GIPS mosaics per date across tiles)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("scene_id", kind="mergesort")
        first = pdf.iloc[0]
        nodata = float(first["nodata"])
        acc = np.full(len(first["pixels"]), nodata, dtype=np.float64)
        for pixels in pdf["pixels"]:
            px = np.asarray(pixels, dtype=np.float64)
            fill = acc == nodata
            acc[fill] = px[fill]
        out = first.to_dict()
        out["pixels"] = acc.astype(np.float32).tolist()
        out["scene_id"] = "mosaic_" + str(first["date_key"]) + "_" + str(
            first["chunk_id"]
        )
        return pd.DataFrame([out])[list(RASTER_SCHEMA.fieldNames())]

    with_date = chunks.where(F.col("band") == band).withColumn(
        "date_key", F.substring_index(F.col("scene_id"), "_", -1)
    )
    return with_date.groupBy("date_key", "chunk_id", "x0", "y0").applyInPandas(
        kernel, schema=RASTER_SCHEMA
    )
