"""Deterministic synthetic input tables (FIXTURES.md).

`pages` — the authoritative engine input (BASELINE.json input_hint):
(url, warc_ts, html, text, lang).  Generated entirely with JVM-side
column expressions seeded by ``xxhash64(id, salt)`` so the data is:

* deterministic for a given row count (independent of partitioning —
  every column is a pure function of the row id),
* generated distributed (no driver-side materialization; scales to any
  row count — the 10^12-row posture of SURVEY.md §7.2 is just a bigger
  ``spark.range``),
* skewed by construction: 40% of rows live in K=12 urban hotspot disks
  (σ≈0.05°) so a handful of res-7 cells become mega-cells.

Signal planting (drives the geocoder, FIXTURES.md §1):
  sig < 0.05         url carries ?lat=<f>&lon=<f>     → 'latlon_qs'
  0.05 ≤ sig < 0.20  text embeds "<lat>, <lon>"       → 'coord_text'
  0.20 ≤ sig < 0.40  url path embeds a city slug       → 'city_url'
  0.40 ≤ sig < 0.45  text mentions the city name       → 'city_text'
  else               no signal                         → 'none'

Small driver-side tables (`extents`, `scenes`, `raster_chunks`,
`knn_queries`) are built in numpy (seed 42) and shipped via
createDataFrame — they are dimension-sized by design (broadcast side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gips_spark.functions.textx import GAZETTEER, HOTSPOT_CITIES

_EPOCH_2025 = 1735689600  # 2025-01-01T00:00:00Z
_YEAR_SECONDS = 365 * 86400

_TLDS = ["com", "org", "net", "de", "fr", "jp", "br", "us", "au", "io"]
_LANGS = ["en", "de", "fr", "es", "ja", "pt", "zh", "ru"]
_LANG_CUM = [0.40, 0.58, 0.70, 0.79, 0.86, 0.92, 0.97, 1.01]  # zipf-ish

_WORDS = [
    "the", "and", "of", "to", "in", "data", "river", "market", "mountain",
    "press", "story", "local", "report", "update", "weather", "travel",
    "der", "und", "die", "le", "et", "les", "el", "que", "por", "para",
    "city", "street", "bridge", "harbor", "festival", "museum", "council",
    "election", "transit", "housing", "climate", "energy", "science",
    "culture", "history", "garden", "station", "airport", "library",
    "stadium", "theatre", "quarter", "district", "island", "coast",
    "valley", "forest", "plaza", "tower", "gallery", "academy", "institute",
    "review", "journal", "notice", "bulletin", "chronicle", "gazette",
]

# land-ish boxes for the uniform 60% (minlat, maxlat, minlon, maxlon)
_LAND_BOXES = [
    (25.0, 50.0, -125.0, -70.0),  # North America
    (-35.0, 5.0, -80.0, -40.0),  # South America
    (36.0, 60.0, -10.0, 30.0),  # Europe
    (-30.0, 15.0, -10.0, 40.0),  # Africa
    (5.0, 55.0, 60.0, 140.0),  # Asia
    (-40.0, -12.0, 113.0, 153.0),  # Australia
]


def _u(idcol, salt: str):
    """Deterministic uniform [0,1) from the row id (JVM-side xxhash64)."""
    return (
        F.pmod(F.xxhash64(idcol, F.lit(salt)), F.lit(1 << 40)).cast("double")
        / float(1 << 40)
    )


def _gauss(idcol, salt: str):
    """Approx standard normal: Irwin–Hall(4), rescaled to unit variance."""
    s = sum(_u(idcol, f"{salt}{k}") for k in range(4))
    return (s - F.lit(2.0)) * F.lit(float(np.sqrt(3.0)))


def _pick(arr_lits, idx_col):
    return F.element_at(F.array(*[F.lit(v) for v in arr_lits]), idx_col + 1)


def _latent_latlon(idcol):
    """Latent (lat, lon, hot, hot_idx) column expressions."""
    hot = _u(idcol, "hot") < 0.40
    hot_idx = F.floor(_u(idcol, "hidx") * 12).cast("int")
    h_lat = _pick([c[1] for c in HOTSPOT_CITIES], hot_idx)
    h_lon = _pick([c[2] for c in HOTSPOT_CITIES], hot_idx)
    box_idx = F.floor(_u(idcol, "box") * len(_LAND_BOXES)).cast("int")
    b_lat = _pick([b[0] for b in _LAND_BOXES], box_idx) + _u(idcol, "blat") * (
        _pick([b[1] - b[0] for b in _LAND_BOXES], box_idx)
    )
    b_lon = _pick([b[2] for b in _LAND_BOXES], box_idx) + _u(idcol, "blon") * (
        _pick([b[3] - b[2] for b in _LAND_BOXES], box_idx)
    )
    lat = F.when(hot, h_lat + _gauss(idcol, "glat") * 0.05).otherwise(b_lat)
    lon = F.when(hot, h_lon + _gauss(idcol, "glon") * 0.05).otherwise(b_lon)
    lat = F.least(F.greatest(lat, F.lit(-89.9)), F.lit(89.9))
    return lat, lon, hot, hot_idx


def _city_slug(idcol, hot, hot_idx):
    g_idx = F.floor(_u(idcol, "city") * len(GAZETTEER)).cast("int")
    return F.when(hot, _pick([c[0] for c in HOTSPOT_CITIES], hot_idx)).otherwise(
        _pick([c[0] for c in GAZETTEER], g_idx)
    )


def _url_expr(idcol):
    lat, lon, hot, hot_idx = _latent_latlon(idcol)
    sig = _u(idcol, "sig")
    tld = _pick(_TLDS, F.floor(_u(idcol, "tld") * len(_TLDS)).cast("int"))
    host = F.concat(
        F.lit("www"),
        F.pmod(F.xxhash64(idcol, F.lit("host")), F.lit(500)).cast("string"),
        F.lit(".example."),
        tld,
    )
    slug = _city_slug(idcol, hot, hot_idx)
    w1 = _pick(_WORDS, F.floor(_u(idcol, "pw1") * len(_WORDS)).cast("int"))
    base_path = F.concat(F.lit("/"), w1, F.lit("/p"), idcol.cast("string"))
    city_path = F.concat(F.lit("/news/"), slug, F.lit("/p"), idcol.cast("string"))
    qs = F.concat(
        F.lit("?lat="),
        F.format_string("%.4f", lat),
        F.lit("&lon="),
        F.format_string("%.4f", lon),
    )
    path = F.when((sig >= 0.20) & (sig < 0.40), city_path).otherwise(base_path)
    tail = F.when(sig < 0.05, qs).otherwise(F.lit(""))
    return F.concat(F.lit("https://"), host, path, tail)


def _text_expr(idcol):
    lat, lon, hot, hot_idx = _latent_latlon(idcol)
    sig = _u(idcol, "sig")
    words = [
        _pick(_WORDS, F.floor(_u(idcol, f"w{k}") * len(_WORDS)).cast("int"))
        for k in range(12)
    ]
    salad = F.concat_ws(" ", *words)
    coord = F.concat(
        F.lit("located at "),
        F.format_string("%.4f", lat),
        F.lit(", "),
        F.format_string("%.4f", lon),
    )
    city_words = _city_slug(idcol, hot, hot_idx)
    city = F.concat(
        F.lit("report from "), F.regexp_replace(city_words, "-", " ")
    )
    out = salad
    out = F.when((sig >= 0.05) & (sig < 0.20), F.concat(salad, F.lit(" "), coord)).otherwise(out)
    out = F.when((sig >= 0.40) & (sig < 0.45), F.concat(salad, F.lit(" "), city)).otherwise(out)
    # ~5% near-duplicates of the previous row's text (exercises minhash/simhash)
    near = (_u(idcol, "near") < 0.05) & (idcol > 0)
    prev_words = [
        _pick(_WORDS, F.floor(_u(idcol - 1, f"w{k}") * len(_WORDS)).cast("int"))
        for k in range(12)
    ]
    prev_salad = F.concat_ws(" ", *prev_words)
    out = F.when(near, F.concat(prev_salad, F.lit(" addendum"))).otherwise(out)
    return out


def _html_expr(text_col, idcol):
    title = F.concat(F.lit("Page p"), idcol.cast("string"))
    return F.encode(
        F.concat(
            F.lit("<html><head><title>"),
            title,
            F.lit(
                '</title><script type="text/javascript">var junk = 1 < 2;'
                "</script><style>.x{color:red}</style></head>"
                "<body><nav>Home | About &amp; Contact</nav>"
                "<!-- boilerplate comment --><p>"
            ),
            text_col,
            F.lit("</p><footer>&#169; example &#252;ber</footer></body></html>"),
        ),
        "utf-8",
    )


def gen_pages(spark: SparkSession, n_rows: int, n_partitions: int | None = None) -> DataFrame:
    """The `pages` input table: (url, warc_ts, html, text, lang)."""
    if n_partitions is None:
        n_partitions = max(8, min(256, n_rows // 50_000 or 8))
    base = spark.range(0, n_rows, 1, n_partitions)
    idc = F.col("id")
    # ~2% duplicate urls (re-crawl of previous row's url at a later ts)
    dup = (_u(idc, "dup") < 0.02) & (idc > 0)
    url = F.when(dup, _url_expr(idc - 1)).otherwise(_url_expr(idc))
    text = _text_expr(idc)
    ts = F.timestamp_seconds(
        F.lit(_EPOCH_2025)
        + F.floor(_u(idc, "ts") * _YEAR_SECONDS)
        + F.when(dup, F.lit(_YEAR_SECONDS)).otherwise(F.lit(0))
    )
    lang_u = _u(idc, "lang")
    lang = F.lit(_LANGS[-1])
    for i in range(len(_LANGS) - 2, -1, -1):
        lang = F.when(lang_u < _LANG_CUM[i], F.lit(_LANGS[i])).otherwise(lang)
    return base.select(
        url.alias("url"),
        ts.alias("warc_ts"),
        _html_expr(text, idc).alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


# ------------------------------------------------------- dimension tables


def _regular_ring(clon, clat, r, n, rng, jitter=0.0, star=0.0):
    """CCW ring around (clon, clat); `star` alternates radius for concavity."""
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rr = np.full(n, r, dtype=float)
    if jitter:
        rr = rr * (1.0 + rng.uniform(-jitter, jitter, n))
    if star:
        rr[1::2] = rr[1::2] * star
    lon = clon + rr * np.cos(ang)
    lat = clat + rr * np.sin(ang) * 0.8
    return [(float(a), float(b)) for a, b in zip(lon, lat)]


def gen_extents_pdf(rng_seed: int = 42) -> pd.DataFrame:
    """24 extent polygons per FIXTURES.md §2 (driver-side, broadcast dim)."""
    rng = np.random.default_rng(rng_seed)
    rows = []

    def add(eid, name, rings):
        allp = [p for ring in rings for p in ring]
        xs = [p[0] for p in allp]
        ys = [p[1] for p in allp]
        rows.append(
            {
                "extent_id": eid,
                "name": name,
                "rings": [[{"lon": x, "lat": y} for (x, y) in ring] for ring in rings],
                "minx": min(xs),
                "miny": min(ys),
                "maxx": max(xs),
                "maxy": max(ys),
            }
        )

    k = 1
    # 8 convex — first covers the Tokyo hotspot (mega-cell stress)
    centers = [(139.65, 35.68), (-74.0, 40.7), (13.4, 52.5), (2.35, 48.85),
               (-46.63, -23.55), (151.2, -33.87), (77.1, 28.7), (-99.13, 19.43)]
    for clon, clat in centers:
        add(f"E{k:04d}", f"convex_{k}",
            [_regular_ring(clon, clat, rng.uniform(0.5, 2.0), rng.integers(6, 24), rng, 0.1)])
        k += 1
    # 8 concave stars/notches — the first two pinned over the scene-raster
    # lattices (landsat origin (-5,40), modis origin (-10,36)) so zonal
    # stats always have pixels in zone
    concave_centers = [(-2.0, 43.0), (-6.0, 41.0)] + [
        (float(rng.uniform(-120, 140)), float(rng.uniform(-35, 55))) for _ in range(6)
    ]
    for clon, clat in concave_centers:
        add(f"E{k:04d}", f"concave_{k}",
            [_regular_ring(clon, clat, rng.uniform(1.0, 3.0), int(rng.integers(5, 12)) * 2, rng, 0.05, star=0.45)])
        k += 1
    # 4 with a hole
    for i in range(4):
        clon, clat = rng.uniform(-100, 120), rng.uniform(-30, 50)
        r = rng.uniform(1.5, 3.0)
        outer = _regular_ring(clon, clat, r, 16, rng, 0.05)
        inner = _regular_ring(clon, clat, r * 0.4, 8, rng)[::-1]
        add(f"E{k:04d}", f"holed_{k}", [outer, inner])
        k += 1
    # NOTE: E0009/E0010 (below) are placed over the scene-raster lattices
    # (landsat origin (-5,40), modis origin (-10,36)) so zonal stats always
    # have pixels in zone.
    # 2 adjacent sharing an edge (axis-aligned boxes)
    for i, (x0, x1) in enumerate([(-0.5, 0.5), (0.5, 1.5)]):
        ring = [(x0, 51.0), (x1, 51.0), (x1, 52.0), (x0, 52.0)]
        add(f"E{k:04d}", f"adjacent_{k}", [ring])
        k += 1
    # 1 tiny (smaller than one res-7 cell, ~0.005°)
    add(f"E{k:04d}", "tiny", [_regular_ring(139.6503, 35.6762, 0.004, 8, rng)])
    k += 1
    # 1 large (thousands of res-7 cells)
    add(f"E{k:04d}", "large", [_regular_ring(10.0, 47.0, 6.0, 48, rng, 0.02)])
    return pd.DataFrame(rows)


EXTENTS_SCHEMA = T.StructType(
    [
        T.StructField("extent_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "rings",
            T.ArrayType(
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("lon", T.DoubleType()),
                            T.StructField("lat", T.DoubleType()),
                        ]
                    )
                )
            ),
        ),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)


def gen_extents(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(gen_extents_pdf(), schema=EXTENTS_SCHEMA)


_SENSORS = {
    # sensor → (tile-id style, revisit days, grid origin lon/lat, tile size °)
    "landsat": ("wrs", 16, (-5.0, 40.0), 1.6),
    "sentinel2": ("mgrs", 5, (5.0, 44.0), 1.0),
    "modis": ("hv", 1, (-10.0, 36.0), 4.0),
}


def gen_scenes_pdf(rng_seed: int = 42, lattice: int = 10, year: int = 2025) -> pd.DataFrame:
    """GIPS-style scene footprints: 3 sensor grids over Europe (overlapping
    the Paris/Berlin/London/Moscow hotspots), quadrilateral footprints.

    Mirrors the reference's per-driver tile grids (`tiles.shp` per
    `gips/data/core.py :: Repository`, SURVEY.md §1.1) — filename-style
    scene_id `{sensor}_{tile}_{%Y%j}`.
    """
    rng = np.random.default_rng(rng_seed)
    rows = []
    for sensor, (style, cadence, (olon, olat), size) in _SENSORS.items():
        n_dates = max(4, min(24, 365 // cadence // 4))
        dates = pd.date_range(f"{year}-01-01", periods=n_dates, freq=f"{cadence * 4}D")
        for gx in range(lattice):
            for gy in range(lattice):
                if style == "wrs":
                    tile_id = f"{10 + gx:03d}{20 + gy:03d}"
                elif style == "mgrs":
                    tile_id = f"{30 + gx}T{chr(ord('A') + gy)}H"
                else:
                    tile_id = f"h{gx:02d}v{gy:02d}"
                x0 = olon + gx * size
                y0 = olat + gy * size * 0.6
                quad = [
                    (x0, y0),
                    (x0 + size, y0 + 0.05 * size),
                    (x0 + size * 1.02, y0 + size * 0.62),
                    (x0 + 0.02 * size, y0 + size * 0.57),
                ]
                wkt = (
                    "POLYGON (("
                    + ", ".join(f"{a:.6f} {b:.6f}" for a, b in quad + [quad[0]])
                    + "))"
                )
                n_pick = min(2, len(dates))
                for d in rng.choice(len(dates), size=n_pick, replace=False):
                    date = dates[int(d)].date()
                    rows.append(
                        {
                            "scene_id": f"{sensor}_{tile_id}_{date.strftime('%Y%j')}",
                            "sensor": sensor,
                            "tile_id": tile_id,
                            "acq_date": date,
                            "footprint_wkt": wkt,
                            "cloud_pct": float(rng.uniform(0, 100)),
                            "min_lon": min(a for a, _ in quad),
                            "min_lat": min(b for _, b in quad),
                            "max_lon": max(a for a, _ in quad),
                            "max_lat": max(b for _, b in quad),
                        }
                    )
    return pd.DataFrame(rows)


def gen_scenes(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(gen_scenes_pdf())


_BANDS = ["blue", "green", "red", "nir", "swir1", "swir2"]
_BAND_OFFSET = {"blue": 0.05, "green": 0.08, "red": 0.10, "nir": 0.35, "swir1": 0.20, "swir2": 0.15}
NODATA = -9999.0
IMG_W, IMG_H, CHUNK_H = 64, 64, 16


def gen_raster_chunks_pdf(scenes: pd.DataFrame, n_scenes: int = 60, rng_seed: int = 42) -> pd.DataFrame:
    """Raster payload: per (scene, band) a 64×64 image in 64×16 row-chunks.

    Smooth gradient + per-band offset + seeded noise, ~3% nodata — enough
    structure for golden NDVI/EVI/masks/zonal stats (SURVEY.md §2.8 X4).
    Stands in for gippy.GeoImage chunking (no GDAL in sandbox, §7.3).
    """
    rng = np.random.default_rng(rng_seed)
    srt = scenes.sort_values("scene_id").reset_index(drop=True)
    step = max(1, len(srt) // n_scenes)
    sub = srt.iloc[::step].head(n_scenes)  # spread across all sensor grids
    rows = []
    for _, sc in sub.iterrows():
        gt = [sc["min_lon"], (sc["max_lon"] - sc["min_lon"]) / IMG_W, 0.0,
              sc["max_lat"], 0.0, -(sc["max_lat"] - sc["min_lat"]) / IMG_H]
        yy, xx = np.mgrid[0:IMG_H, 0:IMG_W]
        base = (xx + yy) / (IMG_W + IMG_H)  # smooth gradient in [0,1)
        for band in _BANDS:
            img = base * 0.5 + _BAND_OFFSET[band] + rng.normal(0, 0.01, base.shape)
            mask = rng.random(base.shape) < 0.03
            img = img.astype(np.float32)
            img[mask] = NODATA
            for ci, y0 in enumerate(range(0, IMG_H, CHUNK_H)):
                rows.append(
                    {
                        "scene_id": sc["scene_id"],
                        "band": band,
                        "chunk_id": ci,
                        "x0": 0,
                        "y0": y0,
                        "w": IMG_W,
                        "h": CHUNK_H,
                        "pixels": img[y0 : y0 + CHUNK_H].ravel().tolist(),
                        "nodata": NODATA,
                        "gt": gt,
                    }
                )
    return pd.DataFrame(rows)


RASTER_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("band", T.StringType()),
        T.StructField("chunk_id", T.IntegerType()),
        T.StructField("x0", T.IntegerType()),
        T.StructField("y0", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("pixels", T.ArrayType(T.FloatType())),
        T.StructField("nodata", T.FloatType()),
        T.StructField("gt", T.ArrayType(T.DoubleType())),
    ]
)


def gen_raster_chunks(spark: SparkSession, n_scenes: int = 60) -> DataFrame:
    return spark.createDataFrame(
        gen_raster_chunks_pdf(gen_scenes_pdf(), n_scenes), schema=RASTER_SCHEMA
    )


def gen_thermal_chunks_pdf(
    scenes: pd.DataFrame, n_scenes: int = 60, rng_seed: int = 77
) -> pd.DataFrame:
    """Thermal band ('tirs', brightness temperature in Kelvin) for the
    SAME scenes/chunk layout as gen_raster_chunks — separate generator
    (own rng) so adding it never perturbs the frozen optical goldens.

    BT = 310 − 60·gradient + N(0,2): bright (high-gradient) pixels run
    cold like cloud tops; the value spread crosses every ACCA branch
    (≥300 K clear, 210–225 warm-composite window, <210 cold)."""
    rng = np.random.default_rng(rng_seed)
    srt = scenes.sort_values("scene_id").reset_index(drop=True)
    step = max(1, len(srt) // n_scenes)
    sub = srt.iloc[::step].head(n_scenes)
    rows = []
    for _, sc in sub.iterrows():
        gt = [sc["min_lon"], (sc["max_lon"] - sc["min_lon"]) / IMG_W, 0.0,
              sc["max_lat"], 0.0, -(sc["max_lat"] - sc["min_lat"]) / IMG_H]
        yy, xx = np.mgrid[0:IMG_H, 0:IMG_W]
        base = (xx + yy) / (IMG_W + IMG_H)
        img = (310.0 - 60.0 * base + rng.normal(0, 2.0, base.shape)).astype(
            np.float32
        )
        img[rng.random(base.shape) < 0.03] = NODATA
        for ci, y0 in enumerate(range(0, IMG_H, CHUNK_H)):
            rows.append(
                {
                    "scene_id": sc["scene_id"],
                    "band": "tirs",
                    "chunk_id": ci,
                    "x0": 0,
                    "y0": y0,
                    "w": IMG_W,
                    "h": CHUNK_H,
                    "pixels": img[y0 : y0 + CHUNK_H].ravel().tolist(),
                    "nodata": NODATA,
                    "gt": gt,
                }
            )
    return pd.DataFrame(rows)


def gen_thermal_chunks(spark: SparkSession, n_scenes: int = 60) -> DataFrame:
    return spark.createDataFrame(
        gen_thermal_chunks_pdf(gen_scenes_pdf(), n_scenes), schema=RASTER_SCHEMA
    )


def gen_knn_queries_pdf(rng_seed: int = 42) -> pd.DataFrame:
    """100 kNN query points: 50 in hotspots, 30 sparse, 20 near extent
    boundaries (FIXTURES.md §5)."""
    rng = np.random.default_rng(rng_seed)
    rows = []
    qid = 1
    for _ in range(50):
        name, clat, clon = HOTSPOT_CITIES[int(rng.integers(0, 12))]
        rows.append((f"Q{qid:03d}", clat + rng.normal(0, 0.05), clon + rng.normal(0, 0.05)))
        qid += 1
    for _ in range(30):
        b = _LAND_BOXES[int(rng.integers(0, len(_LAND_BOXES)))]
        rows.append((f"Q{qid:03d}", rng.uniform(b[0], b[1]), rng.uniform(b[2], b[3])))
        qid += 1
    extents = gen_extents_pdf(rng_seed)
    for _ in range(20):
        e = extents.iloc[int(rng.integers(0, len(extents)))]
        ring = e["rings"][0]
        v = ring[int(rng.integers(0, len(ring)))]
        rows.append((f"Q{qid:03d}", v["lat"] + rng.normal(0, 0.01), v["lon"] + rng.normal(0, 0.01)))
        qid += 1
    ks = rng.choice([1, 5, 20], size=len(rows))
    return pd.DataFrame(
        {
            "query_id": [r[0] for r in rows],
            "lat": [float(np.clip(r[1], -89, 89)) for r in rows],
            "lon": [float(r[2]) for r in rows],
            "k": ks.astype(np.int32),
        }
    )


def gen_knn_queries(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(gen_knn_queries_pdf())
