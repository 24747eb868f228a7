"""GIPS inventory semantics as relational operators (SURVEY.md §2.2–2.7).

The reference's "queries" are dict navigations over (driver, tile, date,
sensor, asset, product); here they are DataFrame compositions over the
`scenes` table — every one pushes filters to the scan and lets Catalyst
choose join strategies.

Refs: DataInventory.__init__ filters (F1–F4), cloud filter (F7),
sensor preference (J6/W1), asset↔product join (J3), latency range join
(J7), skip-existing anti join (J8), coverage calendar (A2), inventory
summary count-distincts (A5), tile-set ops (U1–U3), ordered print (O1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

SENSOR_RANK = {"landsat": 1, "sentinel2": 2, "modis": 3}  # preference order
ASSET_LATENCY_DAYS = {"landsat": 16, "sentinel2": 5, "modis": 3}


def inventory(
    scenes: DataFrame,
    tiles: list[str] | None = None,
    date_range: tuple[str, str] | None = None,
    doy_window: tuple[int, int] | None = None,
    sensors: list[str] | None = None,
    max_cloud: float | None = None,
) -> DataFrame:
    """F1–F4 + F7 — the DataInventory filter stack (all sargable)."""
    out = scenes
    if tiles:
        out = out.where(F.col("tile_id").isin(tiles))
    if date_range:
        out = out.where(F.col("acq_date").between(*date_range))
    if doy_window:
        out = out.where(F.dayofyear("acq_date").between(*doy_window))
    if sensors:
        out = out.where(F.col("sensor").isin(sensors))
    if max_cloud is not None:
        out = out.where(F.col("cloud_pct") < max_cloud)
    return out


def best_scene_per_tile_date(scenes: DataFrame) -> DataFrame:
    """J6/W1 — sensor preference: one best observation per (tile, date)."""
    rank = F.coalesce(
        *[
            F.when(F.col("sensor") == s, F.lit(r))
            for s, r in SENSOR_RANK.items()
        ],
        F.lit(99),
    )
    w = W.partitionBy("tile_id", "acq_date").orderBy(
        rank.asc(), F.col("cloud_pct").asc(), F.col("scene_id").asc()
    )
    return (
        scenes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def coverage_calendar(scenes: DataFrame) -> DataFrame:
    """A2/O1 — per date: tiles present, sensors, mean cloud (the
    inventory calendar), date-ordered."""
    return (
        scenes.groupBy("acq_date")
        .agg(
            F.countDistinct("tile_id").alias("n_tiles"),
            F.countDistinct("sensor").alias("n_sensors"),
            F.round(F.avg("cloud_pct"), 6).alias("mean_cloud"),
        )
        .orderBy("acq_date")
    )


def inventory_summary(scenes: DataFrame) -> DataFrame:
    """A5 — count-distinct summary (exact, never approx on correctness
    paths)."""
    return scenes.agg(
        F.countDistinct("acq_date").alias("n_dates"),
        F.countDistinct("tile_id").alias("n_tiles"),
        F.countDistinct("sensor").alias("n_sensors"),
        F.count(F.lit(1)).alias("n_scenes"),
    )


def missing_products(scenes: DataFrame, lineage_done: DataFrame) -> DataFrame:
    """J8/U3 — scenes still needing processing: anti join vs lineage."""
    return scenes.join(
        lineage_done.select("scene_id").distinct(), "scene_id", "left_anti"
    )


def scenes_in_window(scenes: DataFrame, pages: DataFrame) -> DataFrame:
    """J7 — range join: pages whose warc_ts falls inside a scene's
    validity window [acq_date, acq_date + sensor latency)."""
    s = scenes.withColumn(
        "latency",
        F.coalesce(
            *[
                F.when(F.col("sensor") == k, F.lit(v))
                for k, v in ASSET_LATENCY_DAYS.items()
            ],
            F.lit(0),
        ),
    ).select(
        "scene_id",
        "tile_id",
        F.col("acq_date").cast("timestamp").alias("t0"),
        F.date_add(F.col("acq_date"), F.col("latency")).cast("timestamp").alias("t1"),
    )
    return pages.join(
        F.broadcast(s),
        (pages.warc_ts >= s.t0) & (pages.warc_ts < s.t1),
        "inner",
    ).select("url", "scene_id", "tile_id", "warc_ts")


def parse_scene_id(df: DataFrame, col: str = "scene_id") -> DataFrame:
    """X1 — filename parsing IS the schema inference (`gips/data/core.py ::
    Asset.__init__`): `{sensor}_{tile}_{%Y%j}` → typed columns via
    regexp_extract + to_date(yyyyDDD)."""
    pat = r"^([a-z0-9]+)_([A-Za-z0-9]+)_(\d{7})$"
    return df.withColumns(
        {
            "p_sensor": F.regexp_extract(F.col(col), pat, 1),
            "p_tile_id": F.regexp_extract(F.col(col), pat, 2),
            "p_date": F.to_date(F.regexp_extract(F.col(col), pat, 3), "yyyyDDD"),
        }
    )


def tile_timeseries(scenes: DataFrame, value_col: str = "cloud_pct", window: int = 3) -> DataFrame:
    """W3 — per-tile date-ordered moving mean + lag (ProjectInventory
    time-series extraction analog)."""
    w = W.partitionBy("tile_id").orderBy("acq_date")
    return scenes.select(
        "tile_id",
        "acq_date",
        F.col(value_col).alias("v"),
        F.avg(value_col).over(w.rowsBetween(-(window - 1), 0)).alias("moving_mean"),
        F.lag(value_col, 1).over(w).alias("prev_v"),
    )


def grouped_stats(
    df: DataFrame, group: str, x: str, y: str
) -> DataFrame:
    """A-family statistical aggregates: Pearson correlation, sample /
    population covariance, OLS regression (slope / intercept / r²), and
    population skewness g1 = m3/m2^1.5 and excess kurtosis m4/m2² − 3
    (Spark's definitions).  All JVM built-ins — one shuffle, map-side
    partial moments (`gips/data/core.py :: Data.process` stats products
    compute exactly this family per product grid)."""
    return df.groupBy(group).agg(
        F.count(F.lit(1)).alias("n"),
        F.corr(x, y).alias("corr_xy"),
        F.covar_samp(x, y).alias("covar_s"),
        F.covar_pop(x, y).alias("covar_p"),
        F.stddev_samp(y).alias("std_y"),
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("icept"),
        F.regr_r2(y, x).alias("r2"),
        F.skewness(y).alias("skew_y"),
        F.kurtosis(y).alias("kurt_y"),
    )


def heavy_hitters(df: DataFrame, col: str, k: int = 50) -> DataFrame:
    """Exact global top-k by frequency — O2/A5 breadth for token/domain
    frequency tables.  Shape at scale: map-side partial counts → one
    hash shuffle on the value → TakeOrderedAndProject (per-partition
    top-k merged driver-side, bounded by k) — the distinct-value table
    is never globally sorted; the rank window runs on k rows only."""
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    order = [F.col("n").desc(), F.col(col).asc()]
    top = counts.orderBy(*order).limit(k)
    return top.withColumn("rank", F.row_number().over(W.orderBy(*order)))
