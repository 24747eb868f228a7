"""M4 — exact kNN join: one two-level pruning algorithm, two placements.

Semantics (FIXTURES.md golden): for each query point, the k nearest
geocoded pages by exact haversine, ties broken by url ascending.

Algorithm (SURVEY.md J5, adapted so exactness never depends on hex-grid
edge geometry — see functions/h3lite.py docstring).  The pruning is two
batch kernels over pandas frames; each computes the same thing wherever
it runs:

 1. COARSE (`_coarse_survivors`): roll the res-7 cell directory up to
    res-4 prefixes (one groupBy) — worldwide res-4 prefixes are
    O(10^4-10^5) even at 10^12 rows, vs millions of res-7 cells.  Per
    query, prune prefixes with a RIGOROUS spherical lower bound to each
    prefix bbox (geom.sphere_min_dist_to_rect_m — exact near poles and
    across the antimeridian) and a rigorous upper bound; keep prefixes
    whose lower bound ≤ D_coarse, the k-covering upper bound.  One row
    per (query, surviving prefix).
 2. FINE (`_fine_select`): over the res-7 cells of each query's
    surviving prefixes, re-prune at res 7; the final radius R =
    min(D_fine, D_coarse) still guarantees ≥k rows inside R, and every
    cell outside those prefixes has lb ≥ its prefix's lb > D_coarse ≥ R
    — closure is exact.
 3. Equi-join pages to the (query_id, h3_7) candidates on h3_7
    (JVM-side); exact haversine as a Column expression (codegen, no
    Arrow hop); Window top-k per query (Catalyst rewrites
    row_number()<=k into per-partition top-k).

Placements (same candidates, same output contract):

* `knn_join` — driver: collects the queries, the res-4 rollup and only
  the res-7 slice of surviving prefixes (never the full directory),
  runs both kernels on the driver and broadcasts candidates and queries
  into the join.
* `knn_join_distributed` — executors: the rollup is broadcast, the two
  kernels are the bodies of two mapInPandas stages (over query
  partitions, then over query-hash partitions of the prefix equi-join
  with the directory), and the candidate joins run shuffle-side.  The
  driver holds only the rollup at any query count.

The sparse tail needs no full-directory fallback: the coarse pass IS a
global distance-ordered expansion, so a query in an empty region simply
keeps the nearest prefixes until k rows are covered.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from gips_spark.functions.geom import (
    sphere_max_dist_to_rect_m,
    sphere_min_dist_to_rect_m,
)
from gips_spark.functions.h3lite import PREFIX_SHIFT
from gips_spark.functions.udfs import haversine_expr

#: numeric slack added to covering radii: the rect bounds are exact math
#: but IEEE arccos near ±1 carries up to ~0.1 m error (δθ≈√(2ε) as d→0),
#: and lb/ub of a degenerate bbox come from different code paths.  1 m
#: only widens the candidate superset; exactness is unaffected.
_EPS_M = 1.0


def build_coarse_directory(directory: DataFrame, cell_col: str = "h3_7") -> DataFrame:
    """res-4 rollup of the cell directory (cell_directory.py:17 plan)."""
    return directory.groupBy(
        F.shiftright(F.col(cell_col), PREFIX_SHIFT).alias("prefix")
    ).agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_lat").alias("min_lat"),
        F.max("max_lat").alias("max_lat"),
        F.min("min_lon").alias("min_lon"),
        F.max("max_lon").alias("max_lon"),
    )


def _disk_bounds(coarse_pdf: pd.DataFrame):
    """Per-prefix enclosing-disk (center, radius): rect ⊆ cap(c, r) with
    r = the RIGOROUS spherical max distance from the bbox center to the
    rect (geom.sphere_max_dist_to_rect_m, element-wise vectorized) —
    NOT a sampled-corner max, which under-covers antimeridian-wrapped
    bboxes where the farthest rect point lies interior to a meridian
    edge (ADVICE r2: ~23.8 km gap on lon [-179.86, 179.42]).  Triangle
    inequality then gives VALID bounds d(q,c)−r ≤ min d(q, rect),
    max d(q, rect) ≤ d(q,c)+r — loose where the bbox wraps, never
    wrong.  Precomputed once; the per-query cost is a single broadcast
    haversine matrix instead of the rigorous meridian-extremum bounds
    (those stay at the FINE level, so the final closure radius — hence
    exactness — is unchanged)."""
    la1 = coarse_pdf["min_lat"].to_numpy()
    la2 = coarse_pdf["max_lat"].to_numpy()
    lo1 = coarse_pdf["min_lon"].to_numpy()
    lo2 = coarse_pdf["max_lon"].to_numpy()
    cla = (la1 + la2) / 2.0
    clo = (lo1 + lo2) / 2.0
    r = sphere_max_dist_to_rect_m(cla, clo, la1, la2, lo1, lo2)
    return cla, clo, r


#: query-block size for the (block × n_prefixes) bound matrices:
#: blocking keeps memory constant at ANY query count (10^5 queries ×
#: 10^5 prefixes would be an 80 GB matrix unblocked; per-block it is
#: B × prefixes).
BLOCK = 512


def _unit_xyz(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    """(n, 3) unit vectors — chord-space form of points on the sphere."""
    la = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lo = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)], axis=1)


def _chord_dist_outer(q_xyz: np.ndarray, c_xyz: np.ndarray) -> np.ndarray:
    """(B, P) chord-length meters 2R·(chord/2), chord² = 2 − 2·q·c.

    A RIGOROUS LOWER bound of great-circle distance (gc = 2R·asin(c/2)
    ≥ 2R·(c/2)), asymptotically tight: relative gap is x²/6 ≈ 1e-5 at
    1000 km.  Used only as the ordering/shortlist proxy — the covering
    radius dc and the final keep test run on rigorous spherical bounds
    over the (small) selected sets, so exactness never rests on this.
    One BLAS GEMM + sqrt; no B×P transcendentals at all."""
    from gips_spark.functions.geom import EARTH_RADIUS_M

    g = q_xyz @ c_xyz.T
    return 2.0 * EARTH_RADIUS_M * np.sqrt(np.clip(0.5 - 0.5 * g, 0.0, 1.0))


def _coarse_arrays(coarse_pdf: pd.DataFrame):
    """Unpack the res-4 rollup once: (n, ids, rect arrays, disk bounds,
    disk-center unit vectors)."""
    cla, clo, crad = _disk_bounds(coarse_pdf)
    return (
        coarse_pdf["n_rows"].to_numpy(),
        coarse_pdf["prefix"].to_numpy(),
        coarse_pdf["min_lat"].to_numpy(),
        coarse_pdf["max_lat"].to_numpy(),
        coarse_pdf["min_lon"].to_numpy(),
        coarse_pdf["max_lon"].to_numpy(),
        crad,
        _unit_xyz(cla, clo),
    )


def _coarse_prune_block(
    c_arrays, q_lat: np.ndarray, q_lon: np.ndarray, q_k: np.ndarray
):
    """Vectorized coarse(res-4) pruning for ONE query block (VERDICT r3
    next #2 — no iterrows): returns (flat_rows, flat_prefixes, dc) where
    (flat_rows[i], flat_prefixes[i]) enumerate the surviving prefixes of
    each block-local query row-major, and dc is the per-query coarse
    covering radius.  Semantics identical to the former per-query loop:

    (1) k-covering selected by disk-UB order: a set of prefixes whose
        EVERY point lies within the last taken disk-ub, holding ≥k
        rows.  Ordering by ub (not lb) dodges prefixes whose bbox
        straddles the antimeridian/pole (disk-lb 0 but genuinely
        half-earth extent).  D is then tightened with the rigorous
        upper bound on just the covering set.
    (2) disk-lb shortlist (valid superset: disk-lb ≤ true lb), then
        rigorous lb re-filter on the shortlist only.
    """
    c_n, c_ids, la1, la2, lo1, lo2, crad, c_xyz = c_arrays
    B, P = len(q_lat), len(c_ids)
    if P == 0 or B == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.zeros(B)
    # chord-space lower bound of the query↔disk-center distance: valid
    # for both uses below (ub ordering is a heuristic; lb shortlist
    # needs a lower bound, and chord ≤ gc makes lb_blk ≤ the true
    # disk-lb, i.e. the shortlist stays a superset)
    dqc = _chord_dist_outer(_unit_xyz(q_lat, q_lon), c_xyz)
    lb_blk = np.maximum(dqc - crad[None, :], 0.0)
    ub_blk = (dqc + crad[None, :]).astype(np.float32)  # proxy only
    # (1) per-row covering set in (proxy) disk-ub order.  Full per-row
    # argsort of P prefixes was the hot spot; the covering set is tiny,
    # so argpartition the T smallest ubs and sort only those.
    T = int(min(P, max(64, 4 * q_k.max())))
    if T < P:
        part = np.argpartition(ub_blk, T - 1, axis=1)[:, :T]
        order = np.take_along_axis(
            part, np.argsort(np.take_along_axis(ub_blk, part, axis=1), axis=1), axis=1
        )
        # No short-row fallback needed (ADVICE r4): every directory
        # prefix holds n_rows >= 1 by construction (it exists because a
        # groupBy counted at least one point), so the first T >= 4*k
        # prefixes always cumulate >= k rows and the covering set
        # completes within the partitioned slice.
    else:
        order = np.argsort(ub_blk, axis=1, kind="stable")
    cum = np.cumsum(c_n[order], axis=1)
    pos = (cum < q_k[:, None]).sum(axis=1)  # == searchsorted(cum, k)
    take = np.minimum(pos + 1, np.minimum(order.shape[1], P))
    cov_mask = np.arange(order.shape[1])[None, :] < take[:, None]
    rows = np.repeat(np.arange(B), take)
    cols = order[cov_mask]
    ub_rig = sphere_max_dist_to_rect_m(
        q_lat[rows], q_lon[rows], la1[cols], la2[cols], lo1[cols], lo2[cols]
    )
    dc = np.zeros(B)
    np.maximum.at(dc, rows, ub_rig)
    dc = dc + _EPS_M
    # (2) shortlist by disk-lb, rigorous lb re-filter on it only
    s_rows, s_cols = np.nonzero(lb_blk <= dc[:, None])
    lb_rig = sphere_min_dist_to_rect_m(
        q_lat[s_rows], q_lon[s_rows],
        la1[s_cols], la2[s_cols], lo1[s_cols], lo2[s_cols],
    )
    keep = lb_rig <= dc[s_rows]
    return s_rows[keep], c_ids[s_cols[keep]], dc


def _coarse_survivors(c_arrays, qpdf: pd.DataFrame) -> pd.DataFrame:
    """COARSE kernel: res-4 pruning of a query frame (query_id, lat, lon,
    k), BLOCK queries at a time → one row per (query, surviving prefix)
    with query_id, lat, lon, k, prefix and d_coarse (the query's coarse
    covering radius)."""
    q_lat = qpdf["lat"].to_numpy(np.float64)
    q_lon = qpdf["lon"].to_numpy(np.float64)
    q_k = qpdf["k"].to_numpy(np.int64)
    g, prefix, d_coarse = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for b0 in range(0, len(q_lat), BLOCK):
        sl = slice(b0, b0 + BLOCK)
        rows, prefs, dc = _coarse_prune_block(c_arrays, q_lat[sl], q_lon[sl], q_k[sl])
        g.append(b0 + rows)
        prefix.append(prefs)
        d_coarse.append(dc[rows])
    g = np.concatenate(g)
    return pd.DataFrame(
        {
            "query_id": qpdf["query_id"].to_numpy()[g],
            "lat": q_lat[g],
            "lon": q_lon[g],
            "k": q_k[g],
            "prefix": np.concatenate(prefix),
            "d_coarse": np.concatenate(d_coarse),
        }
    )


def _covering_radii_seg(
    lb: np.ndarray, ub: np.ndarray, n: np.ndarray,
    qi: np.ndarray, seg_starts: np.ndarray, seg_counts: np.ndarray,
    q_k: np.ndarray,
) -> np.ndarray:
    """Per-query covering radius over (query, lb)-sorted, non-empty
    segments: the max ub over a query's cells in lb order up to the
    first that brings the running row count to ≥k, + _EPS_M.  At least
    k rows (or all of the segment's) lie within it.  cumsum /
    searchsorted / max run as segment ops over all queries at once."""
    cum = np.cumsum(n)
    within = cum - np.repeat(cum[seg_starts] - n[seg_starts], seg_counts)
    low = (within < np.repeat(q_k, seg_counts)).astype(np.int64)
    take = np.minimum(np.add.reduceat(low, seg_starts) + 1, seg_counts)
    rank = np.arange(len(lb)) - np.repeat(seg_starts, seg_counts)
    cov = rank < np.repeat(take, seg_counts)
    radii = np.zeros(len(seg_counts))
    np.maximum.at(radii, qi[cov], ub[cov])
    return radii + _EPS_M


def _fine_select(pairs_pdf: pd.DataFrame) -> pd.DataFrame:
    """FINE kernel: (query, res-7 cell) pairs — coarse survivors merged
    on prefix with the directory rows of `_prefixed` — → candidate
    (query_id, h3_7).  Rigorous rect bounds for every pair in one
    vectorized call, the per-query covering radius D_fine, then keep
    lb ≤ min(D_fine, D_coarse).  All pairs of a query must be in the
    same frame."""
    p = pairs_pdf
    codes, uniques = pd.factorize(p["query_id"], sort=False)
    rect = [
        p[c].to_numpy()
        for c in ("lat", "lon", "min_lat", "max_lat", "min_lon", "max_lon")
    ]
    lb = sphere_min_dist_to_rect_m(*rect)
    ub = sphere_max_dist_to_rect_m(*rect)
    o = np.lexsort((lb, codes))
    qi, lb, ub = codes[o], lb[o], ub[o]
    seg_counts = np.bincount(qi, minlength=len(uniques))
    seg_starts = np.cumsum(seg_counts) - seg_counts
    first = o[seg_starts]  # every query has ≥1 pair: its segment's first row
    d_fine = _covering_radii_seg(
        lb, ub, p["n_rows"].to_numpy()[o], qi, seg_starts, seg_counts,
        p["k"].to_numpy(np.int64)[first],
    )
    radius = np.minimum(d_fine, p["d_coarse"].to_numpy()[first])
    sel = lb <= radius[qi]
    return pd.DataFrame(
        {"query_id": np.asarray(uniques)[qi[sel]], "h3_7": p["h3_7"].to_numpy()[o][sel]}
    )


def _prefixed(directory: DataFrame) -> DataFrame:
    """The res-7 directory rows `_fine_select` reads, keyed by prefix."""
    return directory.select(
        F.shiftright(F.col("h3_7"), PREFIX_SHIFT).alias("prefix"),
        "h3_7", "n_rows", "min_lat", "max_lat", "min_lon", "max_lon",
    )


def _two_level_candidates(
    directory: DataFrame, queries_pdf: pd.DataFrame
) -> tuple[pd.DataFrame, int]:
    """Driver placement of both kernels: collect the res-4 rollup, prune,
    collect only the res-7 slice of surviving prefixes, prune again.
    Returns (candidates(query_id, h3_7), res-7 rows collected)."""
    c_arrays = _coarse_arrays(build_coarse_directory(directory).toPandas())
    surv = _coarse_survivors(c_arrays, queries_pdf)
    slice_pdf = (
        _prefixed(directory)
        .where(F.col("prefix").isin(np.unique(surv["prefix"]).tolist()))
        .toPandas()
    )
    return _fine_select(surv.merge(slice_pdf, on="prefix")), len(slice_pdf)


def _cand_schema(queries: DataFrame) -> T.StructType:
    """(query_id, h3_7): the candidate pairs of both placements."""
    return T.StructType([queries.schema["query_id"], T.StructField("h3_7", T.LongType())])


def _topk(joined: DataFrame) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("url").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "url", "dist_m")
    )


def _join_candidates(enriched: DataFrame, queries: DataFrame, cand: DataFrame) -> DataFrame:
    """Pages ⋈ candidates on h3_7 ⋈ queries on query_id, + dist_m.  The
    caller chooses the join strategy: broadcast-hinted frames, or plain
    ones for shuffle-side joins."""
    pts = enriched.where(F.col("geocode_src") != "none").select(
        "url", "lat", "lon", "h3_7"
    )
    qdf = queries.select(
        "query_id", F.col("lat").alias("q_lat"), F.col("lon").alias("q_lon"), "k"
    )
    return (
        pts.join(cand, "h3_7")
        .join(qdf, "query_id")
        .withColumn(
            "dist_m",
            haversine_expr(F.col("lat"), F.col("lon"), F.col("q_lat"), F.col("q_lon")),
        )
    )


def knn_join(
    spark, enriched: DataFrame, queries: DataFrame, directory: DataFrame
) -> DataFrame:
    """→ (query_id, rank, url, dist_m) — exact kNN, ties by url asc.

    Driver placement: both pruning kernels run on the driver, which
    collects only the queries, the coarse rollup and the surviving res-7
    slice; candidates and queries are broadcast into the join."""
    cand_pdf, _ = _two_level_candidates(directory, queries.toPandas())
    cand = spark.createDataFrame(cand_pdf, _cand_schema(queries))
    return _topk(_join_candidates(enriched, F.broadcast(queries), F.broadcast(cand)))


def knn_join_distributed(
    spark,
    enriched: DataFrame,
    queries: DataFrame,
    directory: DataFrame,
    query_parts: int | None = None,
    stage_out: dict | None = None,
) -> DataFrame:
    """kNN for query sets beyond driver memory: NO ``queries.toPandas()``.

    Executor placement of the same kernels as knn_join:

    1. `_coarse_survivors` runs INSIDE executors over query partitions
       (mapInPandas; only the res-4 rollup — O(1e4-1e5) rows worldwide
       — is collected and broadcast);
    2. the survivors are equi-joined with the res-7 directory on prefix
       (distributed), then `_fine_select` runs in mapInPandas over
       query-hash partitions;
    3. the candidate join runs shuffle-side on h3_7 then query_id (no
       driver broadcast of per-query candidates, which scales with
       query count).

    Same exactness contract as knn_join (brute-force-equal); driver
    memory stays O(coarse rollup) at ANY query cardinality."""
    coarse_pdf = build_coarse_directory(directory).toPandas()
    bc = spark.sparkContext.broadcast(coarse_pdf)
    if query_parts is None:
        query_parts = spark.sparkContext.defaultParallelism

    q0 = queries.select(
        "query_id",
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
        F.col("k").cast("long").alias("k"),
    )
    surv_schema = T.StructType(
        q0.schema.fields
        + [T.StructField("prefix", T.LongType()), T.StructField("d_coarse", T.DoubleType())]
    )

    def coarse_stage(it):
        c_arrays = _coarse_arrays(bc.value)
        for pdf in it:
            if len(pdf):
                yield _coarse_survivors(c_arrays, pdf)

    surv = q0.repartition(query_parts).mapInPandas(coarse_stage, surv_schema)
    paired = surv.join(_prefixed(directory), "prefix")

    def fine_stage(it):
        # a partition holds COMPLETE query groups (hash-partitioned on
        # query_id below), so concatenating the partition's batches is
        # bounded by partition sizing, not query-set size
        chunks = [pdf for pdf in it if len(pdf)]
        if chunks:
            yield _fine_select(pd.concat(chunks, ignore_index=True))

    cand = paired.repartition(query_parts, "query_id").mapInPandas(
        fine_stage, _cand_schema(q0)
    )
    if stage_out is not None:
        # diagnostics hook (tests/test_pipeline.py planted-hotspot skew
        # pin): expose the internal stages without changing the plan
        stage_out.update(surv=surv, paired=paired, cand=cand)
    return _topk(_join_candidates(enriched, queries, cand))


def knn_bruteforce(enriched: DataFrame, queries: DataFrame) -> DataFrame:
    """O(n·q) exact baseline (cross join) — oracle for tests/bench."""
    pts = enriched.where(F.col("geocode_src") != "none").select("url", "lat", "lon")
    qdf = queries.select(
        F.col("query_id"), F.col("lat").alias("q_lat"), F.col("lon").alias("q_lon"), "k"
    )
    joined = pts.crossJoin(F.broadcast(qdf)).withColumn(
        "dist_m",
        haversine_expr(F.col("lat"), F.col("lon"), F.col("q_lat"), F.col("q_lon")),
    )
    return _topk(joined)
