"""Planar/spherical geometry kernels (numpy, vectorized).

* haversine — exact great-circle distance (meters, mean Earth radius).
* PreparedPolygon — precomputed edge arrays + bbox for a polygon with
  optional holes; `contains()` is a vectorized even-odd ray-casting
  test (the "prepared-geometry ray-casting kernel" of BASELINE.json).

Reference parity: GIPS intersects site polygons with tile-grid polygons
via OGR (`gips/data/core.py :: Repository.vector2tiles`, SURVEY.md §2.3
J1/J2); the engine replaces OGR with these kernels.

Conventions: coordinates are (lon, lat) degrees in rings; boundary
semantics are even-odd with half-open edges (a point exactly on a
vertex/edge lands deterministically on one side — fine for goldens,
documented for users).  Polygons must not cross the antimeridian or
poles (v1 exclusion, per FIXTURES.md).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8  # IUGG mean Earth radius


def haversine_m(lat1, lon1, lat2, lon2):
    """Great-circle distance in meters between (lat1,lon1) and (lat2,lon2).

    All args degrees; broadcasts like numpy.
    """
    p1 = np.radians(np.asarray(lat1, dtype=np.float64))
    p2 = np.radians(np.asarray(lat2, dtype=np.float64))
    dphi = p2 - p1
    dlmb = np.radians(np.asarray(lon2, dtype=np.float64)) - np.radians(
        np.asarray(lon1, dtype=np.float64)
    )
    a = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


class PreparedPolygon:
    """Polygon (outer ring + holes) prepared for vectorized ray casting.

    Edges are flattened into four parallel arrays (x1, y1, x2, y2) across
    all rings — even-odd counting makes hole handling free.  Horizontal
    edges never contribute crossings (y1 == y2 excluded by the strict /
    non-strict y test), matching the classic algorithm.
    """

    __slots__ = ("x1", "y1", "x2", "y2", "bbox")

    def __init__(self, rings: list[list[tuple[float, float]]]):
        xs1, ys1, xs2, ys2 = [], [], [], []
        for ring in rings:
            pts = np.asarray(ring, dtype=np.float64)
            if len(pts) < 3:
                continue
            # drop an explicit closing vertex; we close implicitly
            if np.allclose(pts[0], pts[-1]):
                pts = pts[:-1]
            nxt = np.roll(pts, -1, axis=0)
            xs1.append(pts[:, 0])
            ys1.append(pts[:, 1])
            xs2.append(nxt[:, 0])
            ys2.append(nxt[:, 1])
        self.x1 = np.concatenate(xs1)
        self.y1 = np.concatenate(ys1)
        self.x2 = np.concatenate(xs2)
        self.y2 = np.concatenate(ys2)
        allx = np.concatenate([self.x1, self.x2])
        ally = np.concatenate([self.y1, self.y2])
        self.bbox = (allx.min(), ally.min(), allx.max(), ally.max())

    def contains(self, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
        """Even-odd ray-cast containment for point arrays (degrees)."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        minx, miny, maxx, maxy = self.bbox
        out = np.zeros(lon.shape, dtype=bool)
        cand = (lon >= minx) & (lon <= maxx) & (lat >= miny) & (lat <= maxy)
        if not np.any(cand):
            return out
        px = lon[cand]
        py = lat[cand]
        # edge straddles the horizontal ray through py (half-open in y)
        y1 = self.y1[None, :]
        y2 = self.y2[None, :]
        x1 = self.x1[None, :]
        x2 = self.x2[None, :]
        pyc = py[:, None]
        straddle = (y1 > pyc) != (y2 > pyc)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (pyc - y1) * (x2 - x1) / (y2 - y1)
        crossings = straddle & (px[:, None] < xint)
        out[cand] = (crossings.sum(axis=1) % 2).astype(bool)
        return out

    def contains_chunked(
        self, lon: np.ndarray, lat: np.ndarray, chunk: int = 4096
    ) -> np.ndarray:
        """contains() in bounded-memory chunks (n_points × n_edges blocks)."""
        n = len(lon)
        out = np.zeros(n, dtype=bool)
        for s in range(0, n, chunk):
            out[s : s + chunk] = self.contains(lon[s : s + chunk], lat[s : s + chunk])
        return out


def rings_to_prepared(rings) -> PreparedPolygon:
    """Build PreparedPolygon from the `extents.rings` column value
    (array<array<struct<lon,lat>>> as nested lists/dicts from Spark rows)."""
    norm = []
    for ring in rings:
        pts = []
        for p in ring:
            if isinstance(p, dict):
                pts.append((float(p["lon"]), float(p["lat"])))
            else:  # Row or tuple
                lonv = p[0] if not hasattr(p, "lon") else p.lon
                latv = p[1] if not hasattr(p, "lat") else p.lat
                pts.append((float(lonv), float(latv)))
        norm.append(pts)
    return PreparedPolygon(norm)


# ---------------------------------------------------- rect distance bounds


def _max_cos_to_meridian_segment(q_lat_r, dlon_r, lat1_r, lat2_r):
    """max over φ∈[lat1,lat2] of cos(angle((q_lat, 0), (φ, dlon))).

    cos d = A·sinφ + B·cosφ with A = sin(q_lat), B = cos(q_lat)·cos(dlon);
    unconstrained max at φ* = atan2(A, B) (works at the poles); clamp to
    the segment if φ* falls outside.  All inputs radians, vectorized.
    """
    A = np.sin(q_lat_r)
    B = np.cos(q_lat_r) * np.cos(dlon_r)
    phi_star = np.arctan2(A, B)
    at_star = np.sqrt(A * A + B * B)
    f1 = A * np.sin(lat1_r) + B * np.cos(lat1_r)
    f2 = A * np.sin(lat2_r) + B * np.cos(lat2_r)
    inside = (phi_star >= lat1_r) & (phi_star <= lat2_r)
    return np.where(inside, at_star, np.maximum(f1, f2))


def sphere_min_dist_to_rect_m(q_lat, q_lon, lat1, lat2, lon1, lon2):
    """EXACT spherical min distance (m) from a point to a lat/lon rect.

    Rigorous on the sphere (VERDICT r1 advice item): handles the
    non-monotonicity of haversine in latitude near the poles and the
    antimeridian longitude wrap, where bbox-clamping under-/over-shoots.
    Closest point is either (a) the meridian-clamp point when q_lon lies
    inside the lon span, or (b) on one of the two meridian edges — the
    exact segment minimum via the A·sinφ+B·cosφ extremum; parallel-edge
    interiors can never be closer when q_lon is outside the span
    (distance along a parallel is monotone in |Δλ|).  Vectorized over
    rects; query may be a scalar (one query vs all rects) or an array
    broadcasting with the rect arrays (element-wise / outer forms).
    """
    q_lat = np.asarray(q_lat, dtype=np.float64)
    q_lon = np.asarray(q_lon, dtype=np.float64)
    lat1_r = np.radians(np.asarray(lat1, dtype=np.float64))
    lat2_r = np.radians(np.asarray(lat2, dtype=np.float64))
    lon1 = np.asarray(lon1, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    qla_r = np.radians(q_lat)

    inside_lon = (q_lon >= lon1) & (q_lon <= lon2)
    inside = inside_lon & (q_lat >= np.asarray(lat1)) & (q_lat <= np.asarray(lat2))

    # (a) meridian clamp (exact when q_lon within the lon span)
    clamp_lat = np.clip(q_lat, np.asarray(lat1), np.asarray(lat2))
    d_inside = haversine_m(q_lat, q_lon, clamp_lat, q_lon)

    # (b) both meridian edges, wrap-aware |Δλ|
    def _wrap(dl):
        dl = np.abs(dl) % 360.0
        return np.where(dl > 180.0, 360.0 - dl, dl)

    best = -np.ones_like(lat1_r)  # max cosine; -1 = antipodal
    for edge_lon in (lon1, lon2):
        dl_r = np.radians(_wrap(q_lon - edge_lon))
        best = np.maximum(
            best, _max_cos_to_meridian_segment(qla_r, dl_r, lat1_r, lat2_r)
        )
    d_edge = EARTH_RADIUS_M * np.arccos(np.clip(best, -1.0, 1.0))

    out = np.where(inside_lon, d_inside, d_edge)
    return np.where(inside, 0.0, out)


def sphere_max_dist_to_rect_m(q_lat, q_lon, lat1, lat2, lon1, lon2):
    """EXACT spherical max distance (m) from a point to a lat/lon rect,
    via the antipode identity: max d(P, x) = πR − min d(P̄, x).
    Query may be scalar or an array broadcasting with the rects."""
    q_lat = np.asarray(q_lat, dtype=np.float64)
    q_lon = np.asarray(q_lon, dtype=np.float64)
    anti_lat = -q_lat
    anti_lon = np.where(q_lon >= 0, q_lon - 180.0, q_lon + 180.0)
    dmin = sphere_min_dist_to_rect_m(anti_lat, anti_lon, lat1, lat2, lon1, lon2)
    return np.pi * EARTH_RADIUS_M - dmin


# ------------------------------------------------- polygon clip + area


def sinusoidal_xy(lon, lat):
    """Equal-area sinusoidal projection (meters): x = Rλcosφ, y = Rφ.

    Authalic — areas measured by shoelace over projected vertices are
    consistent across shapes, so a tessellation's piece areas sum to the
    whole (up to edge-curvature error, negligible at ≤4° edges)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    return (
        EARTH_RADIUS_M * np.radians(lon) * np.cos(np.radians(lat)),
        EARTH_RADIUS_M * np.radians(lat),
    )


def ring_area_m2(lon, lat) -> float:
    """Unsigned polygon area (m²) via shoelace in sinusoidal projection."""
    x, y = sinusoidal_xy(lon, lat)
    return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)


def clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip polygon `subject` (N×2 lon/lat, any
    simple orientation) by CONVEX polygon `clip` (M×2).  Returns the
    clipped polygon vertices (K×2; K may be 0).  Planar in degrees —
    v1 domain: no antimeridian/pole crossing (FIXTURES.md exclusion)."""
    clip = np.asarray(clip, dtype=np.float64)
    # ensure CCW clip orientation
    if (
        np.dot(clip[:, 0], np.roll(clip[:, 1], -1))
        - np.dot(clip[:, 1], np.roll(clip[:, 0], -1))
    ) < 0:
        clip = clip[::-1]
    out = np.asarray(subject, dtype=np.float64)
    m = len(clip)
    for e in range(m):
        if len(out) == 0:
            return out.reshape(0, 2)
        a, b = clip[e], clip[(e + 1) % m]
        ex, ey = b[0] - a[0], b[1] - a[1]
        d = ex * (out[:, 1] - a[1]) - ey * (out[:, 0] - a[0])  # >0 = inside
        nxt = np.roll(np.arange(len(out)), -1)
        res = []
        for i in range(len(out)):
            j = nxt[i]
            ci, cj = d[i] >= 0, d[j] >= 0
            if ci:
                res.append(out[i])
            if ci != cj:
                t = d[i] / (d[i] - d[j])
                res.append(out[i] + t * (out[j] - out[i]))
        out = np.asarray(res, dtype=np.float64).reshape(-1, 2)
    return out


def clip_convex_batch(
    subject: np.ndarray, clips: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman of ONE subject polygon against MANY convex
    clip polygons, vectorized across clips (VERDICT r4 next #6 — the
    per-boundary-cell Python loop in footprint cover was the last
    per-cell scalar kernel).

    subject: (N, 2) simple polygon (any orientation); clips: (T, M, 2)
    convex polygons (any per-row orientation).  Returns (P, cnt): P is
    (T, Vmax, 2) zero-padded clipped-polygon vertices, cnt the per-row
    valid vertex counts (0 = no intersection).  Row-for-row equivalent
    to ``[clip_convex(subject, clips[t]) for t]`` (pinned by tests):
    per clip edge, every row's inside test, crossing detection, and
    intersection parameter use the same formulas in the same order —
    only the loop over rows is replaced by array ops.
    """
    clips = np.array(clips, dtype=np.float64, copy=True)
    T, M, _ = clips.shape
    if T == 0:
        return np.zeros((0, 0, 2)), np.zeros(0, dtype=np.int64)
    sgn = (
        clips[:, :, 0] * np.roll(clips[:, :, 1], -1, axis=1)
        - clips[:, :, 1] * np.roll(clips[:, :, 0], -1, axis=1)
    ).sum(axis=1)
    flip = sgn < 0
    clips[flip] = clips[flip, ::-1]

    subject = np.asarray(subject, dtype=np.float64)
    N = len(subject)
    P = np.broadcast_to(subject, (T, N, 2)).copy()
    cnt = np.full(T, N, dtype=np.int64)
    for e in range(M):
        V = P.shape[1]
        if V == 0:
            break
        ar = np.arange(V)
        valid = ar[None, :] < cnt[:, None]
        a = clips[:, e, :]
        b = clips[:, (e + 1) % M, :]
        ex = (b[:, 0] - a[:, 0])[:, None]
        ey = (b[:, 1] - a[:, 1])[:, None]
        d = ex * (P[:, :, 1] - a[:, 1][:, None]) - ey * (
            P[:, :, 0] - a[:, 0][:, None]
        )
        j = ar[None, :] + 1
        j = np.where(j >= cnt[:, None], 0, j)
        dj = np.take_along_axis(d, j, axis=1)
        Pj = np.take_along_axis(P, j[:, :, None], axis=1)
        keep = valid & (d >= 0)
        cross = valid & ((d >= 0) != (dj >= 0))
        denom = d - dj
        t = np.where(cross, d / np.where(denom == 0.0, 1.0, denom), 0.0)
        inter = P + t[:, :, None] * (Pj - P)
        emit = np.stack([keep, cross], axis=2).reshape(T, -1)
        vals = np.stack([P, inter], axis=2).reshape(T, -1, 2)
        cnt = emit.sum(axis=1)
        Vnew = int(cnt.max())
        P = np.zeros((T, Vnew, 2))
        if Vnew:
            pos = np.cumsum(emit, axis=1) - 1
            rows, slots = np.nonzero(emit)
            P[rows, pos[rows, slots]] = vals[rows, slots]
    return P, cnt


def padded_poly_areas(x: np.ndarray, y: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Unsigned shoelace areas over zero-padded (T, Vmax) vertex arrays
    with per-row counts (companion to clip_convex_batch); rows with
    cnt < 3 get 0."""
    if x.shape[1] == 0:
        return np.zeros(len(x))
    ar = np.arange(x.shape[1])
    valid = ar[None, :] < cnt[:, None]
    j = ar[None, :] + 1
    j = np.where(j >= cnt[:, None], 0, j)
    xj = np.take_along_axis(x, j, axis=1)
    yj = np.take_along_axis(y, j, axis=1)
    s1 = np.where(valid, x * yj, 0.0).sum(axis=1)
    s2 = np.where(valid, y * xj, 0.0).sum(axis=1)
    return np.where(cnt >= 3, np.abs(s1 - s2) / 2.0, 0.0)
