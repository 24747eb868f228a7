"""H3-style aperture-7 icosahedral hex indexing, vectorized in numpy.

What this is
------------
A from-scratch implementation of the *published* H3 indexing pipeline
(Uber's public H3 spec): icosahedral layout, gnomonic projection per
face, aperture-7 hex grid with alternating Class II/III rotation
(``M_AP7_ROT_RADS = asin(sqrt(3/28))``), res-0 unit scaling
(``RES0_U_GNOMONIC``), exact hex rounding, and the digit-walk encoding
(`_upAp7`/`_upAp7r`/`_downAp7`/`_downAp7r` transforms, 3-bit digits,
unused digits padded with 7).

Where it deliberately differs from canonical H3 (documented, testable):

* **Engine-canonical base cells.** H3's base-cell numbering + per-face
  orientation tables (``baseCellData``, ``faceIjkBaseCells`` — 122 + 540
  definitional entries) cannot be obtained or verified in this sandbox.
  Round-2 audit of every avenue: no ``h3`` pip package, no network (the
  DuckDB community ``h3`` extension download fails), empty reference
  mount (SURVEY.md §0), no table text in the retrieved SNIPPETS.md.
  The tables are *definitional* (an arbitrary labeling, not derivable
  from geometry), so embedding unverifiable from-memory constants would
  risk silently-wrong ids — strictly worse than this documented,
  tested deviation.  Instead each cell id encodes (face, res-0 axial
  coord, digit path) directly, with every face's i-axis pointing due
  north from the face center.  The id space is deterministic,
  hierarchical (parent = digit-prefix) and stable.  (Contrast: S2 *is*
  fully algorithmic — functions/s2.py produces real S2 ids, pinned by
  published-token anchors + a DuckDB-SQL oracle, s2_sql.py.)
* **Face-Voronoi partitioning instead of pentagon stitching.** A point
  is indexed on the face whose center is nearest (exactly H3's face
  choice); cells are face-local, so the sphere partition is exact
  (Voronoi of faces × hex grid per face) but cells straddling an
  icosahedron edge are split between faces rather than stitched.  All
  engine correctness paths that could be affected (kNN candidate
  closure, extent cover) therefore use the data-driven *cell directory*
  (operators/cell_directory.py) + exact haversine / ray-cast kernels
  for their guarantees — never raw grid-neighbor geometry.

The public `h3` package can be dropped in behind the same three
functions (`latlng_to_cell`, `cell_to_latlng`, `k_ring`) on a real
cluster; nothing else in the engine assumes this module's id values.

Reference parity: GIPS assigns assets to grid tiles via its per-driver
tile vectors (`gips/data/core.py :: Repository.vector2tiles`, SURVEY.md
§2.3 J1); `latlng_to_cell(lat, lon, 7)` is the engine's tile id.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- constants

#: Icosahedron face centers (lat, lng) in radians — the H3 icosahedron
#: orientation (public constant table; antipodal symmetry verified:
#: faces (0,17) (1,18) (2,19) (3,15) (4,16) (5,12) (6,13) (7,14) (8,10)
#: (9,11) are antipodal pairs).
FACE_CENTER_GEO = np.array(
    [
        [0.803582649718989942, 1.248397419617396099],
        [1.307747883455638156, 2.536945009877921159],
        [1.054751253523952054, -1.347517358900396623],
        [0.600191595538186799, -0.450603909469755746],
        [0.491715428198773866, 0.401988202911306943],
        [0.172745327415618701, 1.678146885280433686],
        [0.605929321571350690, 2.953923329812411617],
        [0.427370518328979641, -1.888876200336285401],
        [-0.079066118549212831, -0.733429513380867741],
        [-0.230961644455383637, 0.506495587332349035],
        [0.079066118549212831, 2.408163140208925497],
        [0.230961644455383637, -2.635097066257444203],
        [-0.172745327415618701, -1.463445768309359553],
        [-0.605929321571350690, -0.187669323777381622],
        [-0.427370518328979641, 1.252716453253507838],
        [-0.600191595538186799, 2.690988744120037492],
        [-0.491715428198773866, -2.739604450678486295],
        [-0.803582649718989942, -1.893195233972397139],
        [-1.307747883455638156, -0.604647643711872080],
        [-1.054751253523952054, 1.794075294689396615],
    ],
    dtype=np.float64,
)

RES0_U_GNOMONIC = 0.38196601125010500003  # res-0 hex unit in gnomonic space
M_SQRT7 = 7.0**0.5
M_AP7_ROT_RADS = float(np.arcsin(np.sqrt(3.0 / 28.0)))  # Class III rotation
M_SIN60 = float(np.sqrt(3.0) / 2.0)

_FACE_XYZ = np.stack(
    [
        np.cos(FACE_CENTER_GEO[:, 0]) * np.cos(FACE_CENTER_GEO[:, 1]),
        np.cos(FACE_CENTER_GEO[:, 0]) * np.sin(FACE_CENTER_GEO[:, 1]),
        np.sin(FACE_CENTER_GEO[:, 0]),
    ],
    axis=1,
)

# axial unit vector (di, dj) → H3 digit (CENTER=0 K=1 J=2 JK=3 I=4 IK=5 IJ=6)
_DIGIT_LUT = np.full(9, -1, dtype=np.int64)
for _d, (_di, _dj) in {
    0: (0, 0),
    1: (-1, -1),  # K
    2: (0, 1),  # J
    3: (-1, 0),  # JK
    4: (1, 0),  # I
    5: (0, -1),  # IK
    6: (1, 1),  # IJ
}.items():
    _DIGIT_LUT[(_di + 1) * 3 + (_dj + 1)] = _d
_DIGIT_TO_DI = np.array([0, -1, 0, -1, 1, 0, 1], dtype=np.int64)
_DIGIT_TO_DJ = np.array([0, -1, 1, 0, 0, -1, 1], dtype=np.int64)

MAX_RES = 15


def _is_class_iii(res: int) -> bool:
    return res % 2 == 1


# ------------------------------------------------------- spherical helpers


def _geo_azimuth(lat1, lng1, lat2, lng2):
    """Azimuth (radians, clockwise from north) from point 1 to point 2."""
    dlng = lng2 - lng1
    return np.arctan2(
        np.cos(lat2) * np.sin(dlng),
        np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(dlng),
    )


def _geo_destination(lat1, lng1, az, dist):
    """Destination point along `az` at angular distance `dist` (radians)."""
    sin_lat2 = np.sin(lat1) * np.cos(dist) + np.cos(lat1) * np.sin(dist) * np.cos(az)
    sin_lat2 = np.clip(sin_lat2, -1.0, 1.0)
    lat2 = np.arcsin(sin_lat2)
    lng2 = lng1 + np.arctan2(
        np.sin(az) * np.sin(dist) * np.cos(lat1),
        np.cos(dist) - np.sin(lat1) * sin_lat2,
    )
    lng2 = np.mod(lng2 + np.pi, 2 * np.pi) - np.pi
    return lat2, lng2


# --------------------------------------------------------- grid projection


def _nearest_face(lat_rad, lng_rad):
    cos_lat = np.cos(lat_rad)
    x = cos_lat * np.cos(lng_rad)
    y = cos_lat * np.sin(lng_rad)
    z = np.sin(lat_rad)
    dots = (
        x[..., None] * _FACE_XYZ[:, 0]
        + y[..., None] * _FACE_XYZ[:, 1]
        + z[..., None] * _FACE_XYZ[:, 2]
    )
    face = np.argmax(dots, axis=-1)
    best = np.max(dots, axis=-1)
    return face, np.clip(best, -1.0, 1.0)


def _geo_to_hex2d(lat_rad, lng_rad, res: int):
    """lat/lng radians → (face, x, y) in res-`res` hex2d coordinates."""
    face, cos_r = _nearest_face(lat_rad, lng_rad)
    r = np.arccos(cos_r)
    flat = FACE_CENTER_GEO[face, 0]
    flng = FACE_CENTER_GEO[face, 1]
    az = _geo_azimuth(flat, flng, lat_rad, lng_rad)
    theta = -az  # i-axis azimuth is 0 (due north) on every face
    if _is_class_iii(res):
        theta = theta - M_AP7_ROT_RADS
    scale = (M_SQRT7**res) / RES0_U_GNOMONIC
    rr = np.where(r < 1e-16, 0.0, np.tan(r) * scale)
    return face, rr * np.cos(theta), rr * np.sin(theta)


def _hex2d_to_axial(x, y):
    """Nearest hex center via exact cube rounding (standard algorithm)."""
    j_f = y / M_SIN60
    i_f = x + 0.5 * j_f
    # cube coords: cx = i, cz = -j, cy = j - i
    cx = i_f
    cz = -j_f
    cy = j_f - i_f
    rx = np.round(cx)
    ry = np.round(cy)
    rz = np.round(cz)
    dx = np.abs(rx - cx)
    dy = np.abs(ry - cy)
    dz = np.abs(rz - cz)
    fix_x = (dx >= dy) & (dx >= dz)
    fix_y = ~fix_x & (dy >= dz)
    rx = np.where(fix_x, -ry - rz, rx)
    ry = np.where(fix_y, -rx - rz, ry)
    rz = np.where(~fix_x & ~fix_y, -rx - ry, rz)
    return rx.astype(np.int64), (-rz).astype(np.int64)


def _axial_to_hex2d(i_ax, j_ax):
    x = i_ax - 0.5 * j_ax
    y = j_ax * M_SIN60
    return x, y


def _round7(v):
    # denominators are 7 → never exactly .5; floor(v+.5) == round-half-away
    return np.floor(v + 0.5).astype(np.int64)


def _up_ap7(i, j):  # counter-clockwise (Class III step)
    return _round7((3 * i - j) / 7.0), _round7((i + 2 * j) / 7.0)


def _up_ap7r(i, j):  # clockwise (Class II step)
    return _round7((2 * i + j) / 7.0), _round7((3 * j - i) / 7.0)


def _down_ap7(i, j):
    return 2 * i + j, -i + 3 * j


def _down_ap7r(i, j):
    return 3 * i - j, i + 2 * j


# --------------------------------------------------------------- id layout
# bit 63: 0 | bits 56-59: res | bits 51-55: face | bits 48-50: base_i+3 |
# bits 45-47: base_j+3 | bits 0-44: digits d1..d15, 3 bits each,
# d_r at bits 3*(15-r); unused digits = 7 (H3 convention).


def _encode(face, base_i, base_j, digits, res: int):
    h = (
        (np.int64(res) << 56)
        | (face.astype(np.int64) << 51)
        | ((base_i + 3).astype(np.int64) << 48)
        | ((base_j + 3).astype(np.int64) << 45)
    )
    path = np.zeros_like(h)
    for r in range(1, MAX_RES + 1):
        d = digits[r - 1] if r <= res else np.full_like(h, 7)
        path |= d.astype(np.int64) << (3 * (MAX_RES - r))
    return h | path


def _decode(h):
    h = np.asarray(h, dtype=np.int64)
    res = ((h >> 56) & 0xF).astype(np.int64)
    face = ((h >> 51) & 0x1F).astype(np.int64)
    base_i = ((h >> 48) & 0x7).astype(np.int64) - 3
    base_j = ((h >> 45) & 0x7).astype(np.int64) - 3
    digits = [((h >> (3 * (MAX_RES - r))) & 0x7).astype(np.int64) for r in range(1, MAX_RES + 1)]
    return res, face, base_i, base_j, digits


# ----------------------------------------------------------------- public


def latlng_to_cell(lat_deg, lng_deg, res: int = 7) -> np.ndarray:
    """Vectorized lat/lng (degrees) → int64 cell id at resolution `res`."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    face, x, y = _geo_to_hex2d(lat, lng, res)
    i, j = _hex2d_to_axial(x, y)
    digits = [None] * res
    for d in range(res, 0, -1):
        if _is_class_iii(d):
            ui, uj = _up_ap7(i, j)
            ci, cj = _down_ap7(ui, uj)
        else:
            ui, uj = _up_ap7r(i, j)
            ci, cj = _down_ap7r(ui, uj)
        di = i - ci
        dj = j - cj
        idx = (di + 1) * 3 + (dj + 1)
        # out-of-cluster rounding cannot occur for exact aperture-7 math;
        # guard anyway (maps to CENTER) so bad floats never corrupt ids.
        idx = np.clip(idx, 0, 8)
        digit = _DIGIT_LUT[idx]
        digits[d - 1] = np.where(digit < 0, 0, digit)
        i, j = ui, uj
    base_i = np.clip(i, -3, 4)
    base_j = np.clip(j, -3, 4)
    return _encode(face, base_i, base_j, digits, res)


def cell_to_local(h):
    """cell id → (res, face, axial i, axial j) at the cell's resolution."""
    res_arr, face, i, j, digits = _decode(h)
    res = int(res_arr.flat[0]) if res_arr.size else 0
    for r in range(1, res + 1):
        if _is_class_iii(r):
            i, j = _down_ap7(i, j)
        else:
            i, j = _down_ap7r(i, j)
        d = digits[r - 1]
        i = i + _DIGIT_TO_DI[d]
        j = j + _DIGIT_TO_DJ[d]
    return res, face, i, j


def local_to_cell(face, i, j, res: int) -> np.ndarray:
    """(face, axial) at `res` → cell id (inverse of cell_to_local)."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    digits = [None] * res
    for d in range(res, 0, -1):
        if _is_class_iii(d):
            ui, uj = _up_ap7(i, j)
            ci, cj = _down_ap7(ui, uj)
        else:
            ui, uj = _up_ap7r(i, j)
            ci, cj = _down_ap7r(ui, uj)
        idx = np.clip((i - ci + 1) * 3 + (j - cj + 1), 0, 8)
        digit = _DIGIT_LUT[idx]
        digits[d - 1] = np.where(digit < 0, 0, digit)
        i, j = ui, uj
    return _encode(face, np.clip(i, -3, 4), np.clip(j, -3, 4), digits, res)


def _hex2d_to_latlng(face, x, y, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse gnomonic: res-`res` hex2d coords on `face` → degrees."""
    r2d = np.hypot(x, y)
    theta = np.arctan2(y, x)
    if _is_class_iii(res):
        theta = theta + M_AP7_ROT_RADS
    az = -theta  # invert theta = az0 - az with az0 = 0
    dist = np.arctan(r2d * RES0_U_GNOMONIC / (M_SQRT7**res))
    flat = FACE_CENTER_GEO[face, 0]
    flng = FACE_CENTER_GEO[face, 1]
    lat, lng = _geo_destination(flat, flng, az, dist)
    return np.degrees(lat), np.degrees(lng)


def cell_to_latlng(h) -> tuple[np.ndarray, np.ndarray]:
    """Cell id → center (lat, lng) in degrees (inverse gnomonic)."""
    res, face, i, j = cell_to_local(np.asarray(h, dtype=np.int64))
    x, y = _axial_to_hex2d(i.astype(np.float64), j.astype(np.float64))
    return _hex2d_to_latlng(face, x, y, res)


#: circumradius of the Voronoi hexagon in hex2d space (neighbor spacing 1)
_HEX_RC = 1.0 / np.sqrt(3.0)
_HEX_VERT_ANGLES = np.radians(30.0 + 60.0 * np.arange(6))


def cell_boundary(h) -> tuple[np.ndarray, np.ndarray]:
    """Cell ids → hexagon vertices, shape (n, 6) lat / lng degrees.

    Vertices are the Voronoi corners of the face-local triangular
    lattice (circumradius 1/√3 at angles 30°+60°k from the i-axis in
    hex2d space), inverse-projected exactly like cell centers.  For
    cells straddling an icosahedron edge the hexagon is face-local
    (the documented face-Voronoi deviation); area consumers treat the
    grid as the engine's own tiling, which it exactly is per-face."""
    res, face, i, j = cell_to_local(np.asarray(h, dtype=np.int64))
    cx, cy = _axial_to_hex2d(i.astype(np.float64), j.astype(np.float64))
    vx = cx[:, None] + _HEX_RC * np.cos(_HEX_VERT_ANGLES)[None, :]
    vy = cy[:, None] + _HEX_RC * np.sin(_HEX_VERT_ANGLES)[None, :]
    f6 = np.broadcast_to(face[:, None], vx.shape)
    lat, lng = _hex2d_to_latlng(f6.ravel(), vx.ravel(), vy.ravel(), res)
    return lat.reshape(vx.shape), lng.reshape(vx.shape)


def parent(h, parent_res: int) -> np.ndarray:
    """Ancestor cell id (digit-prefix truncation, H3-style 7-padding)."""
    h = np.asarray(h, dtype=np.int64)
    res = ((h >> 56) & 0xF).astype(np.int64)
    out = (h & ~(np.int64(0xF) << 56)) | (np.int64(parent_res) << 56)
    for r in range(parent_res + 1, MAX_RES + 1):
        out |= np.int64(0x7) << (3 * (MAX_RES - r))
    if np.any(res < parent_res):
        raise ValueError("parent_res must be <= cell res")
    return out


#: res-7 id → res-4 partitioning prefix: the id truncated below digit 4
PREFIX_SHIFT = 33


def cell_prefix(h) -> np.ndarray:
    """Range-partitioning prefix: id truncated below digit 4 (res-4 bucket)."""
    return (np.asarray(h, dtype=np.int64) >> PREFIX_SHIFT).astype(np.int64)


def k_ring(h: int, k: int) -> np.ndarray:
    """All cell ids within hex-grid distance k of cell `h` (filled disk).

    In-face ring arithmetic is exact; ring cells whose centers fall in a
    neighboring face's Voronoi region are re-indexed onto that face (so
    the disk stays geometrically sane across icosahedron edges).  kNN
    exactness does NOT rely on this (see operators/knn.py).
    """
    res, face, i, j = cell_to_local(np.asarray([h], dtype=np.int64))
    i0, j0 = int(i[0]), int(j[0])
    offs = []
    for di in range(-k, k + 1):
        for dj in range(-k, k + 1):
            if (abs(di) + abs(dj) + abs(di - dj)) // 2 <= k:
                offs.append((di, dj))
    offs = np.array(offs, dtype=np.int64)
    ii = i0 + offs[:, 0]
    jj = j0 + offs[:, 1]
    faces = np.full(ii.shape, int(face[0]), dtype=np.int64)
    ids = local_to_cell(faces, ii, jj, res)
    # cross-face fix-up: re-index centers that left this face's region
    lat, lng = cell_to_latlng(ids)
    nf, _ = _nearest_face(np.radians(lat), np.radians(lng))
    wrong = nf != faces
    if np.any(wrong):
        ids[wrong] = latlng_to_cell(lat[wrong], lng[wrong], res)
    return np.unique(ids)


#: approximate cell pitch (hex width) in degrees by resolution — used to
#: choose polyfill sampling density (res 7 ≈ 2.4 km)
PITCH_DEG = {5: 0.16, 6: 0.06, 7: 0.022, 8: 0.008}


def pitch_deg(res: int) -> float:
    """Cell pitch for ANY resolution: the tabulated anchor values for
    5–8, extrapolated by the aperture-7 scale law (×1/√7 per res step)
    elsewhere — polyfill_convex no longer KeyErrors on a free res
    (ADVICE r2)."""
    if res in PITCH_DEG:
        return PITCH_DEG[res]
    if not 0 <= res <= 15:
        raise ValueError(f"h3lite: resolution {res} out of range 0..15")
    # extrapolate from the NEAREST tabulated anchor (ADVICE r3 low: the
    # √7 law compounds ~4%/step error from a fixed far anchor)
    anchor = min(PITCH_DEG, key=lambda a: (abs(res - a), a))
    return PITCH_DEG[anchor] * (7.0 ** (-0.5 * (res - anchor)))


def polyfill_convex(poly_lonlat: np.ndarray, res: int = 7) -> np.ndarray:
    """Candidate cells intersecting a CONVEX polygon ((n,2) lon/lat).

    Approximate polyfill: grid-sample the bbox at 0.45× cell pitch +
    polygon vertices → latlng_to_cell, close with the 7-neighborhood of
    every sampled cell (axial ±1, vectorized), keep only CANONICAL ids
    (face-seam re-encodings round-trip filtered, same fixup as k_ring).
    The result is a superset near edges — callers that need exact
    membership clip against cell_boundary (operators/footprint.py) or
    verify point-in-cell.  Sliver cells below sampling resolution with
    no sampled neighbor can be missed (documented tolerance)."""
    poly = np.asarray(poly_lonlat, dtype=np.float64)
    step = pitch_deg(res) * 0.45
    # sample 2 pitches beyond the bbox: a hex incircle (~0.9 pitch) always
    # contains a grid point at 0.45-pitch spacing, so every intersecting
    # cell gets a DIRECT (hence canonical) sample — closure then only
    # adds safety margin and cannot miss cells across icosahedron seams
    # (bbox-edge slivers otherwise rely on face-local closure, which
    # cannot reach a cell whose canonical home is the adjacent face).
    m = 2.0 * pitch_deg(res)
    lon_s = np.arange(poly[:, 0].min() - m, poly[:, 0].max() + m + step, step)
    lat_s = np.arange(poly[:, 1].min() - m, poly[:, 1].max() + m + step, step)
    gg = np.meshgrid(lat_s, lon_s)
    slat = np.concatenate([gg[0].ravel(), poly[:, 1]])
    slon = np.concatenate([gg[1].ravel(), poly[:, 0]])
    sampled = np.unique(latlng_to_cell(slat, slon, res))
    return _close_and_canonicalize(sampled, res)


def _close_and_canonicalize(sampled: np.ndarray, res: int) -> np.ndarray:
    """7-neighborhood closure of directly-sampled cells + canonical-id
    filter for the closure extras (shared by polyfill_convex and
    polyfill_cap).

    Liveness semantics: DIRECT samples are valid ids by construction
    (they came out of latlng_to_cell) — near an icosahedron seam a
    live cell's CENTER can fall on the neighboring face's side, so a
    center-round-trip test must not be applied to them.  Closure
    extras (never witnessed by a point) do get the round-trip filter,
    which drops face-local re-encodings of the neighbor face's cells."""
    _, face, ci, cj = cell_to_local(sampled)
    offs = np.array([(0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (-1, -1)])
    ii = (ci[:, None] + offs[None, :, 0]).ravel()
    jj = (cj[:, None] + offs[None, :, 1]).ravel()
    ff = np.repeat(face, len(offs))
    extra = np.unique(local_to_cell(ff, ii, jj, res))
    el, eg = cell_to_latlng(extra)
    extra = extra[latlng_to_cell(el, eg, res) == extra]
    return np.unique(np.concatenate([sampled, extra]))


def polyfill_cap(
    lat_edge: float,
    res: int,
    north: bool,
    extra_lonlat: np.ndarray | None = None,
    max_samples: int = 40_000_000,
) -> np.ndarray:
    """Candidate cells for a POLAR CAP poleward of `lat_edge` (superset,
    same closure/tolerance semantics as polyfill_convex).  Sampling is
    lat-row based with the lon step widened by 1/cos(lat) so the count
    per row stays bounded toward the pole (a fixed-degree lon grid at
    0.45x pitch would put ~36k samples on EVERY row).

    TOTAL samples still grow with cap size: ~sum(360*cos(lat)/step^2)
    ~ 0.8M at |lat_edge|=85, 28M at 60 (res 7).  The 0.45x-pitch density
    is what guarantees every live cell is witnessed (superset
    correctness), so it is NOT coarsened for big caps; instead the call
    raises once the estimate exceeds `max_samples` (default 40M covers
    |lat_edge| >= ~55 deg at res 7 — far beyond any real polar scene
    footprint) rather than silently OOMing one executor task (ADVICE
    r4).  For genuinely continental caps, polyfill at a coarser res or
    raise the budget explicitly."""
    step = pitch_deg(res) * 0.45
    _m_est = 2.0 * pitch_deg(res)
    _lats = np.arange(min(abs(lat_edge) - _m_est, 89.99), 89.99, step)
    _c = np.maximum(np.cos(np.radians(_lats)), 1e-9)
    est = int(np.maximum(4, np.ceil(360.0 / np.minimum(120.0, step / _c))).sum())
    if est > max_samples:
        raise ValueError(
            f"polyfill_cap(lat_edge={lat_edge}, res={res}) needs ~{est:,} "
            f"samples > max_samples={max_samples:,}; use a coarser res or "
            "raise max_samples"
        )
    m = 2.0 * pitch_deg(res)
    if north:
        lats = np.arange(min(lat_edge - m, 89.99), 89.99, step)
    else:
        lats = -np.arange(min(-lat_edge - m, 89.99), 89.99, step)
    sl, sg = [], []
    for la in lats:
        c = max(np.cos(np.radians(la)), 1e-9)
        n = max(4, int(np.ceil(360.0 / min(120.0, step / c))))
        sl.append(np.full(n, la))
        sg.append(np.linspace(-180.0, 180.0, n, endpoint=False))
    # the pole itself (arange stops short of it)
    sl.append(np.array([89.99 if north else -89.99]))
    sg.append(np.array([0.0]))
    if extra_lonlat is not None:
        sl.append(np.asarray(extra_lonlat[:, 1], dtype=np.float64))
        sg.append(np.asarray(extra_lonlat[:, 0], dtype=np.float64))
    sampled = np.unique(latlng_to_cell(np.concatenate(sl), np.concatenate(sg), res))
    return _close_and_canonicalize(sampled, res)
