"""Plain-Python point-in-polygon reference for ``geom.PreparedPolygon``
and the PIP join, shared by the tests that check them against it."""

from __future__ import annotations


def point_in_rings_bruteforce(rings, lon: float, lat: float) -> bool:
    """Scalar even-odd ray cast over every ring (independent of
    PreparedPolygon's vectorization)."""
    inside = False
    for ring in rings:
        pts = [(float(p[0]), float(p[1])) for p in ring]
        if len(pts) >= 2 and pts[0] == pts[-1]:
            pts = pts[:-1]
        n = len(pts)
        for k in range(n):
            x1, y1 = pts[k]
            x2, y2 = pts[(k + 1) % n]
            if (y1 > lat) != (y2 > lat):
                xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                if lon < xint:
                    inside = not inside
    return inside
