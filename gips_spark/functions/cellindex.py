"""Pluggable cell-indexer seam — the H3 migration runbook's code half.

The engine's tile ids come from the 2-function interface
(`latlng_to_cell`, `cell_to_latlng`).  h3lite implements it
with engine-canonical base cells (the documented deviation — canonical
H3's 122+540-entry base-cell tables are unobtainable in-sandbox, see
h3lite.py docstring).  This module makes the implementation swappable
WITHOUT touching any operator:

    GIPS_SPARK_H3_BACKEND=engine    (default) h3lite as today
    GIPS_SPARK_H3_BACKEND=h3        the real Uber `h3` package, the day
                                    it is installable — ids become
                                    canonical H3 res-7
    GIPS_SPARK_H3_BACKEND=testperm  test-only: engine ids through a
                                    bijective digit relabeling (XOR in
                                    the low digit bits, prefix-stable)
                                    — proves downstream paths are
                                    id-value-agnostic (adapter test)

The env var is read at import time in the driver AND in every executor
Python worker (each imports this module fresh), so one setting governs
the whole job — set it before building the SparkSession.

Migration rule (VERDICT r2 #5): ids are always RE-DERIVED from lat/lon
via the active backend, never translated id→id — the two labelings
share no geometric correspondence finer than the point itself.  Data
written with engine ids is migrated by jobs/remap_h3.py (recompute +
rewrite).  Engine-grid AREA consumers (footprint_cover's hex
tessellation, cell_boundary) intentionally stay on the engine grid:
with the real `h3` lib those move to h3.polygon_to_cells /
h3.cell_to_boundary — noted in COVERAGE.md's runbook.

Reference parity: `gips/data/core.py :: Repository.vector2tiles` is
the tile-id contract this seam keeps stable.
"""

from __future__ import annotations

import os

import numpy as np

from gips_spark.functions import h3lite

#: bijective, prefix-preserving relabeling mask for the testperm
#: backend: flips bits inside the last res-7 digit (bits 0-2), far
#: below the >>33 range-partitioning prefix — every id changes, every
#: prefix (and thus the directory/kNN rollup shape) is preserved.
_PERM_MASK = np.int64(0x5)


class _EngineBackend:
    name = "engine"
    latlng_to_cell = staticmethod(h3lite.latlng_to_cell)
    cell_to_latlng = staticmethod(h3lite.cell_to_latlng)


class _PermBackend:
    """Engine indexing through an id bijection (test-only).

    A pure relabeling: latlng_to_cell permutes on the way out;
    cell_to_latlng unpermutes before touching engine internals
    (permuted ids must never reach h3lite's decoders directly)."""

    name = "testperm"

    @staticmethod
    def latlng_to_cell(lat_deg, lng_deg, res: int = 7) -> np.ndarray:
        return h3lite.latlng_to_cell(lat_deg, lng_deg, res) ^ _PERM_MASK

    @staticmethod
    def cell_to_latlng(h):
        return h3lite.cell_to_latlng(np.asarray(h, dtype=np.int64) ^ _PERM_MASK)


class _RealH3Backend:
    """The real Uber `h3` package (v4 API), vectorized row-at-a-time —
    the official lib exposes scalar functions; a cluster deployment
    would use h3's numpy build (h3.api.numpy_int) for the hot path."""

    name = "h3"

    def __init__(self):
        import h3  # noqa: F401 — ImportError here = backend unavailable

        self._h3 = h3

    def latlng_to_cell(self, lat_deg, lng_deg, res: int = 7) -> np.ndarray:
        h3 = self._h3
        la = np.atleast_1d(np.asarray(lat_deg, dtype=np.float64))
        lo = np.atleast_1d(np.asarray(lng_deg, dtype=np.float64))
        return np.array(
            [int(h3.str_to_int(h3.latlng_to_cell(a, o, res))) for a, o in zip(la, lo)],
            dtype=np.int64,
        )

    def cell_to_latlng(self, h):
        h3 = self._h3
        hs = np.atleast_1d(np.asarray(h, dtype=np.int64))
        pts = [h3.cell_to_latlng(h3.int_to_str(int(x) & 0xFFFFFFFFFFFFFFFF)) for x in hs]
        return (
            np.array([p[0] for p in pts], dtype=np.float64),
            np.array([p[1] for p in pts], dtype=np.float64),
        )


def _resolve(name: str):
    if name == "engine":
        return _EngineBackend()
    if name == "testperm":
        return _PermBackend()
    if name == "h3":
        return _RealH3Backend()
    raise ValueError(
        f"GIPS_SPARK_H3_BACKEND={name!r} — expected engine | h3 | testperm"
    )


BACKEND = _resolve(os.environ.get("GIPS_SPARK_H3_BACKEND", "engine"))

#: the 2-function interface operators import (module-level, resolved once
#: per process from the env var)
latlng_to_cell = BACKEND.latlng_to_cell
cell_to_latlng = BACKEND.cell_to_latlng
