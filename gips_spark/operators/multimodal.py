"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with metadata columns;
decode / frame-sample / resize / per-frame stats run as one Arrow
kernel over mapInPandas (`decode_stats`).

The decode step is REAL for the engine's own raw container format
(GIPS-RAW, below) — a header-checked binary codec, true bilinear
resampling, and per-frame addressing, all numpy.  External codecs
(JPEG/PNG/ffmpeg) are NOT in this container: a foreign payload raises
ValueError in `decode_gips_raw` (bad magic); a PIL/av decoder would
take its place on a real cluster.

GIPS-RAW layout (little-endian):
    magic  4s   b"GR01"
    width  u16 | height u16 | n_frames u16 | channels u8 | pad u8
    pixels u8 × (n_frames · height · width · channels), frame-major
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MAGIC = b"GR01"
_HEADER = struct.Struct("<4sHHHBB")

# ------------------------------------------------------------- raw codec


def encode_gips_raw(frames: np.ndarray) -> bytes:
    """(n_frames, h, w) or (h, w) uint8 → GIPS-RAW bytes."""
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim == 2:
        a = a[None, :, :]
    n, h, w = a.shape
    return _HEADER.pack(_MAGIC, w, h, n, 1, 0) + a.tobytes()


def decode_gips_raw(payload: bytes) -> np.ndarray:
    """GIPS-RAW bytes → (n_frames, h, w) float64 in [0, 1].

    Raises ValueError on bad magic / truncated payload — a REAL decoder
    contract (header validation, exact length check)."""
    buf = bytes(payload)
    if len(buf) < _HEADER.size:
        raise ValueError("GIPS-RAW: truncated header")
    magic, w, h, n, ch, _ = _HEADER.unpack_from(buf)
    if magic != _MAGIC:
        raise ValueError("GIPS-RAW: bad magic")
    if ch != 1:
        raise ValueError(f"GIPS-RAW: unsupported channels {ch} (v1 is single-plane)")
    need = _HEADER.size + n * h * w * ch
    if len(buf) != need:
        raise ValueError(f"GIPS-RAW: expected {need} bytes, got {len(buf)}")
    a = np.frombuffer(buf, dtype=np.uint8, offset=_HEADER.size)
    return a.reshape(n, h, w).astype(np.float64) / 255.0


def bilinear_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """True bilinear resampling (align-corners=False convention)."""
    h, w = img.shape
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    top = img[y0][:, x0] * (1 - wx) + img[y0][:, x1] * wx
    bot = img[y1][:, x0] * (1 - wx) + img[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


# ------------------------------------------------- SQL-derivable surface


def pattern_assets(df: DataFrame, id_col: str, max_frames: int = 8) -> DataFrame:
    """Synthetic GIPS-RAW assets keyed by an integer id column, built by
    the REAL encoder over a closed-form pixel pattern:

        seed = id % 251;  n_frames = 1 + id % max_frames
        frame[fr][y][x] = (x*(seed+1) + y*(fr+2) + seed*fr) % 256

    Every byte here is derivable from the id alone, so an external
    oracle can predict any decoded statistic without re-implementing the
    codec — the seam the driver-contract query mm_decode_stats uses."""

    @F.pandas_udf(T.BinaryType())
    def enc(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids.astype(int):
            seed = int(i) % 251
            nf = 1 + int(i) % max_frames
            yy, xx = np.mgrid[0:16, 0:16]
            frames = np.stack(
                [(xx * (seed + 1) + yy * (fr + 2) + seed * fr) % 256 for fr in range(nf)]
            ).astype(np.uint8)
            out.append(encode_gips_raw(frames))
        return pd.Series(out)

    idc = F.col(id_col)
    return df.select(
        idc.alias("asset_id"),
        (F.lit(1) + F.pmod(idc, F.lit(max_frames))).cast("int").alias("n_frames"),
        enc(idc).alias("payload"),
    )


DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("std_px", T.DoubleType()),
        T.StructField("resize_checksum", T.DoubleType()),
    ]
)


def decode_stats(assets: DataFrame, resize_to: int = 8, sample_every: int = 2) -> DataFrame:
    """decode → frame-sample → bilinear resize → per-frame QA stats, one
    Arrow pass in float64 (the multimodal ingest-QA shape: validate the
    header, quantify each sampled frame, keep nothing heavy).

    width/height come from the DECODED header (codec-checked), not the
    input columns.  resize_checksum = Σ resized[i,j]·(i·R+j+1) — a
    position-weighted sum that pins every resized pixel, not just the
    global mean.  std is population std (ddof=0)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DECODE_STATS_SCHEMA.fields]
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                frames = decode_gips_raw(r.payload)
                nf, h, w = frames.shape
                for fr in range(0, nf, sample_every):
                    img = frames[fr]
                    small = bilinear_resize(img, resize_to, resize_to)
                    wgt = np.arange(1, resize_to * resize_to + 1, dtype=np.float64)
                    out.append(
                        {
                            "asset_id": int(r.asset_id),
                            "frame": fr,
                            "width": w,
                            "height": h,
                            "mean_px": float(img.mean()),
                            "std_px": float(img.std()),
                            "resize_checksum": float(small.ravel() @ wgt),
                        }
                    )
            yield pd.DataFrame(out, columns=cols)

    return assets.mapInPandas(kernel, schema=DECODE_STATS_SCHEMA)
