"""Arrow-vectorized UDF bindings for the numpy and pyarrow kernels.

Design rule (SURVEY.md §3): the JVM↔Python Arrow channel is a per-batch
cost, so each path uses ONE fused UDF per batch instead of one UDF per
output (= one Arrow round-trip each).  The assign hot path is
`geocode_and_cells` (geocode + h3_7 + s2_13 from url + text; `html`
never enters Python), an Arrow UDF that never builds pandas.
`enrich_struct` is the same kernel plus extract_text, run only by
`enrich_pages(with_text=True)` for callers that keep `extracted_text`.
There is one geocoder (textx.geocode_arrow, RE2) and one cell step
(`_cell`, nulls through Arrow validity); the DuckDB SQL in
__spark_entry__.py is their oracle.
Every kernel works on whole Arrow/pandas batches; no per-row Python
anywhere (input_hint requirement).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf, pandas_udf

from gips_spark.functions import cellindex, geom, s2, textx

H3_RES = 7
S2_LEVEL = 13


def _cell(lat: pa.Array, lon: pa.Array, to_cell, level: int) -> pa.Array:
    """The one cell step: (lat, lon) → int64 cell ids at `level`, null
    where either coordinate is null or NaN (an ungeocoded row)."""
    la = np.asarray(lat.to_numpy(zero_copy_only=False), dtype=np.float64)
    lo = np.asarray(lon.to_numpy(zero_copy_only=False), dtype=np.float64)
    ok = ~(np.isnan(la) | np.isnan(lo))
    out = np.zeros(len(la), dtype=np.int64)
    if ok.any():
        out[ok] = to_cell(la[ok], lo[ok], level)
    return pa.array(out, mask=~ok)


def _cells(lat: pa.Array, lon: pa.Array) -> list[pa.Array]:
    """(h3_7, s2_13)."""
    return [
        _cell(lat, lon, cellindex.latlng_to_cell, H3_RES),
        _cell(lat, lon, s2.latlng_to_cell, S2_LEVEL),
    ]


def _geocode_cells(url: pa.Array, text: pa.Array) -> pa.StructArray:
    """textx.geocode_arrow → (lat, lon, geocode_src, h3_7, s2_13)."""
    geo = textx.geocode_arrow(url, text)
    lat, lon = geo.field("lat"), geo.field("lon")
    return pa.StructArray.from_arrays(
        [lat, lon, geo.field("geocode_src"), *_cells(lat, lon)],
        names=GEOCODE_CELLS_SCHEMA.fieldNames(),
    )


ENRICH_SCHEMA = T.StructType(
    [
        T.StructField("extracted_text", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("geocode_src", T.StringType()),
        T.StructField("h3_7", T.LongType()),
        T.StructField("s2_13", T.LongType()),
    ]
)

GEOCODE_CELLS_SCHEMA = T.StructType(ENRICH_SCHEMA.fields[1:])

CELLS_ONLY_SCHEMA = T.StructType(ENRICH_SCHEMA.fields[4:])


@pandas_udf(ENRICH_SCHEMA)
def enrich_struct(html: pd.Series, url: pd.Series, text: pd.Series) -> pd.DataFrame:
    """The with-text assign kernel: extract_text + geocode + H3 res-7 +
    S2 level-13 in one Arrow pass (tile_assign.enrich_pages with
    ``with_text=True``)."""
    geo = _geocode_cells(*(pa.array(s, type=pa.string(), from_pandas=True) for s in (url, text)))
    # nullable Int64 keeps the cell ids exact (float64 would round them)
    out = pa.RecordBatch.from_struct_array(geo).to_pandas(
        types_mapper={pa.int64(): pd.Int64Dtype()}.get
    )
    out.insert(0, "extracted_text", textx.extract_text(html).to_numpy(dtype=object))
    return out


@arrow_udf(GEOCODE_CELLS_SCHEMA)
def geocode_and_cells(url: pa.Array, text: pa.Array) -> pa.Array:
    """enrich_struct without the text: (url, text) → (lat, lon,
    geocode_src, h3_7, s2_13) in one Arrow pass, no pandas.  The
    engine's only geocoder: batch assign, streaming ingest and the entry
    queries all run it, so a page gets the same cell on every path."""
    return _geocode_cells(url, text)


@arrow_udf(CELLS_ONLY_SCHEMA)
def cells_only(lat: pa.Array, lon: pa.Array) -> pa.Array:
    """(lat, lon) → (h3_7, s2_13): 16 bytes/row each way across the
    Arrow channel, for callers that already hold coordinates."""
    return pa.StructArray.from_arrays(_cells(lat, lon), names=CELLS_ONLY_SCHEMA.fieldNames())


@arrow_udf(T.LongType())
def h3_cell(lat: pa.Array, lon: pa.Array) -> pa.Array:
    return _cell(lat, lon, cellindex.latlng_to_cell, H3_RES)


@arrow_udf(T.LongType())
def s2_cell(lat: pa.Array, lon: pa.Array) -> pa.Array:
    return _cell(lat, lon, s2.latlng_to_cell, S2_LEVEL)


@pandas_udf(T.StringType())
def lang_id_udf(text: pd.Series) -> pd.Series:
    return textx.lang_id(text)


@pandas_udf(T.LongType())
def token_count_udf(text: pd.Series) -> pd.Series:
    return textx.token_count(text)


@pandas_udf(T.LongType())
def fingerprint_udf(text: pd.Series) -> pd.Series:
    return textx.rolling_fingerprint(text)


def haversine_expr(lat1, lon1, lat2, lon2):
    """Pure Column-expression haversine (meters) — JVM-side, codegen'd.

    Identical formula to geom.haversine_m; prefer this inside joins so
    the distance math stays in whole-stage codegen (no Arrow hop).
    """
    rl1 = F.radians(lat1)
    rl2 = F.radians(lat2)
    dphi = rl2 - rl1
    dlmb = F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dphi / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(
        F.sin(dlmb / 2), 2
    )
    a = F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))
    return F.lit(2.0 * geom.EARTH_RADIUS_M) * F.asin(F.sqrt(a))
