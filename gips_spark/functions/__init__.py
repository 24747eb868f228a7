"""Numpy kernels + their Arrow/pandas-UDF bindings.

Submodules:
  s2     — faithful S2 cell ids (public S2 geometry spec), vectorized numpy
  h3lite — H3-style aperture-7 icosahedral hex indexing (engine-canonical
           base-cell numbering; see module docstring), vectorized numpy
  geom   — haversine, ray-casting point-in-polygon, prepared geometry
  textx  — deterministic html→text extraction, rule-based geocoder,
           language-id / quality / token-count / fingerprint kernels
  udfs   — arrow_udf / pandas_udf bindings used by the operators
"""
