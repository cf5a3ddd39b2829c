"""Arrow-batched pandas UDF wrappers around the numpy kernels in
:mod:`seraster_spark.grid`.

These are the vectorized batch kernels (never per-row Python — BASELINE.json
``input_hint``) for ops with no reasonable Column form: polygonize to WKT or
GeoJSON. Point-in-polygon runs in :mod:`seraster_spark.vector`'s join
kernels. Tile encoding and centroids have no UDF here: they run as pure
Column expressions (:mod:`seraster_spark.expressions`).

Each factory closes over a broadcastable :class:`GridSpec` (plain frozen
dataclass → pickled once into the UDF closure, not per batch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import grid
from .grid import GridSpec


def wkt_udf(spec: GridSpec, decimals: int = 6):
    @F.pandas_udf(T.StringType())
    def _wkt(cell_id: pd.Series) -> pd.Series:
        return pd.Series(grid.polygon_wkt(cell_id.to_numpy(np.int64), spec, decimals))

    return _wkt


def geojson_geom_udf(spec: GridSpec, decimals: int = 6):
    """cell_id → GeoJSON Polygon geometry JSON string (closed ring, fixed
    decimal formatting — byte-deterministic like the WKT path)."""

    @F.pandas_udf(T.StringType())
    def _geom(cell_id: pd.Series) -> pd.Series:
        verts = grid.polygon_vertices(cell_id.to_numpy(np.int64), spec)
        fmt = f"[%.{decimals}f,%.{decimals}f]"
        out = []
        for ring in verts:
            pts = ",".join(fmt % (vx, vy) for vx, vy in ring)
            out.append('{"type":"Polygon","coordinates":[[' + pts + "]]}")
        return pd.Series(out)

    return _geom
