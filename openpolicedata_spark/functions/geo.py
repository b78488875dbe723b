"""Distributed geo expressions over the struct<lon,lat> point encoding.

The reference returns geopandas GeoDataFrames for portals with geometry
(socrata.py:476-504 builds Points from `geolocation` dicts / GeoJSON;
arcgis_class.py:516-546 builds Points + CRS). geopandas is driver-bound —
at scale the engine keeps geometry as a plain struct<lon:double,lat:double>
column (SURVEY §1.3; `sources/portals/core._POINT_TYPE` produces it) and
expresses the spatial ops a curation/analytics pipeline needs as codegen
arithmetic:

- haversine_km_expr : great-circle distance — row-local, zero shuffle.
- in_bbox_expr      : bounding-box predicate — pushes down like any
                      comparison (partition-prunable when the table is
                      written partitioned by grid cell).
- grid_cell_expr    : fixed-grid spatial bucketing — turns a radius join
                      into a binned equi-join (same pattern as the
                      bucketed interval join in operators/scale: candidates
                      from cell equality, exact distance verify after).

WGS84 spherical approximation (R = 6371.0088 km); no CRS transforms —
portal sources already normalize to lon/lat degrees on ingest.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088


def haversine_km_expr(lon1: Column, lat1: Column,
                      lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km (haversine, spherical earth).

    Pure per-row math — codegen'd, no shuffle, no UDF. Engine-portable:
    the same formula in ANSI SQL matches to ~1 ulp (validated by q84's
    DuckDB oracle at ROUND 6)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (F.sin(dlat) * F.sin(dlat)
         + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon))
    return 2 * F.lit(EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def in_bbox_expr(lon: Column, lat: Column,
                 min_lon: float, min_lat: float,
                 max_lon: float, max_lat: float) -> Column:
    """Bounding-box containment — plain comparisons, fully pushable."""
    return ((lon >= F.lit(min_lon)) & (lon <= F.lit(max_lon))
            & (lat >= F.lit(min_lat)) & (lat <= F.lit(max_lat)))


def grid_cell_expr(lon: Column, lat: Column, cell_deg: float = 1.0) -> Column:
    """Fixed-grid cell id struct<cx:int,cy:int> for spatial bucketing.

    A radius-R join becomes: candidates = equi-join on cell (plus the 8
    neighbor cells on the build side when R ~ cell size), exact haversine
    verify after — one shuffle on small integer keys instead of a cross
    join. Cells also make good write-partition keys for spatial pruning."""
    return F.struct(
        F.floor(lon / F.lit(cell_deg)).cast("int").alias("cx"),
        F.floor(lat / F.lit(cell_deg)).cast("int").alias("cy"),
    )
