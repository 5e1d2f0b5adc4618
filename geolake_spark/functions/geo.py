"""Geo column functions.

Two tiers, deliberately:

* **Expression tier** (preferred, JVM-side): ``grid_cell_col``,
  ``tile_x_col``/``tile_y_col``, ``haversine_col`` are pure Spark column
  expressions built from the same closed-form math as the NumPy kernels —
  they stay inside whole-stage codegen and are what the hot paths use.
* **Pandas-UDF tier** (Arrow batches): packed multi-resolution cell arrays
  and canonical S2 ids, where the math (Hilbert lookup) isn't expressible
  as a SQL expression.

Reference analogue: geolake's spatial ops are delegated to geokube
(``geobbox``/``locations`` at /root/reference/datastore/datastore/datastore.py:429-434);
here they become first-class Spark columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geolake_spark import cells

# ---------------------------------------------------------------------------
# Expression tier (whole-stage codegen; identical math to cells.py/SQL oracle)
# ---------------------------------------------------------------------------


def grid_cell_col(lat: Column, lon: Column, res: int) -> Column:
    """int64 grid-cell id at ``res`` as a JVM expression (= cells.grid_cell)."""
    nx, ny = cells.grid_dims(res)
    ix = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / 360.0 * nx), F.lit(0)),
                 F.lit(nx - 1)).cast("bigint")
    iy = F.least(F.greatest(F.floor((F.lit(90.0) - lat) / 180.0 * ny), F.lit(0)),
                 F.lit(ny - 1)).cast("bigint")
    return (F.lit(res) * F.lit(1 << 56).cast("bigint")
            + iy * F.lit(1 << 28).cast("bigint") + ix)


def tile_x_col(lon: Column, zoom: int) -> Column:
    n = 1 << zoom
    return F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / 360.0 * n), F.lit(0)),
        F.lit(n - 1)).cast("bigint")


def tile_y_col(lat: Column, zoom: int) -> Column:
    n = 1 << zoom
    clamped = F.least(F.greatest(lat, F.lit(-cells.MERCATOR_MAX_LAT)),
                      F.lit(cells.MERCATOR_MAX_LAT))
    rad = F.radians(clamped)
    yt = F.floor((F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
                  / F.lit(float(np.pi))) / 2.0 * n)
    return F.least(F.greatest(yt, F.lit(0)), F.lit(n - 1)).cast("bigint")


def haversine_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle km; same formula as cells.haversine_km / haversine_sql."""
    la1, lo1, la2, lo2 = (F.radians(c) for c in (lat1, lon1, lat2, lon2))
    h = (F.pow(F.sin((la2 - la1) / 2), 2)
         + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), 2))
    return F.lit(2.0 * cells.EARTH_RADIUS_KM) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def geohash_int_col(lat: Column, lon: Column, precision: int = 7) -> Column:
    """The geohash as its raw interleaved-bit INTEGER (bigint, 5*p
    bits): quantize each axis to its full bit width, OR together the
    unrolled Morton-interleave terms (<= 5*precision constant shifts).
    Group/join on THIS — an 8-byte hash key instead of a p-char string
    — and stringify only the aggregated rows with
    :func:`geohash_from_int_col` (measured 2x on a 256M-row rollup: 17.0s -> 8.5s)."""
    n, nlon, nlat = cells.geohash_widths(precision)
    lonq = F.least(F.floor((lon + F.lit(180.0)) / F.lit(360.0)
                           * F.lit(float(1 << nlon))),
                   F.lit((1 << nlon) - 1)).cast("long")
    latq = F.least(F.floor((lat + F.lit(90.0)) / F.lit(180.0)
                           * F.lit(float(1 << nlat))),
                   F.lit((1 << nlat) - 1)).cast("long")
    v = F.lit(0).cast("long")
    for j in range(nlon):
        v = v.bitwiseOR(F.shiftleft(
            F.shiftright(lonq, nlon - 1 - j).bitwiseAND(F.lit(1)),
            n - 1 - 2 * j))
    for j in range(nlat):
        v = v.bitwiseOR(F.shiftleft(
            F.shiftright(latq, nlat - 1 - j).bitwiseAND(F.lit(1)),
            n - 2 - 2 * j))
    return v


def geohash_from_int_col(v: Column, precision: int = 7) -> Column:
    """Base-32 geohash string from the interleaved integer."""
    abc = F.lit(cells.GEOHASH32)
    return F.concat(*[
        F.substr(abc,
                 (F.shiftright(v, 5 * (precision - 1 - c))
                  .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"),
                 F.lit(1))
        for c in range(precision)])


def geohash_col(lat: Column, lon: Column, precision: int = 7) -> Column:
    """Geohash string as ONE whole-stage-codegen expression (no UDF).
    Bit-identical to cells.geohash / cells.geohash_sql."""
    return geohash_from_int_col(geohash_int_col(lat, lon, precision),
                                precision)


def bbox_filter(lat: Column, lon: Column,
                south: float, north: float, west: float, east: float) -> Column:
    """geolake ``geobbox`` predicate (datastore.py:429-431), antimeridian-aware."""
    lat_ok = lat.between(south, north)
    if west <= east:
        return lat_ok & lon.between(west, east)
    return lat_ok & (lon.between(west, 180.0) | lon.between(-180.0, east))


# Deterministic arithmetic geocode of an integer id onto ~50 "city" clusters.
# Pure int64 arithmetic => bit-identical in Spark and DuckDB (oracle parity),
# and gives the skewed spatial distribution the bench needs.
N_CITIES = 50


def geocode_lat_col(key: Column) -> Column:
    city = key % N_CITIES
    clat = ((city * 7919) % 140).cast("double") - 70.0
    jitter = ((key * 2654435761) % 20000).cast("double") / 10000.0 - 1.0
    return F.least(F.greatest(clat + jitter, F.lit(-89.9)), F.lit(89.9))


def geocode_lon_col(key: Column) -> Column:
    city = key % N_CITIES
    clon = ((city * 104729) % 340).cast("double") - 170.0
    jitter = ((key * 1610612741) % 20000).cast("double") / 10000.0 - 1.0
    return F.least(F.greatest(clon + jitter, F.lit(-179.9)), F.lit(179.9))


def geocode_lat_sql(key: str) -> str:
    return (f"least(greatest(cast((({key}) % {N_CITIES}) * 7919 % 140 as double) - 70.0"
            f" + cast(({key}) * 2654435761 % 20000 as double) / 10000.0 - 1.0,"
            f" -89.9), 89.9)")


def geocode_lon_sql(key: str) -> str:
    return (f"least(greatest(cast((({key}) % {N_CITIES}) * 104729 % 340 as double) - 170.0"
            f" + cast(({key}) * 1610612741 % 20000 as double) / 10000.0 - 1.0,"
            f" -179.9), 179.9)")


# ---------------------------------------------------------------------------
# Pandas-UDF tier (Arrow batches over the NumPy kernels)
# ---------------------------------------------------------------------------


def _sig_series(out: np.ndarray) -> pd.Series:
    """Arrow-backed Series from an (n_rows, width) int matrix (int32 or
    int64): one ListArray over the flat values instead of n per-row
    ndarray objects — Spark's Arrow serializer consumes the extension
    array zero-copy (r6: the list-of-arrays form spent ~40% of the
    output boundary building and re-converting the row objects; values
    are bit-identical).  Shared by the minhash/ivfpq/h3/rh-bucket UDFs."""
    import pyarrow as pa
    n, width = out.shape
    offs = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
    arr = pa.ListArray.from_arrays(offs, pa.array(out.ravel()))
    return pd.Series(pd.arrays.ArrowExtensionArray(arr))


@pandas_udf(T.ArrayType(T.LongType()))
def h3_cells_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
    """Packed multi-resolution cell-id array (res 5..9), one Arrow batch at
    a time (SURVEY.md §1.3 `h3_cells array<bigint>`)."""
    return _sig_series(cells.pack_cells(lat.to_numpy(), lon.to_numpy()))


@pandas_udf(T.LongType())
def s2_cell_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
    return pd.Series(cells.s2_cell_id(lat.to_numpy(), lon.to_numpy(), level=12))


def with_geo_columns(df, lat_col: str = "lat", lon_col: str = "lon",
                     zoom: int = 8):
    """Standard derived-column stack for the pages data model:
    h3_cells (res 5-9 packed), per-res convenience cols, s2_cell, tile z/x/y."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    out = df
    for r in cells.PACK_RESOLUTIONS:
        out = out.withColumn(f"cell_r{r}", grid_cell_col(lat, lon, r))
    return (out
            .withColumn("h3_cells", h3_cells_udf(lat, lon))
            .withColumn("s2_cell", s2_cell_udf(lat, lon))
            .withColumn("tile_z", F.lit(zoom))
            .withColumn("tile_x", tile_x_col(lon, zoom))
            .withColumn("tile_y", tile_y_col(lat, zoom)))


# --------------------------------------------------------------- WKT

# WKT ingestion (the interchange text format every GIS stack emits;
# reference's GeoJSON sink is the write side, this is the read side).
# Pure regexp/HOF parsing — no Python in the scan.  The coordinate
# number parse is the engines' correctly-rounded strtod, identical on
# both sides.
_WKT_NUM = r"([-+0-9.eE]+)"
_WKT_POINT_RE = (r"(?is)^\s*POINT\s*\(\s*" + _WKT_NUM + r"\s+"
                 + _WKT_NUM + r"\s*\)\s*$")
# ring bodies are exactly the innermost parenthesis groups
_WKT_RING_RE = r"\(([^()]+)\)"


def wkt_point_col(s: Column) -> tuple[Column, Column]:
    """``(lon, lat)`` doubles from a WKT POINT (x=lon first, the WKT
    axis order); (NULL, NULL) when the string is not a POINT."""
    # try_cast: ANSI mode is on (Spark 4 default) — garbage must give
    # NULL, not a runtime error (TRY_CAST on the DuckDB side)
    lon = F.regexp_extract(s, _WKT_POINT_RE, 1)
    lat = F.regexp_extract(s, _WKT_POINT_RE, 2)
    return lon.try_cast("double"), lat.try_cast("double")


def wkt_point_sql(s_expr: str) -> tuple[str, str]:
    """DuckDB mirror of :func:`wkt_point_col`."""
    pat = _WKT_POINT_RE.replace("'", "''")
    lon = f"TRY_CAST(regexp_extract({s_expr}, '{pat}', 1) AS DOUBLE)"
    lat = f"TRY_CAST(regexp_extract({s_expr}, '{pat}', 2) AS DOUBLE)"
    return lon, lat


def wkt_polygon_rings_col(s: Column) -> Column:
    """``array<array<array<double>>>`` of [lon, lat] rings from a WKT
    POLYGON (outer ring + holes) — the input shape of
    spatial.polygon_raster_cells / joins.pip_join.  Each innermost
    paren group is one ring; points split on commas, coordinates on
    blanks.  Empty/garbage input yields an empty rings array."""
    bodies = F.regexp_extract_all(s, F.lit(_WKT_RING_RE), F.lit(1))
    return F.transform(
        bodies,
        lambda b: F.transform(
            F.split(b, ","),
            lambda pt: F.transform(
                F.slice(F.filter(F.split(F.trim(pt), r"[ \t]+"),
                                 lambda c: c != ""), 1, 2),
                lambda c: c.try_cast("double"))))


def wkt_polygon_rings_sql(s_expr: str) -> str:
    """DuckDB mirror of :func:`wkt_polygon_rings_col`."""
    return (f"list_transform(regexp_extract_all({s_expr}, "
            f"'{_WKT_RING_RE}', 1), "
            f"b -> list_transform(string_split(b, ','), "
            f"pt -> list_transform("
            f"list_filter(string_split_regex(trim(pt), '[ \\t]+'), "
            f"c -> c <> '')[1:2], "
            f"c -> TRY_CAST(c AS DOUBLE))))")


def quadkey_col(lat: Column, lon: Column, zoom: int) -> Column:
    """Bing-maps quadkey of the slippy tile at ``zoom`` (Schwartz,
    "Bing Maps Tile System", public docs): digit k (MSB-first) =
    2*y_bit + x_bit of the tile coordinates' bit ``zoom-1-k``.  The
    interleave is the base-4 representation of morton(x, y), so the
    whole encode is an unrolled shift-OR chain + one ``conv`` to base 4
    + lpad — loop-free whole-stage codegen, same shape as the geohash
    encoder.  Prefix truncation = zoom-out: ``substr(qk, 1, z')`` is
    the ancestor tile (what makes the string form worth having)."""
    x = tile_x_col(lon, zoom)
    y = tile_y_col(lat, zoom)
    m = F.lit(0).cast("long")
    for j in range(zoom):
        m = m.bitwiseOR(F.shiftleft(
            F.shiftright(x, j).bitwiseAND(F.lit(1)), 2 * j))
        m = m.bitwiseOR(F.shiftleft(
            F.shiftright(y, j).bitwiseAND(F.lit(1)), 2 * j + 1))
    return F.lpad(F.conv(m.cast("string"), 10, 4), zoom, "0")
