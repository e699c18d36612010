"""Web Mercator slippy-map projection kernels.

Two implementations of the same math, bit-compatible on IEEE-754 doubles:

- **numpy** vectorized kernels — used inside Arrow/pandas UDFs (the
  rasterizer and the batch parse stage).
- **Spark Column expression** builders — used in pure-DataFrame queries so
  the math runs JVM-side inside whole-stage codegen (no Python at all).

Formulas are the public OSM slippy-map tilename formulas
(wiki.openstreetmap.org/wiki/Slippy_map_tilenames); the reference uses the
identical ones (/root/reference/slippy-map.h:10-32, gpx2tiles.c:123-167).
C `(int)` casts truncate toward zero — reproduced with ``np.trunc`` /
``double->int`` truncation semantics (all in-range values are >= 0, where
trunc == floor; we keep trunc for fidelity at the edges).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .config import TILE_H, TILE_W


# --------------------------------------------------------------------------
# numpy kernels
# --------------------------------------------------------------------------

def lon_to_tilex(lon: np.ndarray, z: int | np.ndarray) -> np.ndarray:
    """Slippy tile x. slippy-map.h:10-14: (int)((lon+180)/360 * 2^z)."""
    return np.trunc((np.asarray(lon, np.float64) + 180.0) / 360.0 * np.power(2.0, z)).astype(np.int64)


def lat_to_tiley(lat: np.ndarray, z: int | np.ndarray) -> np.ndarray:
    """Slippy tile y. slippy-map.h:16-21."""
    rad = np.radians(np.asarray(lat, np.float64))
    y = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * np.power(2.0, z)
    return np.trunc(y).astype(np.int64)


def tilex_to_lon(tx: np.ndarray, z: int | np.ndarray) -> np.ndarray:
    """West edge longitude of tile column tx. slippy-map.h:23-26."""
    return np.asarray(tx, np.float64) / np.power(2.0, z) * 360.0 - 180.0


def tile_bbox(tx: np.ndarray, ty: np.ndarray, z: int | np.ndarray):
    """Geographic bbox (s, w, n, e) of a tile.

    Mirrors the reference's ``Project`` (gpx2tiles.c:133-153): latitudes via
    inverse Mercator of the tile's relative y, longitudes linear.
    """
    zpow = np.power(2.0, z)
    unit = 1.0 / zpow
    rel_y1 = np.asarray(ty, np.float64) * unit
    rel_y2 = rel_y1 + unit
    limit_y = math.pi
    merc1 = limit_y - 2.0 * limit_y * rel_y1
    merc2 = limit_y - 2.0 * limit_y * rel_y2
    north = np.degrees(np.arctan(np.sinh(merc1)))
    south = np.degrees(np.arctan(np.sinh(merc2)))
    lon_unit = 360.0 / zpow
    west = -180.0 + np.asarray(tx, np.float64) * lon_unit
    east = west + lon_unit
    return south, west, north, east


def pixel_pos(lon: np.ndarray, lat: np.ndarray, z: int | np.ndarray,
              tx: np.ndarray | None = None, ty: np.ndarray | None = None):
    """Pixel position of (lon, lat) inside its own tile at zoom z.

    gpx2tiles.c:158-167: linear interpolation over the tile bbox onto the
    256-pixel grid, C int truncation.  Pass (tx, ty) to reuse precomputed
    tile coords (must equal lon/lat's own tile for reference semantics).
    """
    if tx is None:
        tx = lon_to_tilex(lon, z)
    if ty is None:
        ty = lat_to_tiley(lat, z)
    south, west, north, east = tile_bbox(tx, ty, z)
    px = np.trunc((np.asarray(lon, np.float64) - west) * TILE_W / (east - west)).astype(np.int64)
    py = np.trunc((np.asarray(lat, np.float64) - north) * TILE_H / (south - north)).astype(np.int64)
    return px, py


def earth_distance_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance, spherical law of cosines, R=6371000 m.

    Matches the reference kernel (gpx.c:244-258) including the acos-argument
    clamp to <= 1.0.  NOT haversine: at sub-meter separations this underflows
    to exactly 0.0, which the reference relies on (FIXTURES.md §4.1).
    """
    la1 = np.radians(np.asarray(lat1, np.float64))
    la2 = np.radians(np.asarray(lat2, np.float64))
    dlo = np.radians(np.asarray(lon2, np.float64) - np.asarray(lon1, np.float64))
    a = np.sin(la1) * np.sin(la2) + np.cos(la1) * np.cos(la2) * np.cos(dlo)
    return np.arccos(np.minimum(a, 1.0)) * 6371000.0


def quadkey(tx: np.ndarray, ty: np.ndarray, z: int) -> np.ndarray:
    """Hierarchical int64 cell id over the Mercator grid (S2/quadkey-style).

    Bit-interleave (ty, tx) to a Morton code and prepend a level sentinel
    bit: ``cell = (1 << 2z) | morton`` so that ``parent = cell >> 2`` and
    ids are unique across zooms.  Pure numpy; z <= 19 fits in 40 bits.
    """
    tx = np.asarray(tx, np.int64)
    ty = np.asarray(ty, np.int64)
    m = np.zeros_like(tx)
    for i in range(z):
        m |= ((tx >> i) & 1) << (2 * i)
        m |= ((ty >> i) & 1) << (2 * i + 1)
    return (np.int64(1) << np.int64(2 * z)) | m


# --------------------------------------------------------------------------
# Spark Column expression builders (JVM-side, codegen'd)
# --------------------------------------------------------------------------

def _zpow_col(z: Column | int) -> Column:
    """2^z as a double Column; constant-folded for literal zooms.  For
    column zooms Math.pow is a JIT intrinsic — measured faster than both
    an element_at lookup (per-row array alloc) and a CASE chain."""
    if isinstance(z, int):
        return F.lit(float(1 << z))
    return F.pow(F.lit(2.0), z)


def xfrac_col(lon: Column) -> Column:
    """Zoom-independent x fraction: (lon+180)/360.  ``tilex = floor(xfrac
    * 2^z)`` — the C code's own association ((lon+180.0)/360.0 * (1<<z)),
    so hoisting it above a zoom explode is bit-identical."""
    return (lon + F.lit(180.0)) / F.lit(360.0)


def yfrac_col(lat: Column) -> Column:
    """Zoom-independent Mercator y fraction: (1 - ln(tan φ + sec φ)/π)/2."""
    rad = F.radians(lat)
    merc = F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
    return (F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0)


def tilex_col(lon: Column, z: Column | int) -> Column:
    """tile x as a Column; arg >= 0 in-range so floor == C trunc."""
    return F.floor(xfrac_col(lon) * _zpow_col(z)).cast("int")


def tiley_col(lat: Column, z: Column | int) -> Column:
    return F.floor(yfrac_col(lat) * _zpow_col(z)).cast("int")


def tile_bbox_cols(tx: Column, ty: Column, z: Column | int) -> dict[str, Column]:
    zpow = _zpow_col(z)
    unit = F.lit(1.0) / zpow
    rel_y1 = ty.cast("double") * unit
    rel_y2 = rel_y1 + unit
    merc1 = F.lit(math.pi) - F.lit(2.0 * math.pi) * rel_y1
    merc2 = F.lit(math.pi) - F.lit(2.0 * math.pi) * rel_y2
    north = F.degrees(F.atan(F.sinh(merc1)))
    south = F.degrees(F.atan(F.sinh(merc2)))
    lon_unit = F.lit(360.0) / zpow
    west = F.lit(-180.0) + tx.cast("double") * lon_unit
    return {"s": south, "w": west, "n": north, "e": west + lon_unit}


def pixel_cols(lon: Column, lat: Column, tx: Column, ty: Column,
               z: Column | int) -> tuple[Column, Column]:
    """In-tile pixel (px, py) as Columns (values >= 0 ⇒ floor == trunc)."""
    bb = tile_bbox_cols(tx, ty, z)
    px = F.floor((lon - bb["w"]) * F.lit(float(TILE_W)) / (bb["e"] - bb["w"])).cast("int")
    py = F.floor((lat - bb["n"]) * F.lit(float(TILE_H)) / (bb["s"] - bb["n"])).cast("int")
    return px, py


def earth_distance_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Law-of-cosines distance as a Column (same formula as numpy kernel)."""
    a = (
        F.sin(F.radians(lat1)) * F.sin(F.radians(lat2))
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.cos(F.radians(lon2 - lon1))
    )
    # clamp BOTH ends: near-identical positions land an ulp above 1.0
    # and near-antipodal ones an ulp below -1.0 (Spark acos would give
    # NaN; the DuckDB oracle mirror ERRORS — seen at the sf1 10x stress)
    return F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), a))) \
        * F.lit(6371000.0)


def earth_distance_presincos_col(sin1: Column, cos1: Column,
                                 sin2: Column, cos2: Column,
                                 lon1: Column, lon2: Column) -> Column:
    """:func:`earth_distance_col` with the per-endpoint sin/cos of the
    latitude PRECOMPUTED.  Bit-identical results (the same double values
    feed the same multiply/acos tree) — it only stops a k-vs-all join
    from re-deriving each endpoint's trig once per PAIR instead of once
    per row (5 transcendentals/pair → 2)."""
    a = sin1 * sin2 + cos1 * cos2 * F.cos(F.radians(lon2 - lon1))
    return F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), a))) \
        * F.lit(6371000.0)


def quadkey_col(tx: Column, ty: Column, z: int) -> Column:
    """Same Morton-with-sentinel cell id as :func:`quadkey`, JVM-side."""
    cell = F.lit(1 << (2 * z)).cast("long")
    m = F.lit(0).cast("long")
    txl = tx.cast("long")
    tyl = ty.cast("long")
    for i in range(z):
        m = m.bitwiseOR(F.shiftleft(F.shiftright(txl, i).bitwiseAND(F.lit(1)), 2 * i))
        m = m.bitwiseOR(F.shiftleft(F.shiftright(tyl, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return cell.bitwiseOR(m)


def quadkey_sql(tx_expr: str, ty_expr: str, z: int) -> str:
    """ANSI-SQL text of :func:`quadkey` for the DuckDB oracle."""
    terms = [str(1 << (2 * z))]
    for i in range(z):
        terms.append(f"((({tx_expr}) >> {i}) & 1) << {2 * i}")
        terms.append(f"((({ty_expr}) >> {i}) & 1) << {2 * i + 1}")
    return "(" + " | ".join(f"({t})" for t in terms) + ")"
