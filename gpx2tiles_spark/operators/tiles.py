"""Tile assignment (R5/R6) + per-tile aggregates (A1-A3) as native
DataFrame ops — all JVM-side Column math, no Python in the hot path.

The zoom pyramid is an explicit ``explode(sequence(zmin, zmax))`` — an
intentional 1→18 row multiplier that Catalyst places *after* filters
(predicate pushdown keeps the pre-explode scan minimal).  Tile/pixel
columns are the Column-expression twins of the numpy kernels in
projection.py (bit-parity tested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import projection as P
from ..config import EngineConfig


def with_zooms(points: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Fan out each point to every zoom level (gpx2tiles.c:1156-1208 —
    the reference re-renders all points per zoom; here it is one job)."""
    return points.withColumn(
        "z", F.explode(F.sequence(F.lit(cfg.zoom_min), F.lit(max(cfg.zoom_max, cfg.zoom_min))))
    )


def with_tile(df: DataFrame, lat: str = "lat", lon: str = "lon",
              z: str | int = "z", prefix: str = "") -> DataFrame:
    """Add tile (tx,ty) columns only (cheap: 3 transcendentals/point)."""
    zc: Column | int = F.col(z) if isinstance(z, str) else z
    df = df.withColumn(prefix + "tx", P.tilex_col(F.col(lon), zc))
    return df.withColumn(prefix + "ty", P.tiley_col(F.col(lat), zc))


def with_pixel(df: DataFrame, lat: str = "lat", lon: str = "lon",
               z: str | int = "z", prefix: str = "") -> DataFrame:
    """Add in-tile pixel (px,py) from existing tile columns (expensive:
    the inverse-Mercator bbox — defer until after filters)."""
    zc: Column | int = F.col(z) if isinstance(z, str) else z
    px, py = P.pixel_cols(F.col(lon), F.col(lat),
                          F.col(prefix + "tx"), F.col(prefix + "ty"), zc)
    return df.withColumn(prefix + "px", px).withColumn(prefix + "py", py)


def with_tile_pixel(df: DataFrame, lat: str = "lat", lon: str = "lon",
                    z: str | int = "z", prefix: str = "") -> DataFrame:
    """Add tile (tx,ty) and in-tile pixel (px,py) columns."""
    return with_pixel(with_tile(df, lat, lon, z, prefix), lat, lon, z, prefix)


def drawn_point_col(cfg: EngineConfig) -> Column:
    """F5: the reference draws waypoints only when z > z_no_wpts
    (gpx2tiles.c:733-735); track points at every zoom.  Needs (kind, z)."""
    return (F.col("kind") == F.lit("trkpt")) | (F.col("z") > F.lit(cfg.z_no_wpts))


def tile_point_counts(points: DataFrame, cfg: EngineConfig) -> DataFrame:
    """A1: per-(z,tx,ty) point counts — THE primary correctness artifact
    (tile->point_cnt++, gpx2tiles.c:617).  Hash aggregate with map-side
    partial aggregation; shuffle keyed (z,tx,ty).

    Waypoint rows count (and materialize tiles) only where they are
    drawn (:func:`drawn_point_col`)."""
    exploded = with_tile_pixel(with_zooms(points, cfg))
    if "kind" in points.columns:
        exploded = exploded.filter(drawn_point_col(cfg))
    return (
        exploded.groupBy("z", "tx", "ty")
        .agg(F.count("*").alias("point_cnt"))
    )


def zoom_census(points: DataFrame, cfg: EngineConfig) -> DataFrame:
    """A2: per-zoom tile counts (zoom_levels[z].tile_cnt)."""
    return (
        tile_point_counts(points, cfg)
        .groupBy("z")
        .agg(F.count("*").alias("tile_cnt"), F.sum("point_cnt").alias("point_cnt"))
    )


def doc_point_counts(points: DataFrame) -> DataFrame:
    """A3: per-document parsed point counts (gpx->points_cnt)."""
    return points.groupBy("doc_id").agg(F.count("*").alias("points_cnt"))
