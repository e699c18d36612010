"""End-to-end tiling pipeline: documents → points → events → tiles → sink.

Physical shape (SURVEY.md §3.3 mirror):
  stage 1  parse      map-only (mapInPandas, zero shuffle)
  stage 2  pairing    window shuffle on (doc_id, seg_order)
  stage 3  explode    zoom × tile/pixel projection (narrow)
  stage 4  rasterize  hash shuffle into (z, tx, ty) groups → pandas fold
  stage 5  sink       executor-side PNG writes / parquet tile table

Exactly two shuffles end-to-end.  `points` is persisted between the
aggregate queries and the render so parse runs once (the reference
re-parses nothing but re-renders per zoom; gpx2tiles.c:1156-1208).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..operators.events import build_events
from ..operators.parse import parse_documents
from ..operators.raster import rasterize, write_tile_pyramid
from ..operators.tiles import tile_point_counts, with_tile_pixel, with_zooms


@dataclass
class RenderResult:
    tiles: DataFrame  # (z, tx, ty, point_cnt, n_events, n_docs, png)
    points: DataFrame | None = None  # persisted parse output; unpersist()
    # via release() once tiles are materialized (tiles reads it lazily)
    tiles_cached: bool = False  # tiles persisted by render_pyramid(out_dir=…)

    def release(self) -> None:
        """Drop the caches the render made — call once the caller is done
        reading ``tiles``."""
        if self.points is not None:
            self.points.unpersist()
            self.points = None
        if self.tiles_cached:
            self.tiles.unpersist()
            self.tiles_cached = False


def render_pyramid(documents: DataFrame, cfg: EngineConfig | None = None,
                   out_dir: str | None = None,
                   store: DataFrame | None = None) -> RenderResult:
    cfg = cfg or EngineConfig()
    # ALWAYS persist the pre-explode points: the event relation is a
    # union of branches (the fused stamp/line/PDOP explode, cross-tile
    # lines, waypoint stamps/circles/PDOP, -d4 text) and Catalyst prunes
    # the shared Window out of the branches that don't read lag columns
    # — without a cache each branch re-runs the expensive parse from the
    # scan (observed 7× parse in the physical plan, docs/PLANS.md).
    # points is the natural multi-consumer materialization point at any
    # scale.
    points = parse_documents(documents).persist()
    events = build_events(points, cfg)
    # rasterize() self-routes (see its docstring): the partition-sliced
    # fold, over the store's newest base per tile when a store is given
    tiles = rasterize(events, cfg, store=store)
    if out_dir is not None:
        tiles.persist()
        write_tile_pyramid(tiles, out_dir)  # materializes tiles …
        points.unpersist()  # … so the parse cache can be dropped now
        return RenderResult(tiles=tiles, tiles_cached=True)
    return RenderResult(tiles=tiles, points=points)


def render_counts_only(documents: DataFrame, cfg: EngineConfig | None = None) -> DataFrame:
    """The cheap correctness artifact: per-tile point counts at all zooms
    (render semantics: waypoints only count at z > z_no_wpts)."""
    cfg = cfg or EngineConfig()
    points = parse_documents(documents)
    exploded = with_tile_pixel(with_zooms(points, cfg))
    visible = exploded.filter(
        (F.col("kind") == "trkpt") | (F.col("z") > F.lit(cfg.z_no_wpts))
    )
    return visible.groupBy("z", "tx", "ty").agg(F.count("*").alias("point_cnt"))
