"""End-to-end tiling pipeline: documents → points → events → tiles → sink.

Physical shape (SURVEY.md §3.3 mirror):
  stage 1  parse      map-only (mapInPandas, zero shuffle)
  stage 2  pairing    window shuffle on (doc_id, seg_order)
  stage 3  explode    zoom × tile/pixel projection (narrow)
  stage 4  rasterize  hash shuffle into (z, tx, ty) groups → Arrow fold
  stage 5  sink       PNG writes in the fold's own tasks / parquet tile table

Exactly two shuffles end-to-end.  `points` is persisted between the
aggregate queries and the render so parse runs once (the reference
re-parses nothing but re-renders per zoom; gpx2tiles.c:1156-1208).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..config import EngineConfig
from ..operators.events import build_events
from ..operators.parse import parse_documents
from ..operators.raster import ZoomStats, rasterize, write_tile_pyramid


@dataclass
class RenderResult:
    # (z, tx, ty, point_cnt, n_events, n_docs, png).  Lazy: after a
    # render with out_dir nothing is cached, so reading it renders again.
    tiles: DataFrame
    points: DataFrame | None = None  # persisted parse output; unpersist()
    # via release() once tiles are materialized (tiles reads it lazily)
    zoom_stats: list[ZoomStats] | None = None  # per-zoom (z, tiles,
    # points) of the tiles written by render_pyramid(out_dir=…)

    def release(self) -> None:
        """Drop the parse cache the render made — call once the caller is
        done reading ``tiles``."""
        if self.points is not None:
            self.points.unpersist()
            self.points = None


def render_pyramid(documents: DataFrame, cfg: EngineConfig | None = None,
                   out_dir: str | None = None,
                   store: DataFrame | None = None) -> RenderResult:
    """documents → tiles.  With ``out_dir`` the tiles are written in the
    same job that folds them and ``zoom_stats`` holds their per-zoom
    counts; ``tiles`` stays a lazy plan, so reading it renders again."""
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
        # one job: each fold task writes its own tiles and returns its
        # per-zoom counts; the tiles are never cached or read back
        try:
            stats = write_tile_pyramid(tiles, out_dir)
        finally:
            points.unpersist()
        return RenderResult(tiles=tiles, zoom_stats=stats)
    return RenderResult(tiles=tiles, points=points)
