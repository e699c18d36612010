"""End-to-end tiling pipeline: documents → points → events → tiles → sink.

Physical shape (SURVEY.md §3.3 mirror):
  stage 1  parse      map-only (mapInPandas, zero shuffle)
  stage 2  pairing    window shuffle on (doc_id, seg_order)
  stage 3  explode    zoom × tile/pixel projection (narrow)
  stage 4  rasterize  hash shuffle into (z, tx, ty) groups → Arrow fold
  stage 5  sink       PNG writes in the fold's Python worker / parquet tiles

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
from ..operators.raster import ZoomStats, rasterize


@dataclass
class RenderResult:
    # (z, tx, ty, point_cnt, n_events, n_docs, png); None after a render
    # with out_dir, whose tiles exist only as the files it wrote
    tiles: DataFrame | None
    points: DataFrame | None = None  # persisted parse output; unpersist()
    # it once tiles are materialized (tiles reads it lazily)
    zoom_stats: list[ZoomStats] | None = None  # per-zoom (z, tiles,
    # points) of the tiles written by render_pyramid(out_dir=…)


def render_pyramid(documents: DataFrame, cfg: EngineConfig | None = None,
                   out_dir: str | None = None,
                   store: DataFrame | None = None) -> RenderResult:
    """documents → tiles.  With ``out_dir`` each tile is written by the
    Python worker that folds it, ``zoom_stats`` holds their per-zoom
    counts and ``tiles`` is None."""
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
    out = rasterize(events, cfg, store=store, out_dir=out_dir)
    if out_dir is None:
        return RenderResult(tiles=out, points=points)
    # one job; the tiles are never cached or read back
    try:
        by_z = out.toPandas().groupby("z").sum()
    finally:
        points.unpersist()
    return RenderResult(tiles=None, zoom_stats=[
        ZoomStats(int(z), int(r.tiles), int(r.points))
        for z, r in by_z.iterrows()])
