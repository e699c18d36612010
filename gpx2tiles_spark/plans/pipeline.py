"""End-to-end tiling pipeline: documents → points → events → tile files.

Physical shape (SURVEY.md §3.3 mirror):
  stage 1  parse      map-only (mapInPandas, zero shuffle); each point
                      carries its chain predecessor (prev_lat, prev_lon)
  stage 2  explode    zoom × tile/pixel projection (narrow)
  stage 3  rasterize  hash shuffle into (z, tx, ty) groups → Arrow fold
  stage 4  sink       PNG writes in the fold's Python worker

The tile shuffle is the render's one exchange (docs/PLANS.md,
prepared_events): the parse emits each chain in order and pairs it
there, so no window re-partitions the points to find predecessors.
The parse runs once, from the persisted points (the reference
re-parses nothing but re-renders per zoom; gpx2tiles.c:1156-1208).

For the tiles as a DataFrame (z, tx, ty, point_cnt, n_events, n_docs,
png), build ``rasterize(build_events(points, cfg), cfg)`` over points
that stay, e.g. a parquet copy of the parse.
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
    zoom_stats: list[ZoomStats]  # per-zoom (z, tiles, points) written


def render_pyramid(documents: DataFrame, cfg: EngineConfig | None = None, *,
                   out_dir: str,
                   store: DataFrame | None = None) -> RenderResult:
    """documents → ``{z}/{tx}/{ty}.png`` under ``out_dir``, each tile
    written by the Python worker that folds it (over the store's newest
    base per tile when a store is given)."""
    cfg = cfg or EngineConfig()
    # persist the pre-explode points: build_events unions up to four
    # branches over them (the one-explode point pass, cross-tile lines,
    # waypoint circles, -d4 text), and without a cache each branch
    # re-runs the parse from the scan.  Released once the one job ran.
    points = parse_documents(documents).persist()
    try:
        out = rasterize(build_events(points, cfg), cfg, store=store,
                        out_dir=out_dir)
        # one job; the tiles are never cached or read back
        by_z = out.toPandas().groupby("z").sum()
    finally:
        points.unpersist()
    return RenderResult([ZoomStats(int(z), int(r.tiles), int(r.points))
                         for z, r in by_z.iterrows()])
