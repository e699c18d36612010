"""The store update paths — store rows and new events in one tile
shuffle, folded by the partition-sliced fold; and the heatmap / salted
low-zoom routes over the merged base — against the per-tile cogroup
fold (``_rasterize_cogroup``), the plain reference: decoded pixels,
point_cnt, n_events and n_docs must be equal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpx2tiles_spark.config import EngineConfig
from gpx2tiles_spark.corpus import generate_documents
from gpx2tiles_spark.operators.events import build_events
from gpx2tiles_spark.operators.parse import parse_documents
from gpx2tiles_spark.operators.raster import (SNAPSHOT_COL,
                                              _rasterize_cogroup,
                                              latest_tiles, rasterize)
from gpx2tiles_spark.pngcodec import decode_png

KEY = ["z", "tx", "ty"]


def _tiles(df) -> dict:
    return {(r.z, r.tx, r.ty): (r.point_cnt, r.n_events, r.n_docs,
                                decode_png(bytes(r.png)).tobytes())
            for r in df.collect()}


@pytest.fixture(scope="module")
def points(spark):
    pts = parse_documents(generate_documents(spark, 9, partitions=3)).persist()
    yield pts
    pts.unpersist()


def _events(points, cfg, lo, hi):
    """Events of the docs with index in [lo, hi)."""
    d = F.col("doc_id")
    return build_events(points.filter((d >= f"doc{lo:08d}")
                                      & (d < f"doc{hi:08d}")), cfg)


def _two_snapshot_store(points, cfg):
    """Snapshot 0 = docs 0-3, snapshot 1 = docs 2-5 drawn over it (docs
    2-3 twice, so their tiles sit in both snapshots with different
    counts); each row tagged with its snapshot id, as the TileStore
    passes them."""
    s0 = rasterize(_events(points, cfg, 0, 4), cfg) \
        .select(*KEY, "point_cnt", "png")
    s1 = rasterize(_events(points, cfg, 2, 6), cfg, store=s0) \
        .select(*KEY, "point_cnt", "png")
    return (s0.withColumn(SNAPSHOT_COL, F.lit(0))
            .unionByName(s1.withColumn(SNAPSHOT_COL, F.lit(1)))).persist()


@pytest.mark.parametrize("kw", [
    dict(zoom_min=1, zoom_max=8),
    dict(zoom_min=15, zoom_max=18),  # straddles z17: PDOP alpha blends
    dict(zoom_min=15, zoom_max=18, diag_shadows=True),
    dict(zoom_min=1, zoom_max=6, diag_shadows=True),
    # the routes that keep the merged base below the split: heatmap hit
    # counts (split at z15 here) and salted hot tiles
    dict(zoom_min=12, zoom_max=16, heatmap=True),
    dict(zoom_min=1, zoom_max=6, salt_buckets=4, hot_tile_threshold=50,
         hot_detect_fraction=1.0),
], ids=["low", "z15-18", "z15-18-shadows", "low-shadows", "heatmap",
        "salted"])
def test_store_fold_equals_cogroup(spark, points, kw):
    cfg = EngineConfig(**kw)
    store = _two_snapshot_store(points, cfg)
    try:
        base = latest_tiles(store).persist()
        ev = _events(points, cfg, 3, 9)
        got = _tiles(rasterize(ev, cfg, store=store))
        want = _tiles(_rasterize_cogroup(ev, cfg, base))
        assert got == want

        # the newest snapshot must be the base: some touched tiles are in
        # both snapshots, with different content
        both = (store.groupBy(*KEY).count().filter("count = 2")
                .select(*KEY).collect())
        assert {tuple(r) for r in both} & set(got), "fixture has no overlap"
        # a tile present only in the store is not re-emitted
        stored = {tuple(r) for r in base.select(*KEY).collect()}
        touched = {tuple(r) for r in ev.select(*KEY).distinct().collect()}
        assert stored - touched, "fixture has no store-only tile"
        assert set(got) == touched
        base.unpersist()
    finally:
        store.unpersist()


def test_store_fold_without_point_cnt_or_snapshot_id(spark, points):
    """A store like read_tile_pyramid output — png only, no point_cnt, no
    snapshot id — is one snapshot with a zero base count."""
    cfg = EngineConfig(zoom_min=14, zoom_max=18)
    store = rasterize(_events(points, cfg, 0, 5), cfg) \
        .select(*KEY, "png").persist()
    try:
        ev = _events(points, cfg, 5, 9)
        got = _tiles(rasterize(ev, cfg, store=store))
        assert got == _tiles(_rasterize_cogroup(ev, cfg, store))
        fresh = _tiles(rasterize(ev, cfg))
        assert {k: v[0] for k, v in got.items()} == \
            {k: v[0] for k, v in fresh.items()}
    finally:
        store.unpersist()
