"""Raster→vector round-trip (J4) + filesystem tile-store source (S5/S7)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gpx2tiles_spark import projection as P
from gpx2tiles_spark.config import EngineConfig
from gpx2tiles_spark.corpus import SPANS_SCHEMA, generate_documents
from gpx2tiles_spark.operators.parse import parse_documents
from gpx2tiles_spark.operators.raster import tiles_to_pixels
from gpx2tiles_spark.plans.pipeline import render_pyramid
from gpx2tiles_spark.sources.tilestore import read_tile_pyramid, remove_tiles
from tests.conftest import REFERENCE_GPX, needs_reference_gpx

CFG = EngineConfig(zoom_min=14, zoom_max=16)


@pytest.fixture(scope="module")
def fixture_doc(spark):
    with open(REFERENCE_GPX) as f:
        xml = f.read()
    return spark.createDataFrame(
        [("ref0", [{"kind": "gpx", "text": xml, "media_ref": None, "offset": 0}])],
        SPANS_SCHEMA)


@needs_reference_gpx
def test_raster_vector_roundtrip(spark, fixture_doc):
    """Every source point's stamped pixel must be recoverable from the
    rendered raster, and its inverse-projected center must land within
    one pixel's geographic size of the original coordinates."""
    tiles = render_pyramid(fixture_doc, CFG).tiles
    pixels = tiles_to_pixels(tiles).toPandas()
    points = parse_documents(fixture_doc).toPandas()
    trk = points[points.kind == "trkpt"]

    for z in (14, 15, 16):
        zpix = pixels[pixels.z == z]
        pix_set = set(zip(zpix.tx, zpix.ty, zpix.px, zpix.py))
        lon = trk.lon.to_numpy()
        lat = trk.lat.to_numpy()
        tx = P.lon_to_tilex(lon, z)
        ty = P.lat_to_tiley(lat, z)
        px, py = P.pixel_pos(lon, lat, z, tx, ty)
        for t in zip(tx, ty, px, py):
            assert tuple(int(v) for v in t) in pix_set, (z, t)
        # inverse projection accuracy: pixel-center lat/lon within one
        # pixel's geographic extent of a known source point
        s, w, n, e = P.tile_bbox(tx[:1], ty[:1], z)
        lon_px = float(e[0] - w[0]) / 256
        lat_px = abs(float(n[0] - s[0])) / 256
        sample = zpix[(zpix.tx == tx[0]) & (zpix.ty == ty[0])
                      & (zpix.px == px[0]) & (zpix.py == py[0])].iloc[0]
        assert abs(sample.lon - lon[0]) <= lon_px
        assert abs(sample.lat - lat[0]) <= lat_px


@needs_reference_gpx
def test_fs_tilestore_source_and_truncate(spark, fixture_doc, tmp_path):
    out = str(tmp_path / "pyr")
    render_pyramid(fixture_doc, CFG, out_dir=out)
    df = read_tile_pyramid(spark, out)
    rows = {(r.z, r.tx, r.ty): bytes(r.png) for r in df.collect()}
    assert (16, 34316, 22529) in rows
    assert rows[(16, 34316, 22529)][:8] == b"\x89PNG\r\n\x1a\n"
    # truncate (-I): z dirs removed
    assert remove_tiles(out, 14, 15) == 2
    assert not os.path.exists(os.path.join(out, "14"))
    assert os.path.exists(os.path.join(out, "16"))


def test_fs_store_as_incremental_base(spark, tmp_path):
    """Render batch 1 to a PNG tree, reload it as the store, render batch
    2 over it — equals the one-shot render (the reference's actual
    incremental mode over {z}/{x}/{y}.png)."""
    from gpx2tiles_spark.operators.events import build_events
    from gpx2tiles_spark.operators.raster import rasterize
    from gpx2tiles_spark.pngcodec import decode_png

    cfg = EngineConfig(zoom_min=3, zoom_max=6)
    docs = generate_documents(spark, 8, partitions=2).cache()
    a = docs.filter(F.col("doc_id") < "doc00000004")
    b = docs.filter(F.col("doc_id") >= "doc00000004")
    out = str(tmp_path / "store")
    render_pyramid(a, cfg, out_dir=out)
    store = read_tile_pyramid(spark, out)
    t2 = rasterize(build_events(parse_documents(b), cfg), cfg,
                   store=store.withColumn("point_cnt", F.lit(0)))
    full = {(r.z, r.tx, r.ty): bytes(r.png)
            for r in render_pyramid(docs, cfg).tiles.collect()}
    got = {(r.z, r.tx, r.ty): bytes(r.png) for r in t2.collect()}
    for k in got:  # tiles touched by batch 2 must equal the one-shot render
        assert decode_png(got[k]).tobytes() == decode_png(full[k]).tobytes(), k
