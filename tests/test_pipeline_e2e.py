"""End-to-end pipeline tests: reference fixture → exact tile pyramid;
synthetic corpus render; incremental (two-batch) == one-shot equivalence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gpx2tiles_spark.config import EngineConfig
from gpx2tiles_spark.corpus import SPANS_SCHEMA, generate_documents
from gpx2tiles_spark.operators.events import build_events
from gpx2tiles_spark.operators.parse import parse_documents
from gpx2tiles_spark.operators.raster import rasterize
from gpx2tiles_spark.pngcodec import decode_png
from gpx2tiles_spark.plans.pipeline import render_pyramid
from tests.conftest import REFERENCE_GPX, needs_reference_gpx

GOLDEN_TILES = {14: (8579, 5632), 15: (17158, 11264), 16: (34316, 22529),
                17: (68632, 45059), 18: (137264, 90119)}


@pytest.fixture(scope="module")
def fixture_doc(spark):
    with open(REFERENCE_GPX) as f:
        xml = f.read()
    rows = [("ref0", [{"kind": "gpx", "text": xml, "media_ref": None,
                       "offset": 0}])]
    return spark.createDataFrame(rows, SPANS_SCHEMA)


@pytest.fixture(scope="module")
def fixture_tiles(fixture_doc):
    res = render_pyramid(fixture_doc, EngineConfig())
    return {(r.z, r.tx, r.ty): r for r in res.tiles.collect()}


@needs_reference_gpx
def test_fixture_tile_pyramid_exact(fixture_tiles):
    # the 22 m cluster lands in exactly one tile per zoom → 18 tiles
    assert len(fixture_tiles) == 18
    for z, (gx, gy) in GOLDEN_TILES.items():
        assert (z, gx, gy) in fixture_tiles
    # per-tile point counts: 24 trkpts everywhere; +1 wpt only at z>16
    by_z = {z: r for (z, _, _), r in fixture_tiles.items()}
    for z in range(1, 19):
        assert by_z[z].point_cnt == (25 if z > 16 else 24), z


@needs_reference_gpx
def test_fixture_stamped_pixels(fixture_tiles):
    # golden per-point pixels (FIXTURES.md §4.2) must be non-transparent
    r = fixture_tiles[(18, 137264, 90119)]
    img = decode_png(bytes(r.png))
    for px, py in [(78, 137), (84, 106), (64, 110), (73, 137), (76, 156),
                   (84, 132), (79, 142)]:
        assert img[py, px, 3] == 255, (px, py)
    # waypoint circle (d=9 #061a5b at z>16) centered at pixel+1 quirk
    assert tuple(img[142 + 1, 79 + 1, :3]) == (0x06, 0x1A, 0x5B)


@needs_reference_gpx
def test_fixture_line_colors(fixture_tiles):
    # z16: the 13 kph point draws a brown line; network lines suppressed
    r = fixture_tiles[(16, 34316, 22529)]
    img = decode_png(bytes(r.png))
    flat = img[..., :3].reshape(-1, 3)
    lit = flat[img[..., 3].reshape(-1) == 255]
    colors = {tuple(c) for c in lit}
    assert (0xA4, 0x61, 0x00) in colors  # brown segment (gps/3→gps/4)
    # dark red lines from the 1-10 kph points
    assert (0xCF, 0x00, 0x00) in colors
    # no lines below z_no_lines: z6 tile has only point stamps
    r6 = [v for (z, _, _), v in fixture_tiles.items() if z == 6][0]
    img6 = decode_png(bytes(r6.png))
    assert int((img6[..., 3] == 255).sum()) <= 24  # stamps only


def test_corpus_render_and_incremental(spark, tmp_path):
    cfg = EngineConfig(zoom_min=1, zoom_max=10)
    docs = generate_documents(spark, 12, partitions=2).cache()
    full = render_pyramid(docs, cfg).tiles.toPandas().set_index(["z", "tx", "ty"])

    half1 = docs.filter(F.col("doc_id") < "doc00000006")
    half2 = docs.filter(F.col("doc_id") >= "doc00000006")
    t1 = render_pyramid(half1, cfg).tiles
    store = t1.select("z", "tx", "ty", "point_cnt", "png")
    t2 = rasterize(build_events(parse_documents(half2), cfg), cfg, store=store)
    # tiles touched only by batch 1 keep their old content; batch-2 tiles
    # merged over batch-1 canvases must equal the one-shot render
    merged = t2.toPandas().set_index(["z", "tx", "ty"])
    t1p = t1.toPandas().set_index(["z", "tx", "ty"])
    for key in full.index:
        if key in merged.index:
            got = merged.loc[key]
        else:
            got = t1p.loc[key]
        assert int(got.point_cnt) == int(full.loc[key].point_cnt), key
        assert decode_png(bytes(got.png)).tobytes() == \
            decode_png(bytes(full.loc[key].png)).tobytes(), key


@needs_reference_gpx
def test_pyramid_sink(spark, fixture_doc, tmp_path):
    out = str(tmp_path / "tiles")
    render_pyramid(fixture_doc, EngineConfig(zoom_min=14, zoom_max=16),
                   out_dir=out)
    import os
    assert os.path.exists(os.path.join(out, "16", "34316", "22529.png"))
    img = decode_png(open(os.path.join(out, "16", "34316", "22529.png"), "rb").read())
    assert img.shape == (256, 256, 4)
