"""The one run-and-carry loop (``raster.key_runs``) and every fold on it.

Runs are bounded by comparing the key columns themselves, so keys that
would collide in a packed integer stay apart, and a run split across
Arrow batches comes out whole.  The standing test renders with
``spark.sql.execution.arrow.maxRecordsPerBatch`` = 3, so nearly every
run crosses a batch, and compares each user of the helper with the
session default: decoded pixels, point_cnt, n_events, n_docs, and the
kept (user_id, pid) rows."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from gpx2tiles_spark.config import EngineConfig
from gpx2tiles_spark.corpus import generate_documents
from gpx2tiles_spark.operators.events import build_events
from gpx2tiles_spark.operators.parse import parse_documents
from gpx2tiles_spark.operators.raster import (SNAPSHOT_COL, key_runs,
                                              rasterize)
from gpx2tiles_spark.operators.simplify import simplify_tracks
from gpx2tiles_spark.pngcodec import decode_png
from tests.conftest import SF_SMOKE

KEY = ["z", "tx", "ty"]
SALT_KEY = KEY + ["salt"]


def _batch(rows):
    z, tx, ty, salt, v = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [pa.array(z, pa.int32()), pa.array(tx, pa.int32()),
         pa.array(ty, pa.int32()), pa.array(salt, pa.int32()),
         pa.array(v, pa.int64())], ["z", "tx", "ty", "salt", "v"])


def _runs(batches):
    out = []
    for cols, starts, ends in key_runs(batches, SALT_KEY + ["v"], SALT_KEY):
        for s, e in zip(starts, ends):
            out.append((tuple(int(cols[k][s]) for k in SALT_KEY),
                        cols["v"][s:e].tolist()))
    return out


def test_key_runs_compare_columns_not_a_packed_key():
    # z<<48 ^ tx<<28 ^ ty<<8 ^ salt packs (ty=2, salt=256) and
    # (ty=3, salt=0) to the same integer; they are two tiles
    packed = [(2 << 8) ^ 256, (3 << 8) ^ 0]
    assert packed[0] == packed[1]
    a = _batch([(5, 7, 2, 255, 0), (5, 7, 2, 256, 1), (5, 7, 3, 0, 2),
                (5, 7, 3, 0, 3)])
    # the (5, 7, 3, 0) run goes on in the next batch, and the empty
    # batch between them changes nothing
    b = _batch([(5, 7, 3, 0, 4), (5, 7, 3, 1, 5), (6, 0, 0, 0, 6)])
    assert _runs([a, a.slice(0, 0), b]) == [
        ((5, 7, 2, 255), [0]),
        ((5, 7, 2, 256), [1]),
        ((5, 7, 3, 0), [2, 3, 4]),
        ((5, 7, 3, 1), [5]),
        ((6, 0, 0, 0), [6]),
    ]


def test_key_runs_single_row_batches_and_no_input():
    rows = [(1, 0, 0, 0, 0), (1, 0, 0, 0, 1), (1, 0, 1, 0, 2)]
    assert _runs([_batch([r]) for r in rows]) == [
        ((1, 0, 0, 0), [0, 1]), ((1, 0, 1, 0), [2])]
    assert _runs([]) == []


@pytest.fixture(scope="module")
def points(spark):
    pts = parse_documents(generate_documents(spark, 9, partitions=3)).persist()
    yield pts
    pts.unpersist()


def _events(points, cfg, lo, hi):
    d = F.col("doc_id")
    return build_events(points.filter((d >= f"doc{lo:08d}")
                                      & (d < f"doc{hi:08d}")), cfg)


def _tiles(df) -> dict:
    return {(r.z, r.tx, r.ty): (r.point_cnt, r.n_events, r.n_docs,
                                decode_png(bytes(r.png)).tobytes())
            for r in df.collect()}


def _with_tiny_batches(spark, fn):
    """``fn()`` at the session's Arrow batch size, then at 3 rows per
    batch; the setting is restored either way."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    want = fn()
    try:
        spark.conf.set(conf, "3")
        got = fn()
    finally:
        spark.conf.set(conf, old)
    return got, want


def _two_snapshot_store(points, cfg):
    s0 = rasterize(_events(points, cfg, 0, 4), cfg) \
        .select(*KEY, "point_cnt", "png")
    s1 = rasterize(_events(points, cfg, 2, 6), cfg, store=s0) \
        .select(*KEY, "point_cnt", "png")
    return (s0.withColumn(SNAPSHOT_COL, F.lit(0))
            .unionByName(s1.withColumn(SNAPSHOT_COL, F.lit(1)))).persist()


@pytest.mark.parametrize("with_store", [False, True], ids=["fresh", "store"])
@pytest.mark.parametrize("kw", [
    dict(zoom_min=1, zoom_max=8),
    # heatmap: hit-count fold below the z15 split, speed-style fold above
    dict(zoom_min=12, zoom_max=16, heatmap=True),
    dict(zoom_min=1, zoom_max=6, salt_buckets=4, hot_tile_threshold=50,
         hot_detect_fraction=1.0),
], ids=["speed", "heatmap", "salted"])
def test_folds_equal_when_runs_cross_arrow_batches(spark, points, kw,
                                                   with_store):
    cfg = EngineConfig(**kw)
    store = _two_snapshot_store(points, cfg) if with_store else None
    try:
        ev = _events(points, cfg, 3, 9)
        got, want = _with_tiny_batches(
            spark, lambda: _tiles(rasterize(ev, cfg, store=store)))
        assert got == want
        assert max(v[1] for v in want.values()) > 3, "no run crosses a batch"
    finally:
        if store is not None:
            store.unpersist()


def test_simplify_equal_when_tracks_cross_arrow_batches(spark):
    from gpx2tiles_spark.operators.geo import derived_points

    pts = derived_points(
        spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))).persist()
    try:
        got, want = _with_tiny_batches(spark, lambda: sorted(
            tuple(r) for r in simplify_tracks(pts, 20.0).collect()))
        assert got == want
        assert len(want) < pts.count()
    finally:
        pts.unpersist()
