from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")
REFERENCE_GPX = "/root/reference/test-with-network-gps-source.gpx"
# registry rows whose results read state the row itself set up: a
# memory-sink stream, store files, or the oracle cache's parquet
STATEFUL_ROWS = [
    "streaming_sessionize", "streaming_windowed_counts",
    "streaming_hll_census", "streaming_dedup", "streaming_interval_join",
    "streaming_cms", "streaming_geofence",
    "streaming_gpx_arrival", "store_as_of", "incremental_store",
    "store_diff", "census_mtf_order",
    "render_tiles", "render_heatmap", "raster_vector_roundtrip",
]
# the reference repository's own test track; tests that read it skip
# where that checkout is absent
needs_reference_gpx = pytest.mark.skipif(
    not os.path.exists(REFERENCE_GPX),
    reason=f"reference fixture {REFERENCE_GPX} is not present")


@pytest.fixture(scope="session")
def spark():
    from gpx2tiles_spark.session import get_spark

    s = get_spark(app="gpx2tiles_spark-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def assert_same_multiset(a, b) -> None:
    """Two DataFrames hold the same rows, duplicates counted: exceptAll
    is empty both ways."""
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def render_tiles(documents, cfg, store=None):
    """The tiles render_pyramid would write, as a DataFrame (z, tx, ty,
    point_cnt, n_events, n_docs, png)."""
    from gpx2tiles_spark.operators.events import build_events
    from gpx2tiles_spark.operators.parse import parse_documents
    from gpx2tiles_spark.operators.raster import rasterize

    return rasterize(build_events(parse_documents(documents), cfg), cfg, store)
