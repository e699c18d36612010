"""Salted two-phase render must equal the unsalted painter fold exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from gpx2tiles_spark.config import EngineConfig
from gpx2tiles_spark.corpus import generate_documents
from gpx2tiles_spark.operators.events import build_events
from gpx2tiles_spark.operators.parse import parse_documents
from gpx2tiles_spark.operators.raster import rasterize, rasterize_salted
from gpx2tiles_spark.pngcodec import decode_png


def test_salted_equals_unsalted(spark):
    # hotspot corpus → the same z1-z8 tiles get most events; tiny threshold
    # forces nearly every tile through the salted path
    cfg_plain = EngineConfig(zoom_min=1, zoom_max=8)
    cfg_salt = EngineConfig(zoom_min=1, zoom_max=8, salt_buckets=4,
                            hot_tile_threshold=10, hot_detect_fraction=1.0)
    docs = generate_documents(spark, 16, partitions=4).cache()
    ev = build_events(parse_documents(docs), cfg_plain).persist()

    plain = {(r.z, r.tx, r.ty): r for r in rasterize(ev, cfg_plain).collect()}
    salted = {(r.z, r.tx, r.ty): r for r in rasterize_salted(ev, cfg_salt).collect()}

    assert set(plain) == set(salted)
    n_multi = 0
    for k in plain:
        assert salted[k].point_cnt == plain[k].point_cnt, k
        assert salted[k].n_events == plain[k].n_events, k
        assert decode_png(bytes(salted[k].png)).tobytes() == \
            decode_png(bytes(plain[k].png)).tobytes(), k
        if salted[k].n_docs > 1:
            n_multi += 1
    assert n_multi > 0  # the test actually exercised multi-doc merges
    ev.unpersist()


def test_salted_planning_skips_full_count_pass(spark, monkeypatch):
    """Round 4: building the salted plan makes exactly TWO passes over
    the event relation — hot-tile detection (whose rollup grand-total
    row carries the count estimate in the same pass) and boundary
    sampling.  r03 paid a third full pass (events.count()) just to size
    the Bernoulli fraction; assert count() is never called during
    planning, plus a job bound (detect collect = 2 AQE stage jobs,
    sample collect = 1)."""
    from pyspark.sql import DataFrame

    cfg = EngineConfig(zoom_min=1, zoom_max=8, salt_buckets=4,
                       hot_tile_threshold=10, hot_detect_fraction=1.0)
    docs = generate_documents(spark, 16, partitions=4).cache()
    ev = build_events(parse_documents(docs), cfg).persist()
    ev.count()

    calls = []
    real_count = DataFrame.count
    monkeypatch.setattr(DataFrame, "count",
                        lambda self: calls.append(1) or real_count(self))
    sc = spark.sparkContext
    group = "salt-planning-probe"
    sc.setJobGroup(group, "salt planning", False)
    try:
        df = rasterize_salted(ev, cfg)  # lazy result; eager planning jobs
    finally:
        sc.setJobGroup(None, None, False)
    assert not calls, "planning ran DataFrame.count() — extra full pass"
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, f"expected ≤3 planning jobs, saw {len(jobs)}"
    assert df.schema is not None  # plan built, fold not yet run
    ev.unpersist()
    docs.unpersist()


def test_fold_partitions_derive_from_cached_points(spark):
    """When the event relation sits on a MATERIALIZED points cache, the
    fold shuffle is sized from row volume (×zoom fan-out, ~20k rows per
    task) floored at defaultParallelism and capped at the session
    shuffle-partition setting; with no cache visible, or a cache beside
    an uncached scan, it keeps the session setting unchanged."""
    import math

    from gpx2tiles_spark.operators.raster import (_FOLD_TARGET_ROWS,
                                                  _cached_rowcount_estimate,
                                                  _fold_partitions)

    cfg = EngineConfig(zoom_min=1, zoom_max=18)
    docs = generate_documents(spark, 8, partitions=4)
    cold = build_events(parse_documents(docs), cfg)
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _cached_rowcount_estimate(cold) is None
    assert _fold_partitions(cold, cfg) == conf_n

    points = parse_documents(docs).persist()
    try:
        n = points.count()  # materialize → stats carry the row count
        ev = build_events(points, cfg)
        assert _cached_rowcount_estimate(ev) == n
        expect = max(
            1, min(conf_n,
                   max(spark.sparkContext.defaultParallelism,
                       math.ceil(n * len(cfg.zooms()) / _FOLD_TARGET_ROWS))))
        assert _fold_partitions(ev, cfg) == expect
        # the explicit override still wins
        cfg_o = EngineConfig(zoom_min=1, zoom_max=18, fold_partitions=7)
        assert _fold_partitions(ev, cfg_o) == 7
    finally:
        points.unpersist()

    # a small materialized cache joined into an uncached event plan says
    # nothing of the event volume: the session value stands
    small = spark.createDataFrame([("doc00000001",)], "doc_id string").persist()
    try:
        small.count()
        joined = cold.join(small, "doc_id")
        assert _cached_rowcount_estimate(joined) is None
        assert _fold_partitions(joined, cfg) == conf_n
    finally:
        small.unpersist()
