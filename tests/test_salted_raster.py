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


def test_fold_partitions_are_cfg_or_session(spark):
    """The fold shuffle is ``cfg.fold_partitions`` when set and the
    session's shuffle-partition setting otherwise.  No plan walk: a
    materialized small points cache keeps the session value too."""
    from gpx2tiles_spark.operators.raster import _fold_partitions

    cfg = EngineConfig(zoom_min=1, zoom_max=18)
    cfg_o = EngineConfig(zoom_min=1, zoom_max=18, fold_partitions=7)
    docs = generate_documents(spark, 8, partitions=4)
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cold = build_events(parse_documents(docs), cfg)
    assert _fold_partitions(cold) == conf_n
    assert _fold_partitions(cold, cfg) == conf_n

    points = parse_documents(docs).persist()
    try:
        points.count()  # materialized: its stats carry the row count
        ev = build_events(points, cfg)
        assert _fold_partitions(ev, cfg) == conf_n
        assert _fold_partitions(ev, cfg_o) == 7  # the explicit value wins
    finally:
        points.unpersist()


def test_store_batch_fold_sized_from_its_points(spark, tmp_path, monkeypatch):
    """TileStore.apply_batch counts its batch and hands rasterize
    ceil(points × zooms / _FOLD_TARGET_ROWS) fold tasks, capped at the
    session value: a 4-doc × 300-point batch at z1-18 gets 2, not one
    per core (measured: 4 tasks cost a small batch more CPU than 2)."""
    import math

    from gpx2tiles_spark.operators.raster import _FOLD_TARGET_ROWS
    from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list
    from gpx2tiles_spark.streaming import incremental

    paths = []
    for i in range(4):
        pts = "".join(
            f'<trkpt lat="{48.0 + 0.01 * i + 0.0001 * k}" '
            f'lon="{8.0 + 0.0002 * k}">'
            f"<time>2016-06-25T10:{k // 60:02d}:{k % 60:02d}Z</time></trkpt>"
            for k in range(300))
        path = tmp_path / f"t{i}.gpx"
        path.write_text(f"<gpx><trk><trkseg>{pts}</trkseg></trk></gpx>")
        paths.append(str(path))
    docs = read_gpx_file_list(spark, paths)
    cfg = EngineConfig(zoom_min=1, zoom_max=18)
    n = parse_documents(docs).count()
    assert n == 1200

    seen = []
    real = incremental.rasterize

    def spy(events, cfg, **kw):
        seen.append(cfg.fold_partitions)
        return real(events, cfg, **kw)

    monkeypatch.setattr(incremental, "rasterize", spy)
    store = incremental.TileStore(spark, str(tmp_path / "store"))
    assert store.apply_batch("b0", docs, cfg) is not None
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert seen == [min(conf_n, math.ceil(n * 18 / _FOLD_TARGET_ROWS))] == [2]
