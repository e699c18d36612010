"""Trajectory-mining family (operators/trajectory.py): stay points,
OD flows, co-visitation, exact decayed tile counters, span context —
each checked against an independent naive Python reference, plus the
contracts that make them scale (bucket cap, integer-exact decay)."""
from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE, STATEFUL_ROWS


def _tile(lon, lat, z):
    n = 2.0 ** z
    tx = int(math.floor((lon + 180.0) / 360.0 * n))
    la = math.radians(lat)
    ty = int(math.floor((1.0 - math.log(math.tan(la) + 1.0 / math.cos(la))
                         / math.pi) / 2.0 * n))
    return tx, ty


def _mk_points(spark, rows):
    """rows: (pid, user_id, epoch_sec, lon, lat)."""
    data = [(p, u, dt.datetime.utcfromtimestamp(e), float(lo), float(la), 0.0)
            for p, u, e, lo, la in rows]
    return spark.createDataFrame(
        data, "pid long, user_id long, ts timestamp, lon double, "
              "lat double, kph double")


def test_dwell_islands_matches_naive(spark):
    from gpx2tiles_spark.operators.trajectory import dwell_islands

    # two docs: doc0 dwells 5 fixes in one z14 tile, hops, dwells 4 more;
    # doc1 never repeats a tile.
    rows = []
    for i in range(5):
        rows.append(("d0", 0, i, 48.00001 + i * 1e-6, 8.00001 + i * 1e-6))
    for i in range(3):
        rows.append(("d0", 1, i, 48.5 + i * 0.3, 9.0 + i * 0.3))
    for i in range(4):
        rows.append(("d0", 1, 3 + i, 50.00001 + i * 1e-6, 10.00001))
    for i in range(6):
        rows.append(("d1", 0, i, -30.0 + i, 20.0 + i))
    df = spark.createDataFrame(
        [(d, s, p, la, lo) for d, s, p, la, lo in rows],
        "doc_id string, seg_order int, pt_idx int, lat double, lon double")
    got = {(r.doc_id, r.island): (r.tx, r.ty, r.n_fixes)
           for r in dwell_islands(df, zoom=14, min_fixes=4).collect()}

    # naive islands
    ref = {}
    for doc in ("d0", "d1"):
        seq = [r for r in rows if r[0] == doc]
        seq.sort(key=lambda r: (r[1], r[2]))
        isl, prev = 0, None
        counts = {}
        for _, _, _, la, lo in seq:
            t = _tile(lo, la, 14)
            if t != prev:
                isl += 1
                prev = t
            counts.setdefault((doc, isl), [t, 0])[1] += 1
        for k, (t, n) in counts.items():
            if n >= 4:
                ref[k] = (t[0], t[1], n)
    assert got == ref
    assert len(got) == 2  # the two deliberate dwells


def test_od_matrix_matches_naive(spark):
    from gpx2tiles_spark.operators.trajectory import od_matrix

    # user 1: one session A->B, then (gap > 30min) session C->C (1 fix);
    # user 2: one session B->A.
    a, b, c = (8.0, 48.0), (13.4, 52.5), (-74.0, 40.7)
    rows = [
        (1, 1, 1000, *a), (2, 1, 1060, 8.01, 48.01), (3, 1, 1120, *b),
        (4, 1, 1120 + 1801, *c),
        (5, 2, 500, *b), (6, 2, 700, *a),
    ]
    got = {(r.o_tx, r.o_ty, r.d_tx, r.d_ty): (r.n_trips, r.n_users)
           for r in od_matrix(_mk_points(spark, rows), zoom=8,
                              gap_minutes=30).collect()}
    ta, tb, tc = _tile(*a, 8), _tile(*b, 8), _tile(*c, 8)
    assert got == {
        (*ta, *tb): (1, 1),
        (*tc, *tc): (1, 1),
        (*tb, *ta): (1, 1),
    }


def test_co_visit_cap_drops_hot_bucket(spark):
    from gpx2tiles_spark.operators.trajectory import co_visit_pairs

    # bucket X: 3 users on day 0 AND day 1 (pairs share 2 buckets);
    # bucket Y: 50 users (over cap 32) -> contributes nothing.
    rows = []
    pid = 0
    for day in (0, 1):
        for u in (1, 2, 3):
            pid += 1
            rows.append((pid, u, day * 86400 + 100, 8.0, 48.0))
    for u in range(100, 150):
        pid += 1
        rows.append((pid, u, 100, -74.0, 40.7))
    got = {(r.ua, r.ub): r.n_shared
           for r in co_visit_pairs(_mk_points(spark, rows), zoom=7,
                                   max_users=32, min_shared=2).collect()}
    assert got == {(1, 2): 2, (1, 3): 2, (2, 3): 2}

    # raising the cap exposes the hot bucket's pairs (min_shared=1)
    loose = co_visit_pairs(_mk_points(spark, rows), zoom=7,
                           max_users=64, min_shared=1)
    assert loose.count() == 3 + 50 * 49 // 2


def test_tile_decay_exact_integer_weights(spark):
    from gpx2tiles_spark.operators.trajectory import tile_decay

    # one tile: 3 hits on the newest day, 2 hits 1 day older, 1 hit
    # beyond the horizon (weight 0).
    h = 5
    rows = [(1, 1, 10 * 86400 + 1, 8.0, 48.0),
            (2, 1, 10 * 86400 + 2, 8.0, 48.0),
            (3, 2, 10 * 86400 + 3, 8.0, 48.0),
            (4, 1, 9 * 86400 + 1, 8.0, 48.0),
            (5, 2, 9 * 86400 + 2, 8.0, 48.0),
            (6, 1, 4 * 86400 + 1, 8.0, 48.0)]
    out = tile_decay(_mk_points(spark, rows), zoom=6,
                     horizon_days=h).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_days, r.n_points) == (3, 6)
    assert r.decayed_x2h == 3 * 2 ** h + 2 * 2 ** (h - 1) + 0


def test_tile_decay_merge_associativity(spark):
    """The decayed counter must be mergeable (resumable partial aggs):
    decay(A ∪ B) == decay(A) + decay(B) per tile when both halves share
    the max day — the property a 10^12-row partial aggregation relies
    on, and exactly what float EWMA weights would break."""
    from gpx2tiles_spark.operators.trajectory import tile_decay

    rows = [(i, i % 3, (7 + i % 4) * 86400 + i, 8.0 + (i % 2) * 10, 48.0)
            for i in range(40)]
    rows += [(100, 9, 10 * 86400 + 50, 8.0, 48.0),
             (101, 9, 10 * 86400 + 60, 18.0, 48.0)]  # pin max day in both
    whole = {(r.tx, r.ty): r.decayed_x2h
             for r in tile_decay(_mk_points(spark, rows), zoom=6,
                                 horizon_days=29).collect()}
    ha = [r for r in rows[:-2] if r[0] % 2 == 0] + [rows[-2], rows[-1]]
    hb = [r for r in rows[:-2] if r[0] % 2 == 1] + [rows[-2], rows[-1]]
    da = {(r.tx, r.ty): r.decayed_x2h
          for r in tile_decay(_mk_points(spark, ha), zoom=6,
                              horizon_days=29).collect()}
    db = {(r.tx, r.ty): r.decayed_x2h
          for r in tile_decay(_mk_points(spark, hb), zoom=6,
                              horizon_days=29).collect()}
    dup = {(r.tx, r.ty): r.decayed_x2h
           for r in tile_decay(_mk_points(spark, [rows[-2], rows[-1]]),
                               zoom=6, horizon_days=29).collect()}
    for t, v in whole.items():
        assert da.get(t, 0) + db.get(t, 0) - dup.get(t, 0) == v


def test_span_media_context_order(spark):
    """Media spans must bind to the nearest PRECEDING text span — the
    span-sequence invariant is what makes the association well-defined."""
    from gpx2tiles_spark.operators.parse import explode_spans
    from pyspark.sql import Window

    docs = spark.createDataFrame(
        [("d", [("text", "t0", None, 0), ("media", None, "m0", 2),
                ("gpx", "<gpx/>", None, 18), ("text", "t1", None, 24),
                ("media", None, "m1", 26), ("media", None, "m2", 42)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    sp = explode_spans(docs)
    w = Window.partitionBy("doc_id").orderBy("span_idx") \
        .rowsBetween(Window.unboundedPreceding, -1)
    ctx = F.last(F.when(F.col("kind") == "text", F.col("text")),
                 ignorenulls=True).over(w)
    got = {r.media_ref: r.ctx for r in
           sp.withColumn("ctx", ctx).filter(F.col("kind") == "media")
           .select("media_ref", "ctx").collect()}
    assert got == {"m0": "t0", "m1": "t1", "m2": "t1"}


def test_trajectory_partitioning_independence(spark):
    """Same answers at 1 and 13 input partitions (shuffle-grain proof)."""
    from gpx2tiles_spark.operators.trajectory import co_visit_pairs, od_matrix

    rows = [(i, i % 7, 86400 * (i % 5) + i * 37, float((i % 5) * 10),
             float((i % 4) * 10)) for i in range(300)]
    base = _mk_points(spark, rows)
    for fn in (lambda d: od_matrix(d, zoom=8, gap_minutes=30),
               lambda d: co_visit_pairs(d, zoom=7, max_users=32,
                                        min_shared=2)):
        one = sorted(map(tuple, fn(base.coalesce(1)).collect()))
        many = sorted(map(tuple, fn(base.repartition(13)).collect()))
        assert one == many and one


def test_map_match_matches_naive(spark):
    from gpx2tiles_spark.operators.geo import map_match, road_segments

    sup = spark.createDataFrame([(i,) for i in range(1, 40)],
                                "s_suppkey long")
    segs = {r.seg_id: (r.x1, r.y1, r.x2, r.y2)
            for r in road_segments(sup).collect()}
    rows = [(i, 0, 0, segs[1 + i % 39][0] + 0.03 * (i % 5),
             segs[1 + i % 39][1] + 0.02) for i in range(60)]
    pts = _mk_points(spark, rows)
    got = {r.pid: (r.seg_id, r.t_micro)
           for r in map_match(pts, road_segments(sup), zoom=7).collect()}

    def cell(lon, lat):
        return _tile(lon, lat, 7)

    ref = {}
    for pid, _, _, lon, lat in rows:
        best = None
        for sid, (x1, y1, x2, y2) in segs.items():
            mc = cell((x1 + x2) / 2.0, (y1 + y2) / 2.0)
            pc = cell(lon, lat)
            if abs(mc[0] - pc[0]) > 1 or abs(mc[1] - pc[1]) > 1:
                continue  # outside the 3x3 candidate ring
            dx, dy = x2 - x1, y2 - y1
            l2 = dx * dx + dy * dy
            t = min(1.0, max(0.0, ((lon - x1) * dx + (lat - y1) * dy) / l2)) \
                if l2 > 0 else 0.0
            d2 = (lon - (x1 + t * dx)) ** 2 + (lat - (y1 + t * dy)) ** 2
            if best is None or (d2, sid) < best[:2]:
                best = (d2, sid, t)
        if best is not None:
            ref[pid] = (best[1], math.floor(best[2] * 1e6))
    assert got == ref and got


def test_map_match_broadcasts_dim_side(spark):
    """The fact (points) side must never shuffle: the replicated segment
    dim broadcasts and the nearest-pick window is the only exchange."""
    from gpx2tiles_spark.operators.geo import map_match, road_segments

    pts = _mk_points(spark, [(i, 0, 0, 8.0 + i * 0.01, 48.0)
                             for i in range(100)])
    sup = spark.createDataFrame([(i,) for i in range(1, 20)],
                                "s_suppkey long")
    plan = map_match(pts, road_segments(sup), zoom=7) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_layout_prunes_files(spark, tmp_path):
    """The 100 TB data-layout story, measured: points written in quadkey
    (Morton) order pack each parquet file into a contiguous key range,
    so a small tile-range predicate touches ~1 file; the same rows
    hash-scattered put matching rows in EVERY file.  (input_file_name
    counts files contributing rows — min/max row-group stats skip the
    rest of a clustered layout at scan time.)"""
    from gpx2tiles_spark import projection as P

    n = 20000
    df = spark.range(n).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 37 % 3600).cast("double") / 10.0 - 179.95).alias("lon"),
        ((F.col("id") * 11 % 1400).cast("double") / 10.0 - 69.95).alias("lat"))
    keyed = df.select(
        "pid", "lon", "lat",
        P.tilex_col(F.col("lon"), 8).alias("tx"),
        P.tiley_col(F.col("lat"), 8).alias("ty")) \
        .withColumn("zkey", P.quadkey_col(F.col("tx"), F.col("ty"), 8))

    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    keyed.repartitionByRange(16, "zkey").sortWithinPartitions("zkey") \
        .write.parquet(clustered)
    keyed.repartition(16).write.parquet(scattered)

    pred = "tx BETWEEN 100 AND 104 AND ty BETWEEN 120 AND 124"
    touched = {}
    hits = {}
    for name, path in (("clustered", clustered), ("scattered", scattered)):
        got = spark.read.parquet(path).filter(pred) \
            .select(F.input_file_name().alias("f"), "pid")
        touched[name] = got.select("f").distinct().count()
        hits[name] = got.count()
    assert hits["clustered"] == hits["scattered"] > 0
    assert touched["clustered"] <= 2
    assert touched["scattered"] >= 4 * touched["clustered"]
    # and the predicate actually reaches the scan
    plan = spark.read.parquet(clustered).filter(pred) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "IsNotNull(tx)" in plan


def test_geofence_transitions_matches_naive(spark):
    from gpx2tiles_spark.operators.geo import region_rects
    from gpx2tiles_spark.operators.trajectory import geofence_transitions

    regions = spark.createDataFrame(
        [(k, f"R{k}") for k in range(5)], "r_regionkey long, r_name string")
    rects = region_rects(regions)
    rect_list = [(r.region_id, r.lat_min, r.lat_max, r.lon_min, r.lon_max)
                 for r in rects.collect()]

    # user 1 walks: outside -> region0 -> region0 -> outside -> region1
    rows = [
        (1, 1, 100, 0.0, 80.0),        # outside (lat 80 beyond all rects)
        (2, 1, 200, -169.0, -64.0),    # region 0
        (3, 1, 300, -168.0, -50.0),    # region 0 still
        (4, 1, 400, 0.0, 80.0),        # outside -> exit
        (5, 1, 500, -105.0, -30.0),    # region 1 -> enter
    ]
    got = sorted((r.user_id, r.pid, r.from_region, r.to_region, r.kind)
                 for r in geofence_transitions(
                     _mk_points(spark, rows), rects).collect())

    def region_of(lon, lat):
        for rid, la0, la1, lo0, lo1 in rect_list:
            if la0 <= lat < la1 and lo0 <= lon < lo1:
                return rid
        return -1

    ref, prev = [], None
    for pid, uid, _, lon, lat in rows:
        cur = region_of(lon, lat)
        if prev is not None and prev != cur:
            kind = ("enter" if prev == -1 else
                    "exit" if cur == -1 else "switch")
            ref.append((uid, pid, prev, cur, kind))
        prev = cur
    assert got == sorted(ref) and len(got) == 3


def test_tile_concurrency_sweep(spark):
    from gpx2tiles_spark.operators.trajectory import tile_concurrency

    # tile A: u1 [100,300], u2 [200,400], u3 [500,600] -> peak 2;
    # touching intervals count as concurrent: u4 [601, 650] overlaps
    # u3's end+1 rule? u3 ends 600, +1 -> 601; start 601 sorts BEFORE
    # the end event (delta DESC), so peak sees both.
    rows = [
        (1, 1, 100, 8.0, 48.0), (2, 1, 300, 8.0, 48.0),
        (3, 2, 200, 8.0, 48.0), (4, 2, 400, 8.0, 48.0),
        (5, 3, 500, 8.0, 48.0), (6, 3, 600, 8.0, 48.0),
        (7, 4, 601, 8.0, 48.0), (8, 4, 650, 8.0, 48.0),
    ]
    out = tile_concurrency(_mk_points(spark, rows), zoom=6).collect()
    assert len(out) == 1
    assert (out[0].n_users, out[0].peak_concurrency) == (4, 2)

    # disjoint users in one tile -> peak 1
    rows2 = [(1, 1, 100, 8.0, 48.0), (2, 2, 5000, 8.0, 48.0)]
    out2 = tile_concurrency(_mk_points(spark, rows2), zoom=6).collect()
    assert (out2[0].n_users, out2[0].peak_concurrency) == (2, 1)


def test_store_diff_equals_second_batch(spark, tmp_path):
    """Snapshot diff = the stamp pyramid of the batches between the two
    snapshots (additive counters); tiles only batch 1 touched must not
    appear, tiles both touched carry only batch 2's contribution."""
    from gpx2tiles_spark.config import EngineConfig
    from gpx2tiles_spark.corpus import generate_documents
    from gpx2tiles_spark.streaming.incremental import TileStore

    cfg = EngineConfig(zoom_min=1, zoom_max=5)
    docs = generate_documents(spark, 12)
    b0 = docs.filter(F.col("doc_id") < "doc00000006")
    b1 = docs.filter(F.col("doc_id") >= "doc00000006")
    store = TileStore(spark, str(tmp_path / "store"))
    e1 = store.apply_batch("b0", b0, cfg)
    store.apply_batch("b1", b1, cfg)
    got = {(r.z, r.tx, r.ty): r.delta
           for r in store.diff(e1["id"]).collect()}

    # independent expectation: render batch 2 alone at the same zooms
    store2 = TileStore(spark, str(tmp_path / "store2"))
    store2.apply_batch("only_b1", b1, cfg)
    want = {(r.z, r.tx, r.ty): r.point_cnt
            for r in store2.current()
            .select("z", "tx", "ty", "point_cnt").collect()}
    assert got == want and got
    # self-diff is empty
    last = max(s["id"] for s in store.manifest()["snapshots"])
    assert store.diff(last, last).count() == 0


@pytest.mark.parametrize("name", STATEFUL_ROWS)
def test_store_rows_survive_reinvocation(spark, name):
    """The sf1-sweep failure mode: a timing harness invokes a row
    TWICE; the first invocation's DataFrame must stay collectable, with
    the same rows, after the second rebuilds its state (versioned store
    dirs, an oracle cache written once, memory sinks held by the
    DataFrame — a rebuilt path would leave attempt 1's plan pointing
    at deleted files).  The re-collect goes through a new plan
    (``select("*")``): collecting the same DataFrame object again would
    reuse its materialized shuffle outputs instead of re-reading its
    inputs."""
    from gpx2tiles_spark.queries import _REGISTRY

    first = _REGISTRY[name][0](spark, SF_SMOKE)
    rows1 = sorted(map(tuple, first.collect()))
    second = _REGISTRY[name][0](spark, SF_SMOKE)
    rows2 = sorted(map(tuple, second.collect()))
    again = sorted(map(tuple, first.select("*").collect()))
    assert again == rows1 == rows2


def test_od_travel_time_disc_median(spark):
    from gpx2tiles_spark.operators.trajectory import od_travel_time

    # one pair, 5 single-session trips of durations 10,20,30,40,50 by
    # five users (each a separate session at the same O/D cells)
    rows = []
    pid = 0
    for u, dur in enumerate([10, 20, 30, 40, 50], start=1):
        base = u * 100000
        pid += 1
        rows.append((pid, u, base, 8.0, 48.0))
        pid += 1
        rows.append((pid, u, base + dur, 13.4, 52.5))
    out = od_travel_time(_mk_points(spark, rows), zoom=6,
                         gap_minutes=30, min_trips=3).collect()
    assert len(out) == 1
    r = out[0]
    # DISC: p50 = rank ceil(0.5*5)=3 -> 30; p90 = rank ceil(0.9*5)=5 -> 50
    assert (r.n_trips, r.p50_sec, r.p90_sec) == (5, 30, 50)

    # below min_trips -> dropped
    out2 = od_travel_time(_mk_points(spark, rows[:4]), zoom=6,
                          gap_minutes=30, min_trips=3).collect()
    assert out2 == []


def test_user_home_cell_mode_and_tie(spark):
    from gpx2tiles_spark.queries import _REGISTRY  # noqa: F401
    from gpx2tiles_spark.operators.tiles import with_tile
    from pyspark.sql import Window

    # user 1: 3 fixes in cell A, 2 in B -> home A; user 2: 2 and 2 ->
    # deterministic tie on (tx, ty)
    rows = [(1, 1, 100, 8.0, 48.0), (2, 1, 200, 8.0, 48.0),
            (3, 1, 300, 8.0, 48.0), (4, 1, 400, 13.4, 52.5),
            (5, 1, 500, 13.4, 52.5),
            (6, 2, 100, 8.0, 48.0), (7, 2, 200, 8.0, 48.0),
            (8, 2, 300, -74.0, 40.7), (9, 2, 400, -74.0, 40.7)]
    pts = with_tile(_mk_points(spark, rows), z=7)
    c = pts.groupBy("user_id", "tx", "ty").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "tx", "ty")
    got = {r.user_id: (r.tx, r.ty, r.n) for r in
           c.withColumn("rnk", F.row_number().over(w))
           .filter("rnk = 1").collect()}
    ta, tb, tc = _tile(8.0, 48.0, 7), _tile(13.4, 52.5, 7), _tile(-74.0, 40.7, 7)
    assert got[1] == (*ta, 3)
    assert got[2] == (*min(ta, tc), 2)  # tie broken by (tx, ty) asc


def test_tile_day_retention_counts(spark):
    from gpx2tiles_spark.queries import _REGISTRY
    import duckdb

    # 6 users in one z6 cell on day 0; users 1-3 return on day 1
    rows = []
    pid = 0
    for u in range(1, 7):
        pid += 1
        rows.append((pid, u, 100 + u, 8.0, 48.0))
    for u in range(1, 4):
        pid += 1
        rows.append((pid, u, 86400 + 100 + u, 8.0, 48.0))
    df = _mk_points(spark, rows)
    from gpx2tiles_spark.operators.tiles import with_tile
    posts = with_tile(df, z=6).select(
        "user_id", "tx", "ty",
        F.floor(F.col("ts").cast("timestamp").cast("long") / F.lit(86400))
        .cast("long").alias("day")).distinct()
    b = posts.select("tx", "ty", "user_id",
                     (F.col("day") - 1).alias("day"), F.lit(1).alias("hit"))
    j = posts.join(b, ["tx", "ty", "user_id", "day"], "left")
    out = {(r.tx, r.ty, r.day): (r.n_users, r.n_retained) for r in
           j.groupBy("tx", "ty", "day")
           .agg(F.count("*").alias("n_users"),
                F.sum(F.coalesce("hit", F.lit(0))).alias("n_retained"))
           .filter("n_users >= 5").collect()}
    t = _tile(8.0, 48.0, 6)
    assert out == {(t[0], t[1], 0): (6, 3)}
