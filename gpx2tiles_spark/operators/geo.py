"""Geo derivations over the driver testdata + point-in-polygon join.

``derived_points`` turns the `events` table into a deterministic GPS
point stream (pure integer/double arithmetic — bit-identical in any
engine, which the DuckDB oracle comparison requires).  The SQL text of
the same derivation lives in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import projection as P

# lat in (-69.95, 69.95], lon in (-179.95, 179.95] — off tile boundaries
LON_EXPR = "(CAST(event_id % 3600 AS DOUBLE) / 10.0) - 179.95"
LAT_EXPR = "(CAST((event_id * 7 + user_id) % 1400 AS DOUBLE) / 10.0) - 69.95"


def derived_points(events: DataFrame) -> DataFrame:
    return events.select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts"),
        F.expr(LON_EXPR).alias("lon"),
        F.expr(LAT_EXPR).alias("lat"),
        F.col("value").alias("kph"),
    )


def region_rects(regions: DataFrame) -> DataFrame:
    """Deterministic lat/lon rectangle per region row (broadcast dim)."""
    k = F.col("r_regionkey").cast("double")
    return regions.select(
        F.col("r_regionkey").alias("region_id"),
        F.col("r_name").alias("region_name"),
        (k * 25.0 - 65.0).alias("lat_min"),
        (k * 25.0 - 40.0).alias("lat_max"),
        (k * 60.0 - 170.0).alias("lon_min"),
        (k * 60.0 - 115.0).alias("lon_max"),
    )


def points_in_rects(points: DataFrame, rects: DataFrame) -> DataFrame:
    """Point-in-polygon (axis-aligned rect) join: broadcast the dim side,
    containment as a theta-join predicate — Catalyst turns it into a
    BroadcastNestedLoopJoin; at 10^12 points the dim stays tiny so this
    is a map-side test with zero shuffle of the fact table."""
    p, r = points.alias("p"), rects.alias("r")
    return p.join(
        F.broadcast(r),
        (F.col("p.lat") >= F.col("r.lat_min")) & (F.col("p.lat") < F.col("r.lat_max"))
        & (F.col("p.lon") >= F.col("r.lon_min")) & (F.col("p.lon") < F.col("r.lon_max")),
        "inner",
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: lag-gap cumsum per user (reference-free utility op)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.col("ts").cast("timestamp").cast("double")  # NTZ → epoch (UTC session)
    gap = es - F.lag(es).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    df = events.withColumn("new_sess", new_sess)
    df = df.withColumn("session_id", F.sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    return df


def asof_join(events: DataFrame, alerts: DataFrame,
              key: str = "user_id", seq: str = "event_id",
              alert_seq: str = "aeid") -> DataFrame:
    """AS-OF JOIN (the brief's named custom operator): each event is
    matched to the LATEST alert at-or-before it in sequence order, per
    key — last-observation-carried-forward, the temporal join Spark
    has no builtin for.

    Implemented WITHOUT any join: alerts and events union into one
    tagged stream, and ONE window pass per key carries the last
    non-null alert id forward (`last(..., ignorenulls=True)` over
    (seq, alert-first) order, alert rows sorting before the event at
    the same sequence value so an event matches an alert AT its own
    position — the >= convention).  That is a single shuffle keyed on
    `key`, O(1) state per row — the shape that survives 10^12 events
    (a time-bucketed variant with per-bucket seed carry removes even
    the per-key window length bound; a hub key is the skew channel —
    pre-split it by range if one emerges).  Events before any alert
    are dropped (inner as-of).

    The oracle runs DuckDB's NATIVE ``ASOF JOIN`` — a different
    algorithm entirely (sort-merge with binary search), so the hash
    match checks the semantics, not a mirrored plan."""
    tagged = (events.select(
                  F.col(key).alias("k"), F.col(seq).alias("s"),
                  F.lit(0).alias("is_alert"),
                  F.lit(None).cast("long").alias("a_seq"))
              .unionByName(alerts.select(
                  F.col(key).alias("k"),
                  F.col(alert_seq).cast("long").alias("s"),
                  F.lit(1).alias("is_alert"),
                  F.col(alert_seq).cast("long").alias("a_seq"))))
    w = (Window.partitionBy("k")
         .orderBy(F.col("s"), F.col("is_alert").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    return (tagged
            .withColumn("m", F.last("a_seq", ignorenulls=True).over(w))
            .filter((F.col("is_alert") == 0) & F.col("m").isNotNull())
            .select(F.col("s").alias(seq), F.col("k").alias(key),
                    F.col("m").alias(alert_seq),
                    (F.col("s") - F.col("m")).alias("gap")))


def range_join_buckets(facts: DataFrame, intervals: DataFrame,
                       value_col: str = "value",
                       lo_col: str = "lo", hi_col: str = "hi",
                       bucket_width: float = 20.0) -> DataFrame:
    """RANGE JOIN (the brief's second named custom operator): match
    each fact row to every interval containing its value — as a
    BUCKETED EQUI-JOIN, never a theta join.

    Each interval explodes to the integer buckets it covers
    (floor(lo/w) … floor(hi/w) — with w ≥ the widest interval that is
    ≤ 2 rows per interval); facts compute their single bucket; the
    join is a plain equi-join on the bucket with the range predicate
    as a residual filter.  A fact has exactly ONE bucket, so a
    (fact, interval) pair can match at most once — no dedup needed.

    At 10^12 facts this is the shape that matters: the fact table
    shuffles once on an integer key (or not at all if the exploded
    interval side broadcasts, as it does for any realistic band
    count), while the naive `ON v >= lo AND v < hi` theta join would
    plan as a nested loop.  The oracle runs exactly that theta join in
    DuckDB (its optimizer builds an IE-join) — different algorithm,
    same rows."""
    w = float(bucket_width)
    iv = intervals.withColumn(
        "bkt", F.explode(F.sequence(
            F.floor(F.col(lo_col) / w).cast("long"),
            F.floor(F.col(hi_col) / w).cast("long"))))
    f = facts.withColumn("bkt", F.floor(F.col(value_col) / w).cast("long"))
    return (f.join(F.broadcast(iv), "bkt")
            .filter((F.col(value_col) >= F.col(lo_col))
                    & (F.col(value_col) < F.col(hi_col)))
            .drop("bkt"))


def clip_segments_to_tiles(segs: DataFrame, tile_px: int = 256,
                           max_span: int = 4) -> DataFrame:
    """Segment-splitting clip at tile boundaries (Liang–Barsky — the
    closed-form equivalent of the Cohen–Sutherland outcode clip the
    north_star names): split every segment (gx0,gy0)→(gx1,gy1), given
    in GLOBAL pixel coordinates at some zoom, into one row per tile it
    intersects, carrying the clipped sub-segment endpoints.

    Pure JVM Columns (when/greatest/least — whole-stage codegen, no
    UDF): candidate tiles come from the bounding box (two sequence
    explodes), the parametric t-interval then drops box corners the
    line misses.  ``max_span`` caps the explode per axis — GPS tracks
    have short consecutive segments, so at 10^12 rows the guard bounds
    the blow-up a single cross-continent glitch segment would cause
    (same philosophy as the LSH max_bucket / ngram max_df caps);
    dropped segments are the caller's dead-letter channel.

    Degenerate touches (t0 == t1, a corner graze) are kept — they clip
    to a zero-length sub-segment, mirroring gd's endpoint-inclusive
    rasterization.
    """
    g = segs
    txa = F.floor(F.col("gx0") / tile_px).cast("int")
    txb = F.floor(F.col("gx1") / tile_px).cast("int")
    tya = F.floor(F.col("gy0") / tile_px).cast("int")
    tyb = F.floor(F.col("gy1") / tile_px).cast("int")
    g = (g.withColumn("txa", txa).withColumn("txb", txb)
          .withColumn("tya", tya).withColumn("tyb", tyb)
          .filter((F.abs(F.col("txb") - F.col("txa")) <= max_span)
                  & (F.abs(F.col("tyb") - F.col("tya")) <= max_span))
          .withColumn("tx", F.explode(F.sequence(
              F.least("txa", "txb"), F.greatest("txa", "txb"))))
          .withColumn("ty", F.explode(F.sequence(
              F.least("tya", "tyb"), F.greatest("tya", "tyb"))))
          .withColumn("tx", F.col("tx").cast("int"))
          .withColumn("ty", F.col("ty").cast("int")))

    dx = F.col("gx1") - F.col("gx0")
    dy = F.col("gy1") - F.col("gy0")
    lo_x = F.col("tx").cast("double") * tile_px
    hi_x = lo_x + tile_px
    lo_y = F.col("ty").cast("double") * tile_px
    hi_y = lo_y + tile_px

    def axis_t(d, p0, lo, hi):
        """(t_enter, t_exit) against one slab; the parallel case maps
        containment to the full/empty interval."""
        t_lo = (F.when(d > 0, (lo - p0) / d)
                 .when(d < 0, (hi - p0) / d)
                 .otherwise(F.when((p0 >= lo) & (p0 <= hi),
                                   F.lit(0.0)).otherwise(F.lit(2.0))))
        t_hi = (F.when(d > 0, (hi - p0) / d)
                 .when(d < 0, (lo - p0) / d)
                 .otherwise(F.when((p0 >= lo) & (p0 <= hi),
                                   F.lit(1.0)).otherwise(F.lit(-1.0))))
        return t_lo, t_hi

    tx_lo, tx_hi = axis_t(dx, F.col("gx0"), lo_x, hi_x)
    ty_lo, ty_hi = axis_t(dy, F.col("gy0"), lo_y, hi_y)
    t0 = F.greatest(F.lit(0.0), tx_lo, ty_lo)
    t1 = F.least(F.lit(1.0), tx_hi, ty_hi)
    g = g.withColumn("t0", t0).withColumn("t1", t1).filter(F.col("t0") <= F.col("t1"))
    return g.select(
        "sid", "tx", "ty",
        (F.col("gx0") + F.col("t0") * dx).alias("cx0"),
        (F.col("gy0") + F.col("t0") * dy).alias("cy0"),
        (F.col("gx0") + F.col("t1") * dx).alias("cx1"),
        (F.col("gy0") + F.col("t1") * dy).alias("cy1"),
    )


def dbscan(points: DataFrame, eps: float, min_pts: int = 3) -> DataFrame:
    """DBSCAN density clustering over a point stream (pid, lat, lon) →
    (pid, cluster_id, is_core), noise excluded — the hotspot/stay-point
    detector a GPS analytics stack runs downstream of the tiling engine
    (reference analogy: gpx2tiles' per-tile point grouping is a fixed-
    grid density census; DBSCAN is its shape-free generalization).

    Fully relational, three bounded stages:

    1. ε-neighbor pairs via an eps-sized grid: each point explodes to
       its 3×3 cell neighborhood and equi-joins the home-cell side —
       |Δlon| ≤ eps implies adjacent cells, so the equi-join is exact,
       never a theta-join (the knn_bucketed pattern).  The self-pair
       survives the d² ≤ eps² filter, so the neighbor COUNT includes
       the point itself, matching the textbook minPts convention.
    2. core = count ≥ min_pts; cluster formation = the existing
       Large-Star/Small-Star ``connected_components`` over core-core
       edges (O(log n) rounds, every shuffle keyed on node id).
    3. border points (non-core with ≥1 core neighbor) take the MINIMUM
       core-neighbor label — a deterministic tie-break where the
       textbook algorithm is arrival-order-dependent.

    Scale: callers should set eps so the expected ε-degree is O(1)
    (e.g. ``eps = C/sqrt(n)`` under bounded density) — then the pair
    table, the edge table, and every shuffle are LINEAR in n at any
    corpus size; a fixed eps at growing density degrades to the
    quadratic blow-up every exact DBSCAN has.  Distance is planar
    squared degrees (no antimeridian wrap), bit-reproducible across
    engines."""
    eps2 = eps * eps
    # persist the grid-keyed points: the neighborhood self-join's two
    # sides otherwise re-execute the full upstream derivation once each
    # (a self-referenced subtree is re-run per consumer) — one cached
    # pass replaces two; small (5 narrow columns per point)
    g = points.select(
        F.col("pid").cast("long").alias("pid"), "lat", "lon",
        F.floor(F.col("lon") / eps).cast("long").alias("cx"),
        F.floor(F.col("lat") / eps).cast("long").alias("cy")).persist()
    # HALF-PLANE neighborhood join: replicate each point to 5 offsets
    # ({0,0} + the 4 forward cells) instead of all 9 and mirror the
    # cross-cell matches afterwards with a 2-element explode — the
    # ordered ε-pair set is identical (same-cell joins already yield
    # both orders; (p,q) across offset +o == (q,p) across -o), while the
    # join-side shuffle carries 5n instead of 9n replicated rows.
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1), (1, -1))])
    a = (g.select("pid", "lat", "lon", "cx", "cy",
                  F.explode(offs).alias("o"))
          .select(F.col("pid").alias("pa"), F.col("lat").alias("la"),
                  F.col("lon").alias("oa"),
                  ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("same"),
                  (F.col("cx") + F.col("o.dx")).alias("jx"),
                  (F.col("cy") + F.col("o.dy")).alias("jy")))
    b = g.select(F.col("pid").alias("pb"), F.col("lat").alias("lb"),
                 F.col("lon").alias("ob"),
                 F.col("cx").alias("jx"), F.col("cy").alias("jy"))
    d2 = ((F.col("la") - F.col("lb")) * (F.col("la") - F.col("lb"))
          + (F.col("oa") - F.col("ob")) * (F.col("oa") - F.col("ob")))
    half = a.join(b, ["jx", "jy"]).filter(d2 <= F.lit(eps2))
    both = F.explode(F.when(
        F.col("same"),
        F.array(F.struct(F.col("pa"), F.col("pb")))).otherwise(
        F.array(F.struct(F.col("pa"), F.col("pb")),
                F.struct(F.col("pb").alias("pa"),
                         F.col("pa").alias("pb")))))
    nb = (half.select(both.alias("s"))
          .select(F.col("s.pa").alias("pa"), F.col("s.pb").alias("pb"))
          .persist())

    cnt = nb.groupBy("pa").agg(F.count("*").alias("c"))
    # persist the (tiny, ≤ one row per point) core set: it feeds four
    # consumers (both edge semi-joins, the label join, the border
    # anti-join) and each would otherwise re-run the nb-scale count
    # aggregation — measured 15.5 → 10.0 s at the sf1 volume together
    # with the g cache above, identical output set
    core = (cnt.filter(F.col("c") >= min_pts)
            .select(F.col("pa").alias("pid")).persist())
    edges = (nb.filter(F.col("pa") < F.col("pb"))
             .join(core.select(F.col("pid").alias("pa")), "pa", "leftsemi")
             .join(core.select(F.col("pid").alias("pb")), "pb", "leftsemi"))

    from .dedup import connected_components
    cc = connected_components(edges, "pa", "pb")
    core_lab = (core.join(cc.withColumnRenamed("doc_id", "pid"), "pid", "left")
                .select("pid",
                        F.coalesce("cluster_id", F.col("pid")).alias("cluster_id")))
    border = (nb.join(core.select(F.col("pid").alias("pa")), "pa", "leftanti")
              .join(core_lab.select(F.col("pid").alias("pb"), "cluster_id"), "pb")
              .groupBy("pa").agg(F.min("cluster_id").alias("cluster_id"))
              .select(F.col("pa").alias("pid"), "cluster_id",
                      F.lit(0).alias("is_core")))
    return (core_lab.withColumn("is_core", F.lit(1))
            .unionByName(border))


def track_hausdorff(points: DataFrame, z: int = 8, min_shared: int = 4,
                    max_pairs_per_track: int = 4) -> DataFrame:
    """Near-duplicate TRACK detection: symmetric Hausdorff distance
    between every candidate pair of tracks (track = one user's point
    set) → (ua, ub, n_shared, hausdorff_micro).  This is the dedup
    family's candidates→verify shape lifted from documents to
    trajectories: the candidate generation is a shared-tile prefilter
    (two tracks must co-occupy ≥ min_shared zoom-z tiles — the spatial
    analogue of an LSH band match), the verify stage is the exact
    max-of-min distance over the pair's point sets.

    Scale: the prefilter bounds the verified pair count by tile
    co-occupancy, never all-pairs — but co-occupancy alone grows
    superquadratically as track density rises (measured: 389 pairs at
    10k points → 470k at 1M on the same threshold), so the verify
    stage additionally takes a PER-TRACK BUDGET: only each track's
    ``max_pairs_per_track`` most-overlapping candidates (n_shared
    desc, partner id asc — all-integer, deterministic) reach the
    exact Hausdorff.  That caps verified pairs at k·n at ANY density —
    the same degenerate-cap philosophy as the LSH max_bucket guard;
    pairs beyond the budget are the caller's dead-letter channel.
    The per-pair |A|·|B| distance rows materialize only for survivors
    (exactly like the LSH → jaccard re-check).  The two joins
    re-attaching points are equi-joins on user id; a hub user
    appearing in many pairs is the skew channel — salt on the pair
    key if one emerges.  min over b then max over a involves NO
    accumulation (pure selection over identically-derived doubles),
    so the result is bit-reproducible across engines."""
    tx = P.tilex_col(F.col("lon"), z)
    ty = P.tiley_col(F.col("lat"), z)
    tc = points.select(F.col("user_id").alias("uid"),
                       tx.alias("tx"), ty.alias("ty")).distinct()
    pairs = (tc.alias("a").join(tc.alias("b"), ["tx", "ty"])
             .filter(F.col("a.uid") < F.col("b.uid"))
             .groupBy(F.col("a.uid").alias("ua"), F.col("b.uid").alias("ub"))
             .agg(F.count("*").alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    wb = Window.partitionBy("ua").orderBy(F.col("n_shared").desc(),
                                          F.col("ub"))
    pairs = (pairs.withColumn("rk", F.row_number().over(wb))
             .filter(F.col("rk") <= max_pairs_per_track).drop("rk"))
    # Exact verify stage, vectorized: the relational form materialized
    # the FULL |A|·|B| distance product as rows (270M at sf1, and the
    # two directed aggregation chains re-executed the pair joins — j is
    # referenced twice and Spark re-runs self-referenced subtrees).
    # Instead, attach each track's point ARRAY to the pair row (per-user
    # collect_list — budgeted pairs make the attached payload ≤
    # 2·max_pairs_per_track arrays per track) and compute each pair's
    # max-of-min in ONE numpy broadcast per pair inside mapInPandas:
    # same (a-b)² + (a-b)² float64 op tree element-wise, min/max are
    # pure selection, so the result is bit-identical while no shuffle
    # ever carries a distance row.
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    upts = points.groupBy("user_id").agg(
        F.collect_list("lat").alias("lats"),
        F.collect_list("lon").alias("lons"))
    jb = (pairs
          .join(upts.select(F.col("user_id").alias("ua"),
                            F.col("lats").alias("la"),
                            F.col("lons").alias("oa")), "ua")
          .join(upts.select(F.col("user_id").alias("ub"),
                            F.col("lats").alias("lb"),
                            F.col("lons").alias("ob")), "ub")
          .repartition("ua", "ub"))

    schema = T.StructType([
        T.StructField("ua", T.LongType(), False),
        T.StructField("ub", T.LongType(), False),
        T.StructField("n_shared", T.LongType(), False),
        T.StructField("hausdorff_micro", T.LongType(), False),
    ])

    def fold(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                la = np.asarray(r.la, np.float64)[:, None]
                oa = np.asarray(r.oa, np.float64)[:, None]
                lb = np.asarray(r.lb, np.float64)[None, :]
                ob = np.asarray(r.ob, np.float64)[None, :]
                d2 = (la - lb) * (la - lb) + (oa - ob) * (oa - ob)
                h_ab = d2.min(axis=1).max()
                h_ba = d2.min(axis=0).max()
                out.append((int(r.ua), int(r.ub), int(r.n_shared),
                            int(np.floor(max(h_ab, h_ba) * 1000000.0))))
            yield pd.DataFrame(out, columns=["ua", "ub", "n_shared",
                                             "hausdorff_micro"])

    return jb.mapInPandas(fold, schema)


def polygon_edges(polys: DataFrame) -> DataFrame:
    """polygons(poly_id, vertices:array<struct<x,y>>) → one row per
    edge, implicitly closing last→first.  posexplode keeps vertex order
    (the same span-order discipline as the documents table)."""
    e = polys.select(
        "poly_id", F.col("vertices").alias("vs"),
        F.posexplode("vertices").alias("i", "v"))
    nxt = F.element_at("vs", ((F.col("i") + 1) % F.size("vs")) + 1)
    return e.select(
        "poly_id",
        F.col("v.x").alias("x1"), F.col("v.y").alias("y1"),
        nxt["x"].alias("x2"), nxt["y"].alias("y2"))


def points_in_polygons(points: DataFrame, polys: DataFrame,
                       x_col: str = "lon", y_col: str = "lat",
                       id_col: str = "pid") -> DataFrame:
    """Point-in-polygon for ARBITRARY (incl. concave) polygons, fully
    relational and in two broadcast stages:

    1. bbox prefilter — points theta-join the broadcast per-polygon
       bounding boxes (the poor man's R-tree root): with thousands of
       polygons each point pays O(overlapping bboxes), not O(total
       edges);
    2. edge test — candidates equi-join the broadcast edge table on
       poly_id (BroadcastHashJoin, not a nested loop) with the
       ray-casting half-open crossing predicate as a residual filter,
       then odd crossing parity per (point, polygon).

    The fact table never shuffles before a join; the parity groupBy is
    map-side combinable, so the one shuffle moves ≈ one row per
    (point, crossed-polygon) pair — not per edge hit.  The half-open
    rule (y1 > py) != (y2 > py) counts a shared vertex exactly once
    and skips horizontal edges.  The ray shoots toward +x, so only the
    y-extent + x_max matter in the bbox gate (a point left of the box
    must still see the edges)."""
    edges = polygon_edges(polys)
    px, py = F.col(x_col), F.col(y_col)

    boxes = F.broadcast(edges.groupBy("poly_id").agg(
        F.least(F.min("y1"), F.min("y2")).alias("by_min"),
        F.greatest(F.max("y1"), F.max("y2")).alias("by_max"),
        F.greatest(F.max("x1"), F.max("x2")).alias("bx_max")))
    cand = points.join(
        boxes,
        (py >= F.col("by_min")) & (py <= F.col("by_max"))
        & (px < F.col("bx_max")),
        "inner").drop("by_min", "by_max", "bx_max")

    # try_divide: horizontal edges (y1 == y2) are already excluded by
    # the left conjunct, but under ANSI mode a plain `/` would throw
    # DIVIDE_BY_ZERO if Catalyst ever evaluated the conjuncts
    # independently (conjunct order is not guaranteed); NULL → false
    # keeps the semantics identical to DuckDB's inf-division.
    crossing = ((F.col("y1") > py) != (F.col("y2") > py)) & (
        px < F.col("x1")
        + F.try_divide((py - F.col("y1")) * (F.col("x2") - F.col("x1")),
                       F.col("y2") - F.col("y1")))
    hits = cand.join(F.broadcast(edges), "poly_id", "inner").filter(crossing)
    return (hits.groupBy(id_col, "poly_id")
            .agg(F.count("*").alias("n_cross"))
            .filter(F.col("n_cross") % 2 == 1)
            .select(id_col, "poly_id"))


def resample_tracks(points: DataFrame, step_sec: int = 900) -> DataFrame:
    """Temporal resampling: every track re-sampled onto a fixed
    `step_sec` grid (per-user, between its first and last fix) with
    LINEAR interpolation of lat/lon between the bracketing points —
    the trajectory normalization step before track-to-track comparison
    (Hausdorff, clustering) or ML featurization.

    JOIN-FREE, like the as-of join above: grid instants union with the
    points into one tagged stream; ONE ascending window carries the
    previous fix forward and ONE descending window carries the next fix
    backward (last(ignorenulls) each — O(1) state per row, a single
    shuffle key: the user).  A grid instant that hits a fix exactly
    gets that fix (points order before grid rows at equal timestamps in
    BOTH window directions, so prev == next and the interpolation
    short-circuits).  At 10^12 rows this is two window passes over one
    hash partitioning — no range join, no per-grid-point lookup.

    Output is micro-floored integers; every float op (epoch seconds,
    grid bounds, the interpolation blend) has one op tree mirrored by
    the SQL oracle."""
    es = F.col("ts").cast("timestamp").cast("double")
    pts = points.select(
        "user_id", F.col("pid"), es.alias("es"),
        F.lit(1).alias("is_pt"), "lat", "lon")
    step = float(step_sec)
    bounds = pts.groupBy("user_id").agg(
        F.min("es").alias("lo"), F.max("es").alias("hi"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence(
            F.ceil(F.col("lo") / F.lit(step)).cast("long"),
            F.floor(F.col("hi") / F.lit(step)).cast("long"))).alias("gi"))
    grid = grid.select(
        "user_id", (F.col("gi") * F.lit(step_sec)).alias("g"),
        (F.col("gi") * F.lit(step_sec)).cast("double").alias("es"),
        F.lit(0).alias("is_pt"),
        F.lit(None).cast("long").alias("pid"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"))
    tagged = pts.withColumn("g", F.lit(None).cast("long")).unionByName(grid)
    wa = (Window.partitionBy("user_id")
          .orderBy(F.col("es"), F.col("is_pt").desc(), F.col("pid").desc())
          .rowsBetween(Window.unboundedPreceding, 0))
    wd = (Window.partitionBy("user_id")
          .orderBy(F.col("es").desc(), F.col("is_pt").desc(), F.col("pid"))
          .rowsBetween(Window.unboundedPreceding, 0))
    pes = F.last(F.when(F.col("is_pt") == 1, F.col("es")),
                 ignorenulls=True).over(wa)
    plat = F.last("lat", ignorenulls=True).over(wa)
    plon = F.last("lon", ignorenulls=True).over(wa)
    nes = F.last(F.when(F.col("is_pt") == 1, F.col("es")),
                 ignorenulls=True).over(wd)
    nlat = F.last("lat", ignorenulls=True).over(wd)
    nlon = F.last("lon", ignorenulls=True).over(wd)
    r = (tagged
         .withColumn("pes", pes).withColumn("plat", plat)
         .withColumn("plon", plon)
         .withColumn("nes", nes).withColumn("nlat", nlat)
         .withColumn("nlon", nlon)
         .filter((F.col("is_pt") == 0)
                 & F.col("pes").isNotNull() & F.col("nes").isNotNull()))
    frac = (F.col("es") - F.col("pes")) / (F.col("nes") - F.col("pes"))
    ilat = F.when(F.col("nes") == F.col("pes"), F.col("plat")).otherwise(
        F.col("plat") + (F.col("nlat") - F.col("plat")) * frac)
    ilon = F.when(F.col("nes") == F.col("pes"), F.col("plon")).otherwise(
        F.col("plon") + (F.col("nlon") - F.col("plon")) * frac)
    return r.select(
        "user_id", F.col("g").alias("g_sec"),
        F.floor(ilat * F.lit(1000000.0)).cast("long").alias("lat_micro"),
        F.floor(ilon * F.lit(1000000.0)).cast("long").alias("lon_micro"))


# ---------------------------------------------------------------------------
# Map matching: snap points to the nearest road segment
# ---------------------------------------------------------------------------

def road_segments(suppliers: DataFrame) -> DataFrame:
    """Deterministic road-segment dimension from the supplier table:
    one short segment per key (midpoint on the same derived grid as the
    POI dim, endpoints ±0.1° offsets) — the broadcastable vector side of
    the map-matching join."""
    k = F.col("s_suppkey")
    x1 = (k * 29 % 3600).cast("double") / 10.0 - 179.95
    y1 = (k * 13 % 1400).cast("double") / 10.0 - 69.95
    dx = ((k * 17 % 21) - 10).cast("double") / 100.0
    dy = ((k * 23 % 21) - 10).cast("double") / 100.0
    return suppliers.select(
        k.alias("seg_id"),
        x1.alias("x1"), y1.alias("y1"),
        (x1 + dx).alias("x2"), (y1 + dy).alias("y2"))


def map_match(points: DataFrame, segments: DataFrame,
              zoom: int = 7) -> DataFrame:
    """Snap every point to its nearest road segment (planar lon/lat
    point-to-segment distance, clamped projection) — the map-matching
    primitive of a GPS pipeline.

    Candidate generation mirrors knn_bucketed: each segment is
    replicated to the 3×3 cell neighborhood of its midpoint at ``zoom``
    (segments are ≲0.14° long, cells 2.8° — one ring covers every
    point whose nearest segment could live next door), points probe
    their own cell only, and the replicated dim side BROADCASTS — the
    10^12-point fact table never shuffles.  Nearest = min (d², seg_id)
    via one per-point window; ``t_micro`` is the snapped curve position.
    Points whose cell contains no candidate segment are dropped (inner
    join), the documented partial-coverage contract.
    """
    n = 1 << zoom
    mx = (F.col("x1") + F.col("x2")) / 2.0
    my = (F.col("y1") + F.col("y2")) / 2.0
    segc = segments.select(
        "seg_id", "x1", "y1", "x2", "y2",
        P.tilex_col(mx, zoom).alias("mtx"),
        P.tiley_col(my, zoom).alias("mty"))
    ring = [F.lit(i) for i in (-1, 0, 1)]
    neigh = (segc
             .withColumn("ddx", F.explode(F.array(*ring)))
             .withColumn("ddy", F.explode(F.array(*ring)))
             .select(
                 "seg_id", "x1", "y1", "x2", "y2",
                 (((F.col("mtx") + F.col("ddx")) + n) % n
                  + F.least(F.greatest(F.col("mty") + F.col("ddy"), F.lit(0)),
                            F.lit(n - 1)) * n).alias("cell"))
             .dropDuplicates(["seg_id", "cell"]))
    pts = points.withColumn(
        "cell",
        P.tilex_col(F.col("lon"), zoom)
        + P.tiley_col(F.col("lat"), zoom) * F.lit(n))
    j = pts.join(F.broadcast(neigh), "cell")
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    traw = ((F.col("lon") - F.col("x1")) * dx
            + (F.col("lat") - F.col("y1")) * dy) / len2
    t = F.when(len2 > 0.0,
               F.least(F.lit(1.0), F.greatest(F.lit(0.0), traw))) \
         .otherwise(F.lit(0.0))
    cx = F.col("x1") + t * dx
    cy = F.col("y1") + t * dy
    d2 = (F.col("lon") - cx) * (F.col("lon") - cx) \
        + (F.col("lat") - cy) * (F.col("lat") - cy)
    scored = j.select("pid", "seg_id", t.alias("t"), d2.alias("d2"))
    # nearest = MIN(struct(d2, seg_id, t)) — a map-side-combinable
    # partial aggregation (each partition pre-reduces its candidates to
    # one row per point) instead of a window sort, so the post-join
    # shuffle carries ~|points| rows, not |points| × ring candidates.
    best = scored.groupBy("pid").agg(
        F.min(F.struct("d2", "seg_id", "t")).alias("b"))
    return best.select(
        "pid", F.col("b.seg_id").alias("seg_id"),
        F.floor(F.col("b.t") * F.lit(1000000.0)).cast("long")
        .alias("t_micro"))
