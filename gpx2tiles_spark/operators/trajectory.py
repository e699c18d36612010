"""Trajectory-mining operators: stay-point (dwell) detection, origin-
destination flows, spatiotemporal co-visitation, and time-decayed tile
activity.

These extend the tiling engine's per-point/per-segment surface
(reference: gpx2tiles renders points; a pipeline that TRAINS on tracks
also mines them) with the classic trajectory analytics a 10^12-document
corpus needs, each expressed as pure DataFrame plans:

- ``dwell_islands`` — gaps-and-islands over the per-user time order:
  a *stay point* is a maximal run of consecutive fixes inside one slippy
  tile.  One window pass (lag + running sum) and one groupBy, both keyed
  on ``user_id`` — the island id extends the window's partitioning key,
  so the shuffle volume is the points table once.
- ``od_matrix`` — per (user, session) first/last cell → flow counts
  between origin and destination cells.  Sessions from the engine's
  lag-gap cumsum; endpoints via row_number in both directions (exact
  (ts, pid) tie order — no engine-dependent min_by/arg_min semantics);
  flows via a map-side-combinable groupBy on the cell pair.
- ``co_visit_pairs`` — users co-located in the same (tile, day) bucket:
  the inverted-index self-join (distinct user-bucket postings joined on
  the bucket) with a *degenerate-bucket cap*, the same scale guard as
  the MinHash/SimHash band joins (dedup.py): a bucket with more than
  ``max_users`` distinct visitors contributes O(cap²) pairs at most —
  never O(n²) — and the cap is part of the operator's contract, checked
  by the oracle on both sides.
- ``tile_decay`` — exponentially time-decayed per-tile activity with
  alpha = 1/2 per day, computed ENTIRELY in int64: each day-count is
  weighted 2^(H - age) (H the horizon), so the "EWMA" is an exact
  integer sum — associative, order-free, mergeable — and therefore a
  full-hash oracle row, unlike a float groupBy-SUM which has no
  deterministic aggregation order.  Days older than the horizon weigh
  exactly 0 (a real decay floor: 2^-H < 1e-8 of the newest day).

All four scale: no window is wider than one user, no join side is
unbounded (the bucket cap bounds the only self-join), every groupBy is
partial-aggregatable, and the single global scalar (``tile_decay``'s
max day) is a 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import tiles


def _epoch(col):
    """Whole seconds since the epoch as FLOOR semantics — exactly the
    oracles' FLOOR(epoch(ts)).  A long cast truncates toward zero,
    which diverges by one second for pre-1970 stamps; flooring the
    double makes the operator correct on the full timestamp domain
    instead of assuming ts >= 1970.  The parquet column is
    TIMESTAMP_NTZ, which Spark won't cast to long directly — route via
    timestamp (UTC session — same convention as geo.py:63)."""
    return F.floor(F.col(col).cast("timestamp").cast("double")).cast("long")


def dwell_islands(track_points: DataFrame, zoom: int = 14,
                  min_fixes: int = 4) -> DataFrame:
    """Stay-point detection as gaps-and-islands over parsed GPX tracks:
    per document in (seg_order, pt_idx) order, an island is a maximal
    run of consecutive fixes whose tile at ``zoom`` does not change;
    islands with ≥ ``min_fixes`` fixes are dwells (the GPS trace sat
    inside one ~2.4 km cell long enough to matter).

    Expects the engine's parsed points (doc_id, seg_order, pt_idx, lat,
    lon — kind='trkpt' pre-filtered by the caller).  Plan: ONE Exchange
    on doc_id feeds both window passes (lag + running sum share the
    frame), then the groupBy extends the key to (doc_id, island) — AQE
    coalesces the second exchange's tiny partitions.  Nothing is ever
    wider than one document's track.
    """
    pts = tiles.with_tile(track_points, z=zoom)
    w = Window.partitionBy("doc_id").orderBy("seg_order", "pt_idx")
    moved = (
        F.lag("tx").over(w).isNull()
        | (F.lag("tx").over(w) != F.col("tx"))
        | (F.lag("ty").over(w) != F.col("ty"))
    ).cast("int")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = pts.withColumn("island", F.sum(moved).over(run))
    return (isl.groupBy("doc_id", "island")
            .agg(F.min("tx").alias("tx"), F.min("ty").alias("ty"),
                 F.count("*").alias("n_fixes"))
            .filter(F.col("n_fixes") >= min_fixes)
            .select("doc_id", F.col("island").cast("long").alias("island"),
                    "tx", "ty", "n_fixes"))


def od_matrix(points: DataFrame, zoom: int = 8,
              gap_minutes: int = 30) -> DataFrame:
    """Origin-destination flows: sessionize per user (lag-gap cumsum,
    same 30-min rule as the sessionize row), take each session's first
    and last fix in exact (ts, pid) order, and count trips + distinct
    users per (origin cell, destination cell) pair at ``zoom``.

    row_number in both directions (not min_by/arg_min) keeps the
    endpoint tie rule a total order both engines share.  The final
    groupBy is on the cell pair — the flow matrix is dimension-bounded
    (4^zoom² worst case, corpus-bounded in practice), so the result is
    broadcastable downstream.
    """
    ends = session_ends(points, zoom, gap_minutes)
    return ends.groupBy("o_tx", "o_ty", "d_tx", "d_ty").agg(
        F.count("*").alias("n_trips"),
        F.countDistinct("user_id").cast("long").alias("n_users"))


def co_visit_pairs(points: DataFrame, zoom: int = 7,
                   max_users: int = 32, min_shared: int = 2) -> DataFrame:
    """Spatiotemporal co-visitation: user pairs that shared at least
    ``min_shared`` distinct (tile@zoom, day) buckets.

    Inverted-index shape: distinct (user, bucket) postings; buckets with
    more than ``max_users`` visitors are dropped BEFORE the self-join
    (the degenerate-bucket cap — a stadium tile contributes nothing but
    O(cap²) noise pairs and all of the join's skew; identical policy to
    dedup.minhash_lsh_pairs' max_bucket).  The self-join is an equi-join
    on the bucket key, so each posting list pairs only within its own
    partition — at 10^12 points the pair volume is Σ min(nu, cap)² per
    bucket, never corpus².
    """
    pts = tiles.with_tile(points, z=zoom)
    posts = pts.select(
        "user_id", "tx", "ty",
        F.floor(_epoch("ts") / F.lit(86400)).cast("long").alias("day"),
    ).distinct()
    # bucket occupancy as a WINDOW over the postings (not a groupBy +
    # join back): the distinct already partitioned on the posting key,
    # so the count reuses that layout and the cap is a plain filter —
    # no second shuffle, no join, before the self-join.
    wb = Window.partitionBy("tx", "ty", "day")
    p = (posts.withColumn("n_users", F.count("*").over(wb))
         .filter(F.col("n_users") <= max_users)
         .drop("n_users"))
    a = p.select("tx", "ty", "day", F.col("user_id").alias("ua"))
    b = p.select("tx", "ty", "day", F.col("user_id").alias("ub"))
    pairs = a.join(b, ["tx", "ty", "day"]).filter(F.col("ua") < F.col("ub"))
    return (pairs.groupBy("ua", "ub").agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def tile_decay(points: DataFrame, zoom: int = 6,
               horizon_days: int = 29) -> DataFrame:
    """Time-decayed per-tile activity, alpha = 1/2 per day, EXACT:

        decayed(tile) = Σ_day count(tile, day) · 2^(H − age)   (int64)

    i.e. the EWMA scaled by 2^H — the newest day weighs 2^H, a day of
    age a weighs 2^(H−a), anything older than the horizon weighs 0.
    Because every weight is an integer power of two the sum is exact
    int64 arithmetic: associative, order-independent, partial-agg-
    mergeable — the property that makes a *decayed* counter a full-hash
    oracle row (a float pow() EWMA has no deterministic groupBy order).

    Plan: groupBy (tile, day) → 1-row global max-day broadcast →
    groupBy tile.  Both aggregations are map-side combinable; the only
    non-keyed exchange is the 1-row scalar.  Counts × 2^29 stay far
    inside int64 until a single (tile, day) holds > 2^33 points.
    """
    pts = tiles.with_tile(points, z=zoom)
    byday = pts.groupBy("tx", "ty",
                        F.floor(_epoch("ts") / F.lit(86400)).cast("long")
                        .alias("day")) \
               .agg(F.count("*").alias("cnt"))
    maxd = byday.agg(F.max("day").alias("max_day"))
    j = byday.crossJoin(F.broadcast(maxd)) \
        .withColumn("wexp", F.lit(horizon_days) - (F.col("max_day") - F.col("day")))
    weight = F.when(F.col("wexp") >= 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(wexp AS INT))")) \
              .otherwise(F.lit(0).cast("long"))
    return (j.groupBy("tx", "ty")
            .agg(F.count("*").alias("n_days"),
                 F.sum("cnt").alias("n_points"),
                 F.sum(F.col("cnt") * weight).alias("decayed_x2h")))


def geofence_transitions(points: DataFrame, rects: DataFrame) -> DataFrame:
    """Geofence enter/exit events: per user in (ts, pid) order, emit a
    row whenever the containing region changes (regions = the disjoint
    rectangle dim; outside = -1).

    LEFT broadcast containment join (outside points must survive — they
    are what makes an *exit* observable), then one lag over the user
    window; a transition is a null-safe region change.  The fact table
    shuffles once (the window), the dim broadcasts.
    """
    p, r = points.alias("p"), rects.alias("r")
    tagged = p.join(
        F.broadcast(r),
        (F.col("p.lat") >= F.col("r.lat_min"))
        & (F.col("p.lat") < F.col("r.lat_max"))
        & (F.col("p.lon") >= F.col("r.lon_min"))
        & (F.col("p.lon") < F.col("r.lon_max")),
        "left",
    ).select(
        "p.pid", "p.user_id", "p.ts",
        F.coalesce(F.col("r.region_id"), F.lit(-1)).cast("long")
        .alias("region"))
    w = Window.partitionBy("user_id").orderBy("ts", "pid")
    t = tagged.withColumn("prev_region", F.lag("region").over(w))
    return (t.filter(F.col("prev_region").isNotNull()
                     & (F.col("prev_region") != F.col("region")))
            .select("user_id", "pid",
                    F.col("prev_region").alias("from_region"),
                    F.col("region").alias("to_region"),
                    F.when(F.col("prev_region") == -1, F.lit("enter"))
                     .when(F.col("region") == -1, F.lit("exit"))
                     .otherwise(F.lit("switch")).alias("kind")))


def tile_concurrency(points: DataFrame, zoom: int = 6) -> DataFrame:
    """Peak concurrent visitors per tile: each user's presence in a tile
    is the interval [first fix, last fix]; the peak is the classic
    +1/−1 sweep — per tile, order the interval endpoints and take the
    max running sum.

    Endpoint order (t, delta DESC, user_id) starts intervals before
    ending same-instant ones (touching intervals count as concurrent) —
    the tie rule is part of the operator contract and identical in the
    oracle.  Plan: one (user, tile) groupBy collapses 10^12 fixes to
    ≤ |users|·|tiles| intervals, then a tile-keyed window over 2 rows
    per interval; both stages partial-agg/window on their natural keys.
    """
    pts = tiles.with_tile(points, z=zoom)
    iv = pts.groupBy("user_id", "tx", "ty").agg(
        F.min(_epoch("ts")).alias("t0"),
        F.max(_epoch("ts")).alias("t1"))
    starts = iv.select("tx", "ty", "user_id",
                       F.col("t0").alias("t"), F.lit(1).alias("delta"))
    ends = iv.select("tx", "ty", "user_id",
                     (F.col("t1") + 1).alias("t"),
                     F.lit(-1).alias("delta"))
    ev = starts.unionByName(ends)
    w = Window.partitionBy("tx", "ty") \
        .orderBy(F.col("t"), F.col("delta").desc(), F.col("user_id")) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = ev.withColumn("load", F.sum("delta").over(w))
    return run.groupBy("tx", "ty").agg(
        (F.count("*") / 2).cast("long").alias("n_users"),
        F.max("load").cast("long").alias("peak_concurrency"))


def session_ends(points: DataFrame, zoom: int,
                 gap_minutes: int) -> DataFrame:
    """Per (user, session): origin/destination cell at ``zoom`` plus the
    session's first/last epoch second — the shared core of od_matrix and
    od_travel_time (lag-gap cumsum, endpoints by row_number in both
    (ts, pid) directions)."""
    pts = tiles.with_tile(points, z=zoom)
    w = Window.partitionBy("user_id").orderBy("ts", "pid")
    gap = gap_minutes * 60
    new_sess = (
        F.lag("ts").over(w).isNull()
        | ((_epoch("ts") - F.lag(_epoch("ts")).over(w)) > gap)
    ).cast("int")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = pts.withColumn("sess", F.sum(new_sess).over(run))
    ws = Window.partitionBy("user_id", "sess").orderBy("ts", "pid")
    wsd = Window.partitionBy("user_id", "sess") \
        .orderBy(F.col("ts").desc(), F.col("pid").desc())
    r = s.withColumn("ra", F.row_number().over(ws)) \
         .withColumn("rd", F.row_number().over(wsd))
    return r.groupBy("user_id", "sess").agg(
        F.max(F.when(F.col("ra") == 1, F.col("tx"))).alias("o_tx"),
        F.max(F.when(F.col("ra") == 1, F.col("ty"))).alias("o_ty"),
        F.max(F.when(F.col("rd") == 1, F.col("tx"))).alias("d_tx"),
        F.max(F.when(F.col("rd") == 1, F.col("ty"))).alias("d_ty"),
        F.min(_epoch("ts")).alias("t0"),
        F.max(_epoch("ts")).alias("t1"))


def od_travel_time(points: DataFrame, zoom: int = 6,
                   gap_minutes: int = 30,
                   min_trips: int = 3) -> DataFrame:
    """Travel-time matrix: DISC p50/p90 of trip duration (integer
    seconds) per (origin cell, destination cell) at ``zoom``, over the
    same sessions as od_matrix.

    DISC selection (rank = ceil(q·n) over (duration, user, sess) — a
    total order), NOT interpolation: selection over integer seconds is
    bit-reproducible across engines, the same policy as
    tile_occupancy_quantiles.  Plan: the session table is already
    |sessions|-bounded; one window over the cell pair ranks durations
    and one groupBy picks the quantiles — the matrix side never exceeds
    the pair cardinality.
    """
    ends = session_ends(points, zoom, gap_minutes)
    dur = ends.withColumn("dur", F.col("t1") - F.col("t0"))
    keys = ["o_tx", "o_ty", "d_tx", "d_ty"]
    wr = Window.partitionBy(*keys).orderBy("dur", "user_id", "sess")
    wn = Window.partitionBy(*keys)
    rnk = dur.select(
        *keys, "dur",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n_trips"))

    def pick(q, name):
        idx = F.greatest(
            F.ceil(F.lit(q) * F.col("n_trips").cast("double")).cast("long"),
            F.lit(1).cast("long"))
        return F.max(F.when(F.col("rn") == idx, F.col("dur"))).alias(name)

    return (rnk.groupBy(*keys)
            .agg(F.max("n_trips").alias("n_trips"),
                 pick(0.5, "p50_sec"), pick(0.9, "p90_sec"))
            .filter(F.col("n_trips") >= min_trips))
