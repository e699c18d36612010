"""Query registry: every SURVEY.md §2 operator as a (Spark builder,
DuckDB oracle SQL) pair over the driver testdata tables.

Design rules for oracle parity (driver compares row count + schema +
order-insensitive value hash, columns sorted by name):

- identical column names via explicit aliases on BOTH sides;
- integer outputs only (micro-units via FLOOR(x*1e6)) — no raw floats;
- md5 as the only hash (identical hex in both engines);
- arithmetic written with the same op tree so IEEE doubles agree
  bit-for-bit; transcendental-function results never sit on decision
  boundaries by construction of the derived point grid (geo.py);
- DuckDB quirks handled: SUM(int)→HUGEINT is cast to BIGINT,
  ``unnest(generate_series(...))`` yields BIGINT → cast, `/` on ints is
  true division in both, FLOOR (not int-cast, which rounds in DuckDB).
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import projection as P
from .config import SPDCLR, TILE_H, TILE_W
from .colors import speed_clridx_col, speed_clridx_sql
from .operators import ann, dedup, geo, knn, pipeline, textstats
from .operators.parse import parse_documents

QueryFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: QueryFn):
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


def queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


# Scan-parallelism guard (guide §2.5 "one huge unsplittable file"):
# the driver testdata fact tables are single-file/single-row-group
# parquet, so every scan arrives as ONE task and the whole map stage
# (projection, md5, explode, partial aggregation — where most of these
# queries do their work) runs single-threaded no matter how many cores
# the session has.  Spread under-parallel fact scans by hashing on the
# table's natural key — the key downstream groupBys/windows cluster on,
# so the one added exchange REPLACES the first shuffle of most queries
# instead of adding to it.  Scale-adaptive, not local-tuned: a real
# multi-file table at 100 TB arrives with >= cluster-parallelism scan
# tasks and the repartition is skipped entirely.
_SPREAD_KEYS = {"events": "user_id", "documents": "doc_id",
                "embeddings": "vec_id"}


def _t(spark: SparkSession, sf_dir: str, name: str,
       spread: bool = True) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    key = _SPREAD_KEYS.get(name)
    # decided from this scan's partition count on every call: a table
    # rewritten at the same path must not inherit the old decision
    if (key is None or not spread or df.rdd.getNumPartitions()
            >= spark.sparkContext.defaultParallelism):
        return df
    # spread to defaultParallelism, NOT spark.sql.shuffle.partitions:
    # the goal is one map task per core; 4×-core reduce partitions only
    # add per-task overhead on a bench-sized input (A/B at sf0.1:
    # minhash 3.8 s @128 vs 1.3 s @32), and any downstream aggregation
    # keyed on a superset of the spread key accepts either count
    return df.repartition(spark.sparkContext.defaultParallelism,
                          F.col(key))


def _points(spark: SparkSession, sf_dir: str,
            spread: bool = True) -> DataFrame:
    return geo.derived_points(_t(spark, sf_dir, "events", spread=spread))


# ---------------------------------------------------------------------------
# SQL building blocks
# ---------------------------------------------------------------------------

PTS_SQL = f"""
  SELECT event_id AS pid, user_id, ts,
         {geo.LON_EXPR} AS lon, {geo.LAT_EXPR} AS lat, value AS kph
  FROM events
"""


def tx_sql(lon: str, z: str) -> str:
    return f"CAST(FLOOR(({lon} + 180.0) / 360.0 * POW(2.0, {z})) AS INT)"


def ty_sql(lat: str, z: str) -> str:
    return (f"CAST(FLOOR((1.0 - LN(TAN(RADIANS({lat})) + 1.0/COS(RADIANS({lat})))"
            f" / PI()) / 2.0 * POW(2.0, {z})) AS INT)")


# ---------------------------------------------------------------------------
# Tiling core (R5/R6, A1-A3, K1-K7)
# ---------------------------------------------------------------------------

@register("tile_assign_z12", f"""
  WITH pts AS ({PTS_SQL})
  SELECT pid, {tx_sql('lon', '12')} AS tx, {ty_sql('lat', '12')} AS ty,
         CAST({P.quadkey_sql(tx_sql('lon', '12'), ty_sql('lat', '12'), 12)} AS BIGINT) AS cell
  FROM pts
""")
def q_tile_assign(spark, sf_dir):
    # map-only: no downstream op clusters on the spread key (A/B sf1:
    # 0.50 s raw vs 0.79 s spread)
    pts = _points(spark, sf_dir, spread=False)
    tx, ty = P.tilex_col(F.col("lon"), 12), P.tiley_col(F.col("lat"), 12)
    return pts.select(
        "pid", tx.alias("tx"), ty.alias("ty"),
        P.quadkey_col(tx, ty, 12).alias("cell"),
    )


def _pyramid_tiles(spark, sf_dir, spread: bool = True) -> DataFrame:
    """(z, tx, ty) per point × zooms 1-8 with the zoom-independent
    Mercator fractions hoisted ABOVE the explode: ln/tan/cos run once
    per point instead of once per (point, zoom) — bit-identical because
    floor(frac * 2^z) is the oracle's own association (the same hoist
    with_pair_tiles uses for the render)."""
    pts = _points(spark, sf_dir, spread=spread).select(
        P.xfrac_col(F.col("lon")).alias("_xf"),
        P.yfrac_col(F.col("lat")).alias("_yf"))
    pts = pts.withColumn("z", F.explode(F.sequence(F.lit(1), F.lit(8))))
    zpow = F.pow(F.lit(2.0), F.col("z"))
    return pts.select(
        "z", F.floor(F.col("_xf") * zpow).cast("int").alias("tx"),
        F.floor(F.col("_yf") * zpow).cast("int").alias("ty"))


@register("tile_counts_pyramid", f"""
  WITH pts AS ({PTS_SQL}),
  zs AS (SELECT CAST(unnest(generate_series(1, 8)) AS INT) AS z)
  SELECT z, {tx_sql('lon', 'z')} AS tx, {ty_sql('lat', 'z')} AS ty,
         COUNT(*) AS point_cnt
  FROM pts, zs GROUP BY 1, 2, 3
""")
def q_tile_counts(spark, sf_dir):
    return (_pyramid_tiles(spark, sf_dir)
            .groupBy("z", "tx", "ty").agg(F.count("*").alias("point_cnt")))


@register("zoom_census", f"""
  WITH pts AS ({PTS_SQL}),
  zs AS (SELECT CAST(unnest(generate_series(1, 8)) AS INT) AS z),
  tiles AS (
    SELECT z, {tx_sql('lon', 'z')} AS tx, {ty_sql('lat', 'z')} AS ty,
           COUNT(*) AS point_cnt
    FROM pts, zs GROUP BY 1, 2, 3)
  SELECT z, COUNT(*) AS tile_cnt, CAST(SUM(point_cnt) AS BIGINT) AS point_cnt
  FROM tiles GROUP BY z
""")
def q_zoom_census(spark, sf_dir):
    return (
        q_tile_counts(spark, sf_dir)
        .groupBy("z")
        .agg(F.count("*").alias("tile_cnt"), F.sum("point_cnt").alias("point_cnt"))
    )


def _hll_census_sql() -> str:
    from .operators.sketch import ALPHA_M2, hll_zbits_sql

    zb = hll_zbits_sql("substr(h, 3, 15)")
    s_tot = "sp + (256 - mp) * 1073741824"
    raw = (f"CAST('{ALPHA_M2!r}' AS DOUBLE)"
           f" / (CAST({s_tot} AS DOUBLE) / 1073741824.0)")
    est = (f"CASE WHEN {raw} <= 640.0 AND (256 - mp) > 0"
           f" THEN 256.0 * LN(256.0 / CAST(256 - mp AS DOUBLE))"
           f" ELSE {raw} END")
    return f"""
  WITH pts AS ({PTS_SQL}),
  zs AS (SELECT CAST(unnest(generate_series(1, 8)) AS INT) AS z),
  cells AS (
    SELECT z, CAST(z AS VARCHAR) || '|' || CAST({tx_sql('lon', 'z')} AS VARCHAR)
           || '|' || CAST({ty_sql('lat', 'z')} AS VARCHAR) AS ck
    FROM pts CROSS JOIN zs),
  hx AS (SELECT z, ck, md5(ck) AS h FROM cells),
  rr AS (SELECT z, substr(h, 1, 2) AS bucket, LEAST({zb} + 1, 30) AS reg0
         FROM hx),
  regs AS (SELECT z, bucket, MAX(reg0) AS reg FROM rr GROUP BY 1, 2),
  agg AS (SELECT z, SUM(CAST(POW(2.0, 30 - reg) AS BIGINT)) AS sp,
                 COUNT(*) AS mp
          FROM regs GROUP BY z),
  ex AS (SELECT z, COUNT(DISTINCT ck) AS n_exact FROM cells GROUP BY z)
  SELECT ex.z, ex.n_exact,
         CAST(FLOOR(({est}) * 1000000.0) AS BIGINT) AS hll_micro
  FROM ex JOIN agg ON agg.z = ex.z
"""


@register("hll_zoom_census", _hll_census_sql())
def q_hll_zoom_census(spark, sf_dir):
    """Per-zoom distinct-tile census via the deterministic HLL sketch
    (operators/sketch.py) NEXT TO the exact count — one row per zoom
    carries both, so the oracle hash-checks the estimator itself (md5
    registers + exact-integer register sum make the estimate
    bit-reproducible across engines).  The sketch is the 100 TB path:
    registers are a map-side-combinable groupBy-MAX, ≤ 256 rows per
    zoom cross the wire; the exact COUNT(DISTINCT) rides along here
    only as the accuracy witness (reference analogy: print_zoom_stats'
    per-zoom tile walk, gpx2tiles.c:771-812)."""
    from .operators import sketch

    # Dedup the integer (z, tx, ty) keys FIRST (one map-side-combined
    # aggregation over narrow ints), then build the ck string + md5
    # registers and the exact per-zoom count from the distinct tiles
    # only.  Identical output: groupBy-MAX registers are invariant
    # under duplicates and ck is injective in (z, tx, ty), so
    # COUNT(DISTINCT ck) == COUNT(*) over the distinct tiles.  The old
    # plan md5'd and regexp'd every (point × zoom) row twice (register
    # branch + countDistinct expand) — 21.3 s at sf1; this touches
    # strings only for the ~10^5 distinct tiles.
    tiles = _pyramid_tiles(spark, sf_dir).distinct()
    ck = F.concat_ws(
        "|", F.col("z").cast("string"),
        F.col("tx").cast("string"), F.col("ty").cast("string"))
    keyed = tiles.select("z", ck.alias("ck"))
    regs = sketch.hll_registers(keyed, F.col("ck"), ["z"])
    est = sketch.hll_estimate(regs, ["z"])
    exact = tiles.groupBy("z").agg(F.count("*").alias("n_exact"))
    return exact.join(est, "z")


@register("tile_occupancy_quantiles", f"""
  WITH pts AS ({PTS_SQL}),
  zs AS (SELECT CAST(unnest(generate_series(1, 8)) AS INT) AS z),
  tiles AS (
    SELECT z, {tx_sql('lon', 'z')} AS tx, {ty_sql('lat', 'z')} AS ty,
           COUNT(*) AS point_cnt
    FROM pts CROSS JOIN zs GROUP BY 1, 2, 3),
  rnk AS (
    SELECT z, point_cnt,
           ROW_NUMBER() OVER (PARTITION BY z
                              ORDER BY point_cnt, tx, ty) AS rn,
           COUNT(*) OVER (PARTITION BY z) AS n_tiles
    FROM tiles)
  SELECT z, MAX(n_tiles) AS n_tiles,
         MAX(CASE WHEN rn = GREATEST(CAST(CEIL(CAST(0.5 AS DOUBLE)
               * CAST(n_tiles AS DOUBLE)) AS BIGINT), 1)
             THEN point_cnt END) AS p50,
         MAX(CASE WHEN rn = GREATEST(CAST(CEIL(CAST(0.9 AS DOUBLE)
               * CAST(n_tiles AS DOUBLE)) AS BIGINT), 1)
             THEN point_cnt END) AS p90,
         MAX(CASE WHEN rn = GREATEST(CAST(CEIL(CAST(0.99 AS DOUBLE)
               * CAST(n_tiles AS DOUBLE)) AS BIGINT), 1)
             THEN point_cnt END) AS p99
  FROM rnk GROUP BY z
""")
def q_tile_occupancy_quantiles(spark, sf_dir):
    """Per-zoom skew profile: DISC quantiles (p50/p90/p99) of the
    per-tile point-count distribution — the skew diagnostic that
    decides when the render's salted path must engage.  DISC (selection
    at position ceil(q·n)), NOT interpolated: selection over integers
    is bit-reproducible where CONT interpolation's float blend is not.
    The quantile literals are forced to DOUBLE on both sides — DuckDB
    would otherwise evaluate 0.99·n in exact DECIMAL and ceil one off
    from the double product when n is a multiple of 100.  One window
    over the per-tile counts (the same single-shuffle shape as
    zoom_census); at 10^12 points the tile table this ranks is already
    the small aggregate."""
    counts = q_tile_counts(spark, sf_dir)
    wr = Window.partitionBy("z").orderBy("point_cnt", "tx", "ty")
    wn = Window.partitionBy("z")
    rnk = counts.select(
        "z", "point_cnt",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n_tiles"))

    def pick(q, name):
        idx = F.greatest(
            F.ceil(F.lit(q) * F.col("n_tiles").cast("double")).cast("long"),
            F.lit(1).cast("long"))
        return F.max(F.when(F.col("rn") == idx,
                            F.col("point_cnt"))).alias(name)

    return rnk.groupBy("z").agg(
        F.max("n_tiles").alias("n_tiles"),
        pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))


# pixel positions: exp-form inverse Mercator on BOTH sides so the op trees
# match exactly (DuckDB has no sinh)
def _pixel_sql(z: int) -> str:
    tx, ty = tx_sql("lon", str(z)), ty_sql("lat", str(z))
    zp = f"POW(2.0, {z})"
    n1 = f"(PI() - 2.0 * PI() * (CAST({ty} AS DOUBLE) / {zp}))"
    n2 = f"(PI() - 2.0 * PI() * ((CAST({ty} AS DOUBLE) + 1.0) / {zp}))"
    north = f"(DEGREES(ATAN(0.5 * (EXP({n1}) - EXP(-{n1})))))"
    south = f"(DEGREES(ATAN(0.5 * (EXP({n2}) - EXP(-{n2})))))"
    west = f"(-180.0 + CAST({tx} AS DOUBLE) * 360.0 / {zp})"
    east = f"({west} + 360.0 / {zp})"
    px = f"CAST(FLOOR((lon - {west}) * {TILE_W} / ({east} - {west})) AS INT)"
    py = f"CAST(FLOOR((lat - {north}) * {TILE_H} / ({south} - {north})) AS INT)"
    return (f"SELECT pid, {tx} AS tx, {ty} AS ty, {px} AS px, {py} AS py "
            f"FROM pts")


@register("pixel_positions_z16", f"WITH pts AS ({PTS_SQL})\n" + _pixel_sql(16))
def q_pixel_positions(spark, sf_dir):
    z = 16
    pts = _points(spark, sf_dir, spread=False)  # map-only (see q_tile_assign)
    tx, ty = P.tilex_col(F.col("lon"), z), P.tiley_col(F.col("lat"), z)
    pts = pts.withColumn("tx", tx).withColumn("ty", ty)
    zp = F.pow(F.lit(2.0), F.lit(z))
    n1 = F.lit(math.pi) - F.lit(2.0 * math.pi) * (F.col("ty").cast("double") / zp)
    n2 = F.lit(math.pi) - F.lit(2.0 * math.pi) * ((F.col("ty").cast("double") + F.lit(1.0)) / zp)
    north = F.degrees(F.atan(F.lit(0.5) * (F.exp(n1) - F.exp(-n1))))
    south = F.degrees(F.atan(F.lit(0.5) * (F.exp(n2) - F.exp(-n2))))
    west = F.lit(-180.0) + F.col("tx").cast("double") * F.lit(360.0) / zp
    east = west + F.lit(360.0) / zp
    px = F.floor((F.col("lon") - west) * F.lit(TILE_W) / (east - west)).cast("int")
    py = F.floor((F.col("lat") - north) * F.lit(TILE_H) / (south - north)).cast("int")
    return pts.select("pid", "tx", "ty", px.alias("px"), py.alias("py"))


@register("track_pairs", f"""
  WITH pts AS ({PTS_SQL}),
  lagged AS (
    SELECT pid, user_id, lat, lon, epoch(ts) AS es,
           LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
           LAG(epoch(ts)) OVER w AS pes
    FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, pid))
  SELECT pid, user_id,
         CAST(FLOOR(ACOS(LEAST(1.0, GREATEST(-1.0,
             SIN(RADIANS(plat)) * SIN(RADIANS(lat))
           + COS(RADIANS(plat)) * COS(RADIANS(lat)) * COS(RADIANS(lon - plon))
         ))) * 6371000.0 * 1000.0) AS BIGINT) AS dist_milli,
         CAST(FLOOR(es - pes) AS BIGINT) AS dt_sec
  FROM lagged WHERE plat IS NOT NULL
""")
def q_track_pairs(spark, sf_dir):
    pts = _points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "pid")
    es = F.col("ts").cast("timestamp").cast("double")  # NTZ → epoch seconds
    lagged = pts.select(
        "pid", "user_id", "lat", "lon", es.alias("es"),
        F.lag("lat").over(w).alias("plat"), F.lag("lon").over(w).alias("plon"),
        F.lag(es).over(w).alias("pes"),
    ).filter(F.col("plat").isNotNull())
    dist = P.earth_distance_col(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon"))
    return lagged.select(
        "pid", "user_id",
        F.floor(dist * 1000.0).cast("long").alias("dist_milli"),
        F.floor(F.col("es") - F.col("pes")).cast("long").alias("dt_sec"),
    )


@register("speed_color_hist", f"""
  WITH pts AS ({PTS_SQL})
  SELECT {speed_clridx_sql('kph')} AS clridx, COUNT(*) AS n
  FROM pts GROUP BY 1
""")
def q_speed_colors(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return (
        pts.select(speed_clridx_col(F.col("kph")).alias("clridx"))
        .groupBy("clridx").agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Cross-tile clip (R8/K8) on synthetic integer segments — pure int math
# ---------------------------------------------------------------------------

def _turn_sql(p1x, p1y, p2x, p2y, p3x, p3y) -> str:
    a = f"(CAST({p3y} - {p1y} AS BIGINT) * CAST({p2x} - {p1x} AS BIGINT))"
    b = f"(CAST({p2y} - {p1y} AS BIGINT) * CAST({p3x} - {p1x} AS BIGINT))"
    return f"(CASE WHEN {a} > {b} THEN 1 WHEN {a} < {b} THEN -1 ELSE 0 END)"


def crossing_sql(x1, y1, x2, y2) -> str:
    edges = [((0, 0), (TILE_W - 1, 0)), ((0, 0), (0, TILE_H - 1)),
             ((TILE_W - 1, 0), (TILE_W - 1, TILE_H - 1)),
             ((0, TILE_H - 1), (TILE_W - 1, TILE_H - 1))]
    parts = []
    for (e1x, e1y), (e2x, e2y) in edges:
        t1 = _turn_sql(x1, y1, e1x, e1y, e2x, e2y)
        t2 = _turn_sql(x2, y2, e1x, e1y, e2x, e2y)
        t3 = _turn_sql(x1, y1, x2, y2, e1x, e1y)
        t4 = _turn_sql(x1, y1, x2, y2, e2x, e2y)
        parts.append(f"(({t1}) <> ({t2}) AND ({t3}) <> ({t4}))")
    return "(" + " OR ".join(parts) + ")"


_SEG_SQL = """
  SELECT event_id AS pid,
         CAST(event_id * 37 % 256 AS INT) AS x1,
         CAST(event_id * 59 % 256 AS INT) AS y1,
         CAST(event_id * 37 % 256 + (event_id * 13 % 1024) - 512 AS INT) AS x2,
         CAST(event_id * 59 % 256 + (event_id * 29 % 1024) - 512 AS INT) AS y2
  FROM events
"""

@register("clip_candidates", f"""
  WITH segs AS ({_SEG_SQL}),
  tiled AS (
    SELECT *, CAST(FLOOR(x2 / 256.0) AS INT) AS tx2,
              CAST(FLOOR(y2 / 256.0) AS INT) AS ty2
    FROM segs WHERE CAST(FLOOR(x2 / 256.0) AS INT) <> 0
                 OR CAST(FLOOR(y2 / 256.0) AS INT) <> 0),
  cand AS (
    SELECT pid, ty2, x1, y1, x2, y2,
           CAST(unnest(generate_series(least(0, tx2), greatest(0, tx2))) AS INT) AS cx
    FROM tiled),
  cand2 AS (
    SELECT pid, cx, x1, y1, x2, y2,
           CAST(unnest(generate_series(least(0, ty2), greatest(0, ty2))) AS INT) AS cy
    FROM cand)
  SELECT pid, COUNT(*) AS n_crossed
  FROM cand2
  WHERE {crossing_sql('(x1 - 256 * cx)', '(y1 - 256 * cy)',
                      '(x2 - 256 * cx)', '(y2 - 256 * cy)')}
  GROUP BY pid
""")
def q_clip_candidates(spark, sf_dir):
    """Candidate-tile crossing counts, vectorized in numpy.

    The pure-Column form (explode the tile rectangle, filter on
    crossing_tile_col, groupBy pid) produced a Filter condition of 16
    fully-expanded CASE turn computations — generated code far past the
    JIT's huge-method limit, so the hot loop ran interpreted (39.8 s at
    sf1, ~170k rows/s/core).  Every candidate of a pid comes from that
    pid's OWN row (the rectangle spans least(0,t)..greatest(0,t)), so
    n_crossed is a per-row function: mapInPandas + the numpy twin of the
    CCW predicate computes it with no explode, no giant codegen, and no
    shuffle at all (guide §4.2; the old plan also shuffled every
    exploded row into a groupBy).  Bit-identical: same int64 turn signs,
    same strict edge tests, same candidate enumeration."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .operators.events import crossing_tile_np

    ev = _t(spark, sf_dir, "events")
    segs = ev.select(
        F.col("event_id").alias("pid"),
        (F.col("event_id") * 37 % 256).cast("int").alias("x1"),
        (F.col("event_id") * 59 % 256).cast("int").alias("y1"),
        (F.col("event_id") * 37 % 256 + (F.col("event_id") * 13 % 1024) - 512)
        .cast("int").alias("x2"),
        (F.col("event_id") * 59 % 256 + (F.col("event_id") * 29 % 1024) - 512)
        .cast("int").alias("y2"),
    )
    tiled = segs.withColumn("tx2", F.floor(F.col("x2") / 256.0).cast("int")) \
                .withColumn("ty2", F.floor(F.col("y2") / 256.0).cast("int")) \
                .filter((F.col("tx2") != 0) | (F.col("ty2") != 0))

    schema = T.StructType([T.StructField("pid", T.LongType(), False),
                           T.StructField("n_crossed", T.LongType(), False)])

    def count_crossed(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pid = pdf["pid"].to_numpy()
            x1 = pdf["x1"].to_numpy().astype(np.int64)
            y1 = pdf["y1"].to_numpy().astype(np.int64)
            x2 = pdf["x2"].to_numpy().astype(np.int64)
            y2 = pdf["y2"].to_numpy().astype(np.int64)
            tx2 = pdf["tx2"].to_numpy().astype(np.int64)
            ty2 = pdf["ty2"].to_numpy().astype(np.int64)
            lo_x, hi_x = np.minimum(0, tx2), np.maximum(0, tx2)
            lo_y, hi_y = np.minimum(0, ty2), np.maximum(0, ty2)
            counts = np.zeros(len(pid), np.int64)
            for cxv in range(int(lo_x.min()), int(hi_x.max()) + 1):
                mx = (lo_x <= cxv) & (hi_x >= cxv)
                if not mx.any():
                    continue
                for cyv in range(int(lo_y.min()), int(hi_y.max()) + 1):
                    idx = np.flatnonzero(mx & (lo_y <= cyv) & (hi_y >= cyv))
                    if not idx.size:
                        continue
                    c = crossing_tile_np(
                        x1[idx] - 256 * cxv, y1[idx] - 256 * cyv,
                        x2[idx] - 256 * cxv, y2[idx] - 256 * cyv)
                    counts[idx] += c
            keep = counts > 0
            yield pd.DataFrame({"pid": pid[keep], "n_crossed": counts[keep]})

    return tiled.mapInPandas(count_crossed, schema)


# ---------------------------------------------------------------------------
# kNN (J4)
# ---------------------------------------------------------------------------

_KNN_SQL = f"""
  WITH pts AS ({PTS_SQL}),
  q AS (SELECT pid AS qid, lat AS qlat, lon AS qlon FROM pts WHERE pid < 5),
  d AS (
    SELECT q.qid, p.pid,
           (p.lat - q.qlat) * (p.lat - q.qlat)
         + (p.lon - q.qlon) * (p.lon - q.qlon) AS dist2
    FROM pts p, q),
  r AS (
    SELECT qid, pid, dist2,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, pid) AS rnk
    FROM d)
  SELECT qid, pid, CAST(rnk AS INT) AS rnk,
         CAST(FLOOR(dist2 * 1e6) AS BIGINT) AS dist2_micro
  FROM r WHERE rnk <= 5
"""


@register("knn_bruteforce", _KNN_SQL)
def q_knn_brute(spark, sf_dir):
    pts = _points(spark, sf_dir).select("pid", "lat", "lon")
    qs = pts.filter(F.col("pid") < 5).select(
        F.col("pid").alias("qid"), F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"))
    r = knn.knn_bruteforce(pts, qs, 5)
    return r.select("qid", "pid", F.col("rnk").cast("int").alias("rnk"),
                    F.floor(F.col("dist2") * 1e6).cast("long").alias("dist2_micro"))


@register("knn_bucketed", _KNN_SQL)
def q_knn_bucketed(spark, sf_dir):
    pts = _points(spark, sf_dir).select("pid", "lat", "lon")
    qs = pts.filter(F.col("pid") < 5).select(
        F.col("pid").alias("qid"), F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"))
    r = knn.knn_bucketed(pts, qs, 5, z=2)
    return r.select("qid", "pid", F.col("rnk").cast("int").alias("rnk"),
                    F.floor(F.col("dist2") * 1e6).cast("long").alias("dist2_micro"))


# ---------------------------------------------------------------------------
# Point-in-polygon join (J2 engine mapping) + sessionization
# ---------------------------------------------------------------------------

@register("pip_rects", f"""
  WITH pts AS ({PTS_SQL}),
  rects AS (
    SELECT r_regionkey AS region_id, r_name AS region_name,
           CAST(r_regionkey AS DOUBLE) * 25.0 - 65.0 AS lat_min,
           CAST(r_regionkey AS DOUBLE) * 25.0 - 40.0 AS lat_max,
           CAST(r_regionkey AS DOUBLE) * 60.0 - 170.0 AS lon_min,
           CAST(r_regionkey AS DOUBLE) * 60.0 - 115.0 AS lon_max
    FROM region)
  SELECT region_id, region_name, COUNT(*) AS n_points
  FROM pts p, rects r
  WHERE p.lat >= r.lat_min AND p.lat < r.lat_max
    AND p.lon >= r.lon_min AND p.lon < r.lon_max
  GROUP BY 1, 2
""")
def q_pip_rects(spark, sf_dir):
    # broadcast containment join + 5-key partial agg: the fact side
    # never needs a shuffle, so the spread is pure cost
    pts = _points(spark, sf_dir, spread=False)
    rects = geo.region_rects(_t(spark, sf_dir, "region"))
    return (
        geo.points_in_rects(pts, rects)
        .groupBy("region_id", "region_name")
        .agg(F.count("*").alias("n_points"))
    )


# Shared polygon fixture for the ray-cast PIP — integer vertices (exact
# doubles), concave shapes included; ONE literal feeds both the Spark
# DataFrame and the SQL VALUES edge list so they cannot drift.
_PIP_POLYS: dict[int, list[tuple[float, float]]] = {
    1: [(-100, -50), (0, -50), (0, 0), (-50, 0), (-50, 50), (-100, 50)],
    2: [(20, -60), (120, -60), (70, 60)],                       # triangle
    3: [(130, -20), (170, -20), (150, 0), (170, 20), (130, 20), (145, 0)],
}


def _pip_edges_sql() -> str:
    rows = []
    for pid, vs in _PIP_POLYS.items():
        for (x1, y1), (x2, y2) in zip(vs, vs[1:] + vs[:1]):
            rows.append(f"({pid}, {float(x1)!r}, {float(y1)!r},"
                        f" {float(x2)!r}, {float(y2)!r})")
    return ",\n           ".join(rows)


@register("pip_polygons", f"""
  WITH pts AS ({PTS_SQL}),
  edges(poly_id, x1, y1, x2, y2) AS (
    VALUES {_pip_edges_sql()}),
  hits AS (
    SELECT p.pid, e.poly_id
    FROM pts p, edges e
    WHERE (e.y1 > p.lat) <> (e.y2 > p.lat)
      AND p.lon < e.x1 + (p.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1))
  SELECT pid, poly_id FROM hits
  GROUP BY pid, poly_id HAVING COUNT(*) % 2 = 1
""")
def q_pip_polygons(spark, sf_dir):
    """Ray-cast point-in-polygon over concave polygons (north rule:
    "point-in-polygon" beyond axis-aligned rects): broadcast edge
    table, half-open crossing predicate as the join condition, odd
    crossing parity per (point, polygon).  The oracle runs the same
    predicate as a theta-join in DuckDB — identical doubles because the
    vertex literals are exact and the op tree is mirrored."""
    import pandas as pd
    pts = _points(spark, sf_dir).select("pid", "lon", "lat")
    polys = spark.createDataFrame(pd.DataFrame([
        {"poly_id": k,
         "vertices": [{"x": float(x), "y": float(y)} for x, y in vs]}
        for k, vs in _PIP_POLYS.items()]))
    return geo.points_in_polygons(pts, polys)


@register("dbscan_clusters", f"""
  WITH RECURSIVE pts AS ({PTS_SQL}),
  np AS (SELECT COUNT(*) AS n FROM pts),
  e AS (SELECT 40.0 / sqrt(CAST(n AS DOUBLE)) AS eps FROM np),
  g AS (
    SELECT pid, lat, lon,
           CAST(FLOOR(lon / eps) AS BIGINT) AS cx,
           CAST(FLOOR(lat / eps) AS BIGINT) AS cy
    FROM pts CROSS JOIN e),
  off AS (SELECT * FROM (VALUES (-1), (0), (1)) o(d)),
  ga AS (
    -- materialize the exploded neighbor-cell keys BEFORE the join:
    -- an ON with arithmetic (b.cx = a.cx + ox.d) defeats DuckDB's
    -- hash-join planning and degrades to a blockwise loop at sf1
    SELECT a.pid, a.lat, a.lon, a.cx + ox.d AS jx, a.cy + oy.d AS jy
    FROM g a CROSS JOIN off ox CROSS JOIN off oy),
  nb AS (
    SELECT a.pid AS pa, b.pid AS pb
    FROM ga a JOIN g b ON b.cx = a.jx AND b.cy = a.jy
    CROSS JOIN e
    WHERE (a.lat - b.lat) * (a.lat - b.lat)
        + (a.lon - b.lon) * (a.lon - b.lon) <= eps * eps),
  cnt AS (SELECT pa, COUNT(*) AS c FROM nb GROUP BY pa),
  core AS (SELECT pa AS pid FROM cnt WHERE c >= 3),
  ed AS (
    SELECT pa AS u, pb AS v FROM nb
    WHERE pa < pb AND pa IN (SELECT pid FROM core)
      AND pb IN (SELECT pid FROM core)),
  sym AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
  reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
  lab AS (SELECT u, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u),
  core_lab AS (
    SELECT c.pid, COALESCE(l.cluster_id, c.pid) AS cluster_id
    FROM core c LEFT JOIN lab l ON l.u = c.pid),
  border AS (
    SELECT n.pa AS pid, MIN(cl.cluster_id) AS cluster_id
    FROM nb n JOIN core_lab cl ON n.pb = cl.pid
    WHERE n.pa NOT IN (SELECT pid FROM core)
    GROUP BY n.pa)
  SELECT pid, cluster_id, 1 AS is_core FROM core_lab
  UNION ALL
  SELECT pid, cluster_id, 0 AS is_core FROM border
""")
def q_dbscan_clusters(spark, sf_dir):
    """DBSCAN hotspot clustering over the derived point stream with
    density-invariant auto-ε (40/√n keeps the expected ε-degree O(1),
    so the neighbor-pair table stays LINEAR in n — the property that
    lets the grid-join survive 100 TB; a fixed ε would go quadratic).
    Spark side: eps-grid 3×3 equi-join → core filter → Large-Star/
    Small-Star components → deterministic min-label border assignment.
    Oracle re-derives components as a recursive reachability closure —
    different algorithm, same answer, so the hash match checks the
    ALGORITHM (the dedup_clusters discipline).  The one count() before
    the plan is the ε auto-tune (bounded: a single scalar).
    spread=False: the grid self-join shuffles on the cell key right
    away, so the scan-spread repartition only adds an exchange that the
    self-join's two consumers re-execute (A/B at sf1: 7.4 s raw vs
    12.5 s spread)."""
    pts = _points(spark, sf_dir, spread=False).select("pid", "lat", "lon")
    n = pts.count()
    return geo.dbscan(pts, eps=40.0 / math.sqrt(float(n)), min_pts=3)


@register("track_hausdorff", f"""
  WITH pts AS ({PTS_SQL}),
  tc AS (
    SELECT DISTINCT user_id AS uid, {tx_sql('lon', '8')} AS tx,
           {ty_sql('lat', '8')} AS ty
    FROM pts),
  pairs0 AS (
    SELECT a.uid AS ua, b.uid AS ub, COUNT(*) AS n_shared
    FROM tc a JOIN tc b ON a.tx = b.tx AND a.ty = b.ty AND a.uid < b.uid
    GROUP BY 1, 2 HAVING COUNT(*) >= 4),
  pairs AS (
    SELECT ua, ub, n_shared FROM (
      SELECT ua, ub, n_shared,
             ROW_NUMBER() OVER (PARTITION BY ua
                                ORDER BY n_shared DESC, ub) AS rk
      FROM pairs0) t
    WHERE rk <= 4),
  j AS (
    SELECT p.ua, p.ub, p.n_shared, a.pid AS p_a, b.pid AS p_b,
           (a.lat - b.lat) * (a.lat - b.lat)
         + (a.lon - b.lon) * (a.lon - b.lon) AS d2
    FROM pairs p
    JOIN pts a ON a.user_id = p.ua
    JOIN pts b ON b.user_id = p.ub),
  h_ab AS (
    SELECT ua, ub, n_shared, MAX(md) AS h_ab FROM (
      SELECT ua, ub, n_shared, p_a, MIN(d2) AS md
      FROM j GROUP BY 1, 2, 3, 4) t GROUP BY 1, 2, 3),
  h_ba AS (
    SELECT ua, ub, MAX(md) AS h_ba FROM (
      SELECT ua, ub, p_b, MIN(d2) AS md
      FROM j GROUP BY 1, 2, 3) t GROUP BY 1, 2)
  SELECT a.ua, a.ub, a.n_shared,
         CAST(FLOOR(GREATEST(a.h_ab, b.h_ba) * 1000000.0) AS BIGINT)
           AS hausdorff_micro
  FROM h_ab a JOIN h_ba b ON a.ua = b.ua AND a.ub = b.ub
""")
def q_track_hausdorff(spark, sf_dir):
    """Trajectory near-dup: shared-z8-tile candidate prefilter (the
    spatial LSH band) capped at each track's 4 most-overlapping
    partners (verified pairs ≤ 4n at ANY density — measured 389→470k
    uncapped pairs across one decade motivated the budget) → exact
    symmetric Hausdorff over each surviving pair's point sets.
    Max-of-min is pure selection over identically derived doubles —
    no accumulation, so bit-reproducible."""
    return geo.track_hausdorff(_points(spark, sf_dir), z=8, min_shared=4,
                               max_pairs_per_track=4)


@register("asof_join_alerts", """
  WITH a AS (
    SELECT user_id, event_id AS aeid FROM events WHERE event_id % 20 = 0)
  SELECT e.event_id, e.user_id, a.aeid, e.event_id - a.aeid AS gap
  FROM events e ASOF JOIN a
    ON e.user_id = a.user_id AND e.event_id >= a.aeid
""")
def q_asof_join_alerts(spark, sf_dir):
    """As-of join: every event matched to the latest alert (every 20th
    event, derived deterministically) at-or-before it per user.  Spark
    side is the join-free single-window LOCF (operators/geo.asof_join);
    the oracle is DuckDB's native ASOF JOIN — different algorithm,
    same rows, so the hash match checks the temporal-join semantics."""
    ev = _t(spark, sf_dir, "events")
    alerts = (ev.filter(F.col("event_id") % 20 == 0)
              .select("user_id", F.col("event_id").alias("aeid")))
    return geo.asof_join(ev, alerts)


@register("range_join_bands", """
  WITH bands AS (
    SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS band_id),
  b AS (
    SELECT band_id, CAST(band_id AS DOUBLE) * 7.5 AS lo,
           CAST(band_id AS DOUBLE) * 7.5 + 20.0 AS hi
    FROM bands)
  SELECT b.band_id, COUNT(*) AS n_events,
         MIN(e.event_id) AS min_eid, MAX(e.event_id) AS max_eid
  FROM events e JOIN b ON e.value >= b.lo AND e.value < b.hi
  GROUP BY b.band_id
""")
def q_range_join_bands(spark, sf_dir):
    """Range join: events matched to 64 OVERLAPPING value bands
    (stride 7.5, width 20 — each value hits ~2.7 bands).  Spark side
    is the bucketed equi-join (operators/geo.range_join_buckets); the
    oracle is the naive theta join, which DuckDB plans as an IE-join —
    different algorithm, same rows.  Output per band uses COUNT / MIN
    / MAX only (selection, never float accumulation)."""
    ev = _t(spark, sf_dir, "events")
    k = F.col("band_id").cast("double")
    bands = (spark.range(64).select(F.col("id").cast("int").alias("band_id"))
             .select("band_id", (k * 7.5).alias("lo"),
                     (k * 7.5 + 20.0).alias("hi")))
    j = geo.range_join_buckets(ev, bands, "value", "lo", "hi", 20.0)
    return j.groupBy("band_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_eid"),
        F.max("event_id").alias("max_eid"))


@register("sessionize", """
  WITH s AS (
    SELECT user_id, event_id,
           CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
  SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
         COUNT(*) AS n_events
  FROM s GROUP BY user_id
""")
def q_sessionize(spark, sf_dir):
    ev = geo.sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)
    return ev.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"))


@register("dedup_consecutive", """
  WITH s AS (
    SELECT user_id, event_type, value,
           LAG(event_type) OVER w AS pet, LAG(value) OVER w AS pv
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
  SELECT user_id, COUNT(*) AS n_total,
         CAST(SUM(CASE WHEN pet IS NULL OR pet <> event_type OR pv <> value
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM s GROUP BY user_id
""")
def q_dedup_consecutive(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "event_type", "value",
        F.lag("event_type").over(w).alias("pet"),
        F.lag("value").over(w).alias("pv"))
    keep = F.when(
        F.col("pet").isNull() | (F.col("pet") != F.col("event_type"))
        | (F.col("pv") != F.col("value")), 1).otherwise(0)
    return s.groupBy("user_id").agg(
        F.count("*").alias("n_total"),
        F.sum(keep).alias("n_kept"))


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / text / ANN over documents + embeddings
# ---------------------------------------------------------------------------

@register("dedup_exact", """
  SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
         CAST(MIN(doc_id) AS BIGINT) AS keep_id
  FROM documents GROUP BY 1
""")
def q_dedup_exact(spark, sf_dir):
    # groupBy(content_hash) can't reuse a doc_id spread; md5 of the
    # corpus is cheap map work (A/B sf1: 0.31 s raw vs 0.70 s spread)
    docs = _t(spark, sf_dir, "documents", spread=False)
    return dedup.exact_duplicates(docs)


_SHINGLES_SQL = """
    SELECT DISTINCT doc_id, sh AS shingle FROM (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(l) - 2, 1)),
               i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
"""

_MINHASH_CTES = f"""shingles AS ({_SHINGLES_SQL}),
  sigs AS (
    SELECT doc_id,
           {', '.join(f"MIN(md5('s{i}|' || shingle)) AS mh{i}" for i in range(8))}
    FROM shingles GROUP BY doc_id),
  bands AS (
    {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, md5(mh{2*b} || '|' || mh{2*b+1}) AS band_key FROM sigs"
        for b in range(4))}
  ),
  mh_pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id)"""

@register("minhash_lsh_pairs", f"""
  WITH {_MINHASH_CTES}
  SELECT doc_a, doc_b FROM mh_pairs
""")
def q_minhash_lsh(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # distinct=False: MIN-of-md5 signatures are duplicate-invariant, so
    # the per-doc shingle dedup aggregation is pure cost here
    sh = dedup.doc_shingles(docs, n=3, distinct=False)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    return dedup.lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)


@register("dedup_clusters", f"""
  WITH RECURSIVE {_MINHASH_CTES},
  sym AS (
    SELECT doc_a AS u, doc_b AS v FROM mh_pairs
    UNION SELECT doc_b, doc_a FROM mh_pairs),
  reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
  lab AS (SELECT u, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u)
  SELECT CAST(u AS BIGINT) AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
  FROM lab
""")
def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster formation: MinHash-LSH candidate pairs →
    connected components → (doc_id, cluster_id = component min) — the
    keep/drop decision a dedup pipeline derives from pairwise evidence
    (reference analogy: gpx2tiles groups points into per-tile draw sets;
    this groups documents into per-cluster dedup sets).  Spark side is
    the alternating Large-Star/Small-Star O(log n) relational loop;
    the oracle re-derives components as a recursive reachability
    closure + min-label — same answer, different algorithm, so the
    hash match checks the ALGORITHM, not a mirrored op tree."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.doc_shingles(docs, n=3, distinct=False)  # min-invariant
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    return dedup.connected_components(pairs)


@register("simhash16", f"""
  WITH words AS (
    SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
  votes AS (
    SELECT doc_id,
           {', '.join(
               "CAST(SUM(CASE WHEN substr(h, %d, 1) >= '8' THEN 1 ELSE -1 END) AS BIGINT) AS v%d"
               % (j + 1, j) for j in range(16))}
    FROM words GROUP BY doc_id)
  SELECT doc_id,
         CAST({' + '.join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))}
              AS BIGINT) AS simhash
  FROM votes
""")
def q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash16(docs)


@register("ngram_jaccard", f"""
  WITH shingles AS ({_SHINGLES_SQL}),
  sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
  pop AS (
    SELECT doc_id, shingle FROM (
      SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
      FROM shingles WHERE doc_id <= 40)
    WHERE df <= 10000),
  inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM pop a JOIN pop b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2)
  SELECT doc_a, doc_b, n_common,
         CAST(FLOOR(n_common * 1000000.0 / (sa.sz + sb.sz - n_common)) AS BIGINT)
           AS jaccard_micro
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
""")
def q_ngram_jaccard(spark, sf_dir):
    # the doc_id <= 40 prefilter keeps a handful of docs — spreading
    # the full corpus first is pure cost
    docs = _t(spark, sf_dir, "documents", spread=False)
    sh = dedup.doc_shingles(docs, n=3)
    return dedup.ngram_jaccard_pairs(sh, max_id=40)


@register("token_counts", """
  SELECT doc_id,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS alpha_tokens,
         CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS num_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
""")
def q_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textstats.token_counts(docs)
    return out.select(
        "doc_id", F.col("ws_tokens").cast("long").alias("ws_tokens"),
        "alpha_tokens", "num_tokens",
        F.col("n_chars").cast("long").alias("n_chars"))


def _stop_hits_sql(lang: str) -> str:
    terms = [
        f"((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2.0})"
        for w in textstats.STOPWORDS[lang]
    ]
    return "(" + " + ".join(terms) + ")"


@register("quality_scores", f"""
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(FLOOR({_stop_hits_sql('en')}) AS BIGINT) AS stop_hits,
         CAST(FLOOR(CAST(length(text) AS DOUBLE)
              / (length(text) - length(replace(text, ' ', '')) + 1) * 1000000.0) AS BIGINT)
           AS avg_word_len_micro,
         CAST(FLOOR(1000000.0
           * LEAST(1.0, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) / 50.0)
           * (1.0 - LEAST(1.0, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                               * 5.0 / length(text)))) AS BIGINT) AS quality_micro
  FROM documents
""")
def q_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textstats.quality_scores(docs)
    return out.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_punct").cast("long").alias("n_punct"),
        "stop_hits", "avg_word_len_micro", "quality_micro")


@register("language_id", f"""
  SELECT doc_id,
         CAST(FLOOR({_stop_hits_sql('en')}) AS BIGINT) AS en_hits,
         CAST(FLOOR({_stop_hits_sql('de')}) AS BIGINT) AS de_hits,
         CAST(FLOOR({_stop_hits_sql('fr')}) AS BIGINT) AS fr_hits,
         CASE WHEN {_stop_hits_sql('en')} >= {_stop_hits_sql('de')}
               AND {_stop_hits_sql('en')} >= {_stop_hits_sql('fr')} THEN 'en'
              WHEN {_stop_hits_sql('de')} >= {_stop_hits_sql('fr')} THEN 'de'
              ELSE 'fr' END AS lang_guess
  FROM documents
""")
def q_langid(spark, sf_dir):
    return textstats.language_id(_t(spark, sf_dir, "documents"))


@register("fingerprints", """
  SELECT doc_id,
         list_min(list_transform(
           generate_series(1, greatest(len(l) - 3, 1)),
           i -> md5(array_to_string(list_slice(l, i, i + 3), ' ')))) AS fingerprint,
         CAST(greatest(len(l) - 3, 1) AS INT) AS n_shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
""")
def q_fingerprints(spark, sf_dir):
    return textstats.fingerprints(_t(spark, sf_dir, "documents"), n=4)


@register("doc_stats", """
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(FLOOR(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) * 1000.0) AS BIGINT)
           AS avg_chars_milli
  FROM documents GROUP BY 1, 2
""")
def q_doc_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.floor(F.sum("n_chars").cast("double") / F.count("*") * 1000.0)
        .cast("long").alias("avg_chars_milli"))


_COS_SQL = """
  WITH pos AS (
    SELECT vec_id,
           CAST(unnest(generate_series(1, len(embedding))) AS INT) AS i,
           unnest(list_transform(generate_series(1, len(embedding)),
                                 i -> CAST(embedding[i] AS DOUBLE))) AS v
    FROM embeddings),
  norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM pos GROUP BY vec_id),
  q AS (SELECT vec_id AS qid, i, v AS qv FROM pos WHERE vec_id < 3),
  dots AS (
    SELECT q.qid, p.vec_id, SUM(p.v * q.qv) AS dot
    FROM pos p JOIN q ON p.i = q.i GROUP BY 1, 2),
  cos AS (
    SELECT d.qid, d.vec_id,
           -- round-half-up like the Spark side: exact-copy pairs sit on
           -- the floor(1.0e6) boundary (ann.with_cosine)
           CAST(FLOOR(d.dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) AS BIGINT) AS cos_micro
    FROM dots d
    JOIN norms na ON na.vec_id = d.qid
    JOIN norms nb ON nb.vec_id = d.vec_id),
  r AS (
    SELECT qid, vec_id, cos_micro,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_micro DESC, vec_id) AS rnk
    FROM cos)
  SELECT qid, vec_id, cos_micro, CAST(rnk AS INT) AS rnk
  FROM r WHERE rnk <= 10
"""


@register("cosine_topk", _COS_SQL)
def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding"))
    return ann.cosine_topk_bruteforce(emb.select("vec_id", "embedding"), qs, k=10)


# ---------------------------------------------------------------------------
# More reference-operator queries (R3/R4/R9/W3, heatmap phase-1, rollup)
# ---------------------------------------------------------------------------

@register("wpt_circle_rect", f"""
  WITH pix AS (
    SELECT event_id AS pid,
           CAST(event_id * 37 % 256 AS INT) AS px,
           CAST(event_id * 59 % 256 AS INT) AS py,
           CAST(event_id * 7 % 1024 AS INT) AS tx,
           CAST(event_id * 11 % 1024 AS INT) AS ty
    FROM events)
  SELECT pid,
         GREATEST(LEAST(CASE WHEN px - 9 < 0
             THEN tx + CAST(TRUNC((px - 9) / 256.0) AS INT) - 1 ELSE tx END, 1023), 0) AS lt_x,
         GREATEST(LEAST(CASE WHEN py - 9 < 0
             THEN ty + CAST(TRUNC((py - 9) / 256.0) AS INT) - 1 ELSE ty END, 1023), 0) AS lt_y,
         GREATEST(LEAST(CASE WHEN px + 9 > 256
             THEN tx + CAST(TRUNC((px + 9) / 256.0) AS INT) ELSE tx END, 1023), 0) AS rb_x,
         GREATEST(LEAST(CASE WHEN py + 9 > 256
             THEN ty + CAST(TRUNC((py + 9) / 256.0) AS INT) ELSE ty END, 1023), 0) AS rb_y,
         px + 1 AS c0_x, py + 1 AS c0_y
  FROM pix
""")
def q_wpt_circle_rect(spark, sf_dir):
    """Waypoint-circle neighbor-tile rect (gpx2tiles.c:531-567) on synthetic
    integer pixels — the exact C arithmetic incl. truncating division and
    the (r+256)/256 center offset, at a 1024-tile z=10 grid."""
    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    pix = ev.select(
        e.alias("pid"),
        (e * 37 % 256).cast("int").alias("px"),
        (e * 59 % 256).cast("int").alias("py"),
        (e * 7 % 1024).cast("int").alias("tx"),
        (e * 11 % 1024).cast("int").alias("ty"),
    )
    r = 9
    n_max = 1023

    def clamp(c):
        return F.greatest(F.least(c, F.lit(n_max)), F.lit(0))

    def cdiv(c):
        return (c.cast("double") / F.lit(256.0)).cast("int")

    return pix.select(
        "pid",
        clamp(F.when(F.col("px") - r < 0,
                     F.col("tx") + cdiv(F.col("px") - F.lit(r)) - 1)
              .otherwise(F.col("tx"))).alias("lt_x"),
        clamp(F.when(F.col("py") - r < 0,
                     F.col("ty") + cdiv(F.col("py") - F.lit(r)) - 1)
              .otherwise(F.col("ty"))).alias("lt_y"),
        clamp(F.when(F.col("px") + r > 256,
                     F.col("tx") + cdiv(F.col("px") + F.lit(r)))
              .otherwise(F.col("tx"))).alias("rb_x"),
        clamp(F.when(F.col("py") + r > 256,
                     F.col("ty") + cdiv(F.col("py") + F.lit(r)))
              .otherwise(F.col("ty"))).alias("rb_y"),
        (F.col("px") + 1).alias("c0_x"),
        (F.col("py") + 1).alias("c0_y"),
    )


@register("pseudo_time_rank", """
  SELECT event_id AS pid, user_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT)
           AS pt_idx,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS VARCHAR)
           AS pseudo_time
  FROM events
""")
def q_pseudo_time(spark, sf_dir):
    """R4/W3: running point index as pseudo-time (gpx.c:337-338)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w) - 1
    return ev.select(
        F.col("event_id").alias("pid"), "user_id",
        rn.cast("long").alias("pt_idx"),
        rn.cast("string").alias("pseudo_time"))


@register("speed_synth_window", f"""
  WITH pts AS ({PTS_SQL}),
  lagged AS (
    SELECT pid, user_id, lat, lon, kph, epoch(ts) AS es,
           LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
           LAG(kph) OVER w AS pkph, LAG(epoch(ts)) OVER w AS pes,
           LEAD(kph) OVER w AS nkph
    FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, pid))
  SELECT pid, user_id,
         CASE WHEN pkph IS NOT NULL AND nkph IS NOT NULL
              THEN CAST(FLOOR((pkph + nkph) / 2.0 * 1000.0) AS BIGINT)
              WHEN plat IS NOT NULL
              THEN CAST(FLOOR(ACOS(LEAST(1.0, GREATEST(-1.0,
                     SIN(RADIANS(plat)) * SIN(RADIANS(lat))
                   + COS(RADIANS(plat)) * COS(RADIANS(lat)) * COS(RADIANS(lon - plon))
                 ))) * 6371000.0
                 / GREATEST(1.0, FLOOR(es - pes)) * 1000.0) AS BIGINT)
              ELSE NULL END AS synth_speed_milli
  FROM lagged
""")
def q_speed_synth_window(spark, sf_dir):
    """R3's window-expressible core: average of neighbors when both exist,
    else distance/max(1,dt).  (The reference's sequential synthesized-
    prev-feeds-next chain is kept exact in the parse stage — gpx.c:273-299;
    this is the relational approximation used for SQL-side analytics.)"""
    pts = _points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "pid")
    es = F.col("ts").cast("timestamp").cast("double")
    lagged = pts.select(
        "pid", "user_id", "lat", "lon", "kph", es.alias("es"),
        F.lag("lat").over(w).alias("plat"), F.lag("lon").over(w).alias("plon"),
        F.lag("kph").over(w).alias("pkph"), F.lag(es).over(w).alias("pes"),
        F.lead("kph").over(w).alias("nkph"))
    dist = P.earth_distance_col(F.col("plat"), F.col("plon"),
                                F.col("lat"), F.col("lon"))
    synth = (
        F.when(F.col("pkph").isNotNull() & F.col("nkph").isNotNull(),
               F.floor((F.col("pkph") + F.col("nkph")) / 2.0 * 1000.0))
        .when(F.col("plat").isNotNull(),
              F.floor(dist / F.greatest(F.lit(1.0),
                                        F.floor(F.col("es") - F.col("pes")))
                      * 1000.0))
        .otherwise(F.lit(None))
    )
    return lagged.select("pid", "user_id",
                         synth.cast("long").alias("synth_speed_milli"))


@register("heatmap_hits", f"""
  WITH pts AS ({PTS_SQL}),
  pxy AS ({_pixel_sql(12)})
  SELECT tx, ty, px, py, COUNT(*) AS hits
  FROM pxy GROUP BY 1, 2, 3, 4 HAVING COUNT(*) > 1
""")
def q_heatmap_hits(spark, sf_dir):
    """Heatmap phase 1 relationally: per-(tile, pixel) hit counts at z12 —
    the commutative reformulation of intensify^n (SURVEY.md §4)."""
    z = 12
    pts = _points(spark, sf_dir)
    tx, ty = P.tilex_col(F.col("lon"), z), P.tiley_col(F.col("lat"), z)
    pts = pts.withColumn("tx", tx).withColumn("ty", ty)
    import math as _m
    zp = F.pow(F.lit(2.0), F.lit(z))
    n1 = F.lit(_m.pi) - F.lit(2.0 * _m.pi) * (F.col("ty").cast("double") / zp)
    n2 = F.lit(_m.pi) - F.lit(2.0 * _m.pi) * ((F.col("ty").cast("double") + F.lit(1.0)) / zp)
    north = F.degrees(F.atan(F.lit(0.5) * (F.exp(n1) - F.exp(-n1))))
    south = F.degrees(F.atan(F.lit(0.5) * (F.exp(n2) - F.exp(-n2))))
    west = F.lit(-180.0) + F.col("tx").cast("double") * F.lit(360.0) / zp
    east = west + F.lit(360.0) / zp
    px = F.floor((F.col("lon") - west) * F.lit(TILE_W) / (east - west)).cast("int")
    py = F.floor((F.col("lat") - north) * F.lit(TILE_H) / (south - north)).cast("int")
    return (
        pts.select("tx", "ty", px.alias("px"), py.alias("py"))
        .groupBy("tx", "ty", "px", "py").agg(F.count("*").alias("hits"))
        .filter(F.col("hits") > 1)
    )


@register("cell_rollup", f"""
  WITH pts AS ({PTS_SQL}),
  cells AS (
    SELECT CAST({P.quadkey_sql(tx_sql('lon', '8'), ty_sql('lat', '8'), 8)} AS BIGINT) AS cell
    FROM pts),
  counts AS (SELECT cell, COUNT(*) AS n FROM cells GROUP BY cell)
  SELECT cell >> 2 AS parent_cell, CAST(SUM(n) AS BIGINT) AS n_points,
         COUNT(*) AS n_children
  FROM counts GROUP BY 1
""")
def q_cell_rollup(spark, sf_dir):
    """Hierarchical cell rollup: z8 quadkey counts aggregated to the z7
    parent via cell >> 2 (the Morton prefix property) — the hypertable-
    rollup analog over the S2-style index."""
    pts = _points(spark, sf_dir)
    tx, ty = P.tilex_col(F.col("lon"), 8), P.tiley_col(F.col("lat"), 8)
    cells = pts.select(P.quadkey_col(tx, ty, 8).alias("cell"))
    counts = cells.groupBy("cell").agg(F.count("*").alias("n"))
    return counts.groupBy(F.shiftright("cell", 2).alias("parent_cell")).agg(
        F.sum("n").alias("n_points"), F.count("*").alias("n_children"))


# Liang–Barsky slab interval, SQL side — mirrors geo.clip_segments_to_tiles
# op for op (division / greatest / least are IEEE-identical given identical
# inputs; the segment endpoints below are dyadic rationals, i.e. EXACT
# doubles in both engines, so every downstream double matches bitwise).
def _lb_t_sql(d: str, p0: str, lo: str, hi: str, enter: bool) -> str:
    a, b = (lo, hi) if enter else (hi, lo)
    full, empty = ("0.0", "2.0") if enter else ("1.0", "-1.0")
    return f"""CASE WHEN {d} > 0 THEN ({a} - {p0}) / {d}
                WHEN {d} < 0 THEN ({b} - {p0}) / {d}
                ELSE CASE WHEN {p0} >= {lo} AND {p0} <= {hi}
                          THEN {full} ELSE {empty} END END"""


_CLIP_SEGS_SQL = """
  SELECT event_id AS sid,
         CAST(event_id * 37 % 2097152 AS DOUBLE)
           + CAST(event_id % 16 AS DOUBLE) / 16.0 AS gx0,
         CAST(event_id * 59 % 2097152 AS DOUBLE)
           + CAST(event_id % 8 AS DOUBLE) / 8.0 AS gy0,
         CAST(event_id * 37 % 2097152 AS DOUBLE)
           + CAST(event_id % 16 AS DOUBLE) / 16.0
           + CAST(event_id * 13 % 2048 - 1024 AS DOUBLE) AS gx1,
         CAST(event_id * 59 % 2097152 AS DOUBLE)
           + CAST(event_id % 8 AS DOUBLE) / 8.0
           + CASE WHEN event_id % 10 = 0 THEN 0.0
                  ELSE CAST(event_id * 29 % 2048 - 1024 AS DOUBLE) END AS gy1
  FROM events
"""


@register("segment_clip_lb", f"""
  WITH segs AS ({_CLIP_SEGS_SQL}),
  boxed AS (
    SELECT *, CAST(FLOOR(gx0 / 256) AS INT) AS txa,
              CAST(FLOOR(gx1 / 256) AS INT) AS txb,
              CAST(FLOOR(gy0 / 256) AS INT) AS tya,
              CAST(FLOOR(gy1 / 256) AS INT) AS tyb
    FROM segs),
  guarded AS (
    SELECT * FROM boxed
    WHERE abs(txb - txa) <= 4 AND abs(tyb - tya) <= 4),
  cx AS (
    SELECT *, CAST(unnest(generate_series(least(txa, txb),
                                          greatest(txa, txb))) AS INT) AS tx
    FROM guarded),
  cxy AS (
    SELECT *, CAST(unnest(generate_series(least(tya, tyb),
                                          greatest(tya, tyb))) AS INT) AS ty
    FROM cx),
  slabs AS (
    SELECT sid, tx, ty, gx0, gy0, gx1 - gx0 AS dx, gy1 - gy0 AS dy,
      GREATEST(0.0,
        {_lb_t_sql('(gx1 - gx0)', 'gx0', '(CAST(tx AS DOUBLE) * 256.0)',
                   '(CAST(tx AS DOUBLE) * 256.0 + 256.0)', True)},
        {_lb_t_sql('(gy1 - gy0)', 'gy0', '(CAST(ty AS DOUBLE) * 256.0)',
                   '(CAST(ty AS DOUBLE) * 256.0 + 256.0)', True)}) AS t0,
      LEAST(1.0,
        {_lb_t_sql('(gx1 - gx0)', 'gx0', '(CAST(tx AS DOUBLE) * 256.0)',
                   '(CAST(tx AS DOUBLE) * 256.0 + 256.0)', False)},
        {_lb_t_sql('(gy1 - gy0)', 'gy0', '(CAST(ty AS DOUBLE) * 256.0)',
                   '(CAST(ty AS DOUBLE) * 256.0 + 256.0)', False)}) AS t1
    FROM cxy)
  SELECT sid, tx, ty,
         CAST(FLOOR((gx0 + t0 * dx) * 1000000.0) AS BIGINT) AS cx0_micro,
         CAST(FLOOR((gy0 + t0 * dy) * 1000000.0) AS BIGINT) AS cy0_micro,
         CAST(FLOOR((gx0 + t1 * dx) * 1000000.0) AS BIGINT) AS cx1_micro,
         CAST(FLOOR((gy0 + t1 * dy) * 1000000.0) AS BIGINT) AS cy1_micro
  FROM slabs WHERE t0 <= t1
""")
def q_segment_clip_lb(spark, sf_dir):
    """Segment-splitting clip at tile boundaries (north_star's
    Cohen–Sutherland item, realized as the closed-form Liang–Barsky
    slab clip): one row per (segment, tile) with the clipped
    sub-segment endpoints.  Whole-stage-codegen Columns end to end —
    bbox sequence explode + parametric interval filter, no UDF; the
    max_span guard bounds the explode against glitch segments (the
    degenerate-bucket philosophy applied to spatial fan-out)."""
    from .operators.geo import clip_segments_to_tiles
    e = F.col("event_id")
    gx0 = (e * 37 % 2097152).cast("double") + (e % 16).cast("double") / 16.0
    gy0 = (e * 59 % 2097152).cast("double") + (e % 8).cast("double") / 8.0
    segs = _t(spark, sf_dir, "events").select(
        e.alias("sid"), gx0.alias("gx0"), gy0.alias("gy0"),
        (gx0 + (e * 13 % 2048 - 1024).cast("double")).alias("gx1"),
        (gy0 + F.when(e % 10 == 0, F.lit(0.0)).otherwise(
            (e * 29 % 2048 - 1024).cast("double"))).alias("gy1"))
    clipped = clip_segments_to_tiles(segs, tile_px=256, max_span=4)
    return clipped.select(
        "sid", "tx", "ty",
        F.floor(F.col("cx0") * 1e6).cast("long").alias("cx0_micro"),
        F.floor(F.col("cy0") * 1e6).cast("long").alias("cy0_micro"),
        F.floor(F.col("cx1") * 1e6).cast("long").alias("cx1_micro"),
        F.floor(F.col("cy1") * 1e6).cast("long").alias("cy1_micro"))


def _s2_chain(level: int, src: str, ids: str, sfx: str = "") -> str:
    """DuckDB CTE chain replicating operators/s2.py for the rows of CTE
    `src` (must expose lon/lat plus the `ids` passthrough columns):
    unit vector → face/(u,v) → quadratic ST → (i,j) at 2^level →
    Hilbert position via a recursive CTE running the same per-bit
    orientation state machine, packed to the canonical uint64 id
    (HUGEINT → two's-complement BIGINT wrap).  All CTE names carry
    `sfx` so two chains (e.g. points and POIs) can coexist under one
    WITH RECURSIVE.  FP parity: every expression mirrors the numpy op
    tree (verified exact on all three sf grids); ⌊s·2^level⌋ at the
    TARGET level keeps the floor's decision margin 2^(30-level)× wider
    than the canonical 30-bit form while producing identical ids
    (prefix property)."""
    n = 1 << level
    lsb = 1 << (60 - 2 * level)
    shift = 1 << (61 - 2 * level)
    rad = "0.017453292519943295"  # numpy's double for pi/180
    return f"""xyz{sfx} AS (
  SELECT {ids},
         cos(lat*{rad})*cos(lon*{rad}) AS x,
         cos(lat*{rad})*sin(lon*{rad}) AS y,
         sin(lat*{rad}) AS z
  FROM {src}),
ax{sfx} AS (
  SELECT *, CASE WHEN abs(x) > abs(y) AND abs(x) > abs(z) THEN 0
                 WHEN abs(y) > abs(z) THEN 1 ELSE 2 END AS axis
  FROM xyz{sfx}),
fm{sfx} AS (
  SELECT *, CASE axis WHEN 0 THEN x WHEN 1 THEN y ELSE z END AS major,
         CASE WHEN (CASE axis WHEN 0 THEN x WHEN 1 THEN y ELSE z END) >= 0
              THEN axis ELSE axis + 3 END AS face
  FROM ax{sfx}),
uv{sfx} AS (
  SELECT {ids}, face,
         (CASE face WHEN 0 THEN y WHEN 1 THEN -x WHEN 2 THEN -x
                    WHEN 3 THEN z WHEN 4 THEN z ELSE -y END) / major AS u,
         (CASE face WHEN 0 THEN z WHEN 1 THEN z WHEN 2 THEN -y
                    WHEN 3 THEN y WHEN 4 THEN -x ELSE -x END) / major AS v
  FROM fm{sfx}),
st{sfx} AS (
  SELECT {ids}, face,
         CASE WHEN u >= 0 THEN 0.5*sqrt(1.0 + 3.0*u)
              ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*u) END AS s,
         CASE WHEN v >= 0 THEN 0.5*sqrt(1.0 + 3.0*v)
              ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*v) END AS t
  FROM uv{sfx}),
ij{sfx} AS (
  SELECT {ids}, face,
         LEAST(GREATEST(CAST(FLOOR(s * {n}.0) AS BIGINT), 0), {n - 1}) AS i,
         LEAST(GREATEST(CAST(FLOOR(t * {n}.0) AS BIGINT), 0), {n - 1}) AS j
  FROM st{sfx}),
hil{sfx} AS (
  SELECT {ids}, face, i, j, {level} AS k,
         CAST(0 AS BIGINT) AS pos, face % 2 AS orient
  FROM ij{sfx}
  UNION ALL
  SELECT {ids}, face, i, j, k - 1, pos * 4 + sub,
         xor(orient, CASE sub WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END)
  FROM (
    SELECT *, CASE orient * 4 + ((i >> (k-1)) & 1) * 2 + ((j >> (k-1)) & 1)
        WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 2
        WHEN 4 THEN 0 WHEN 5 THEN 3 WHEN 6 THEN 1 WHEN 7 THEN 2
        WHEN 8 THEN 2 WHEN 9 THEN 3 WHEN 10 THEN 1 WHEN 11 THEN 0
        WHEN 12 THEN 2 WHEN 13 THEN 1 WHEN 14 THEN 3 ELSE 0 END AS sub
    FROM hil{sfx} WHERE k > 0) t{sfx}),
cells{sfx} AS (
  SELECT {ids},
         CAST(CASE WHEN hid >= 9223372036854775808
                   THEN hid - 18446744073709551616 ELSE hid END AS BIGINT)
           AS s2_cell
  FROM (SELECT {ids},
               CAST(face AS HUGEINT) * 2305843009213693952
             + CAST(pos AS HUGEINT) * {shift} + {lsb} AS hid
        FROM hil{sfx} WHERE k = 0) z{sfx})"""


def _s2_sql(level: int, body: str) -> str:
    return (f"\nWITH RECURSIVE pts AS ({PTS_SQL}),\n"
            + _s2_chain(level, "pts", "pid, user_id") + f"\n{body}\n")


@register("s2_cells_l12", _s2_sql(12, "SELECT pid, s2_cell FROM cells"))
def q_s2_cells(spark, sf_dir):
    """True S2 cell ids (north rule: "H3/S2-indexed tile cells") at
    level 12 per point, Arrow-batched numpy (operators/s2.py) vs the
    oracle's recursive-CTE Hilbert state machine — face selection,
    quadratic ST and the full curve all round-trip through DuckDB."""
    from .operators.s2 import with_s2_cell
    # map-only Arrow UDF; spread measured pure cost (A/B sf1: 0.83 raw
    # vs 1.25 spread, and far worse in dirty windows)
    return with_s2_cell(_points(spark, sf_dir, spread=False), level=12) \
        .select("pid", "s2_cell")


@register("s2_rollup_l8", _s2_sql(8, """
, l8 AS (SELECT s2_cell, COUNT(*) AS n_points,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM cells GROUP BY 1)
SELECT s2_cell AS s2_cell8, n_points, n_users FROM l8"""))
def q_s2_rollup(spark, sf_dir):
    """S2 hierarchical rollup: the engine encodes at level 12 and
    aggregates to the level-8 PARENT via pure integer id math
    (s2_parent — JVM-side, map-combinable groupBy), while the oracle
    independently re-encodes at level 8; agreement proves the prefix/
    parent property of the id layout end-to-end."""
    from .operators.s2 import s2_parent, with_s2_cell
    pts = with_s2_cell(_points(spark, sf_dir), level=12)
    return pts.groupBy(
        s2_parent(F.col("s2_cell"), 12, 8).alias("s2_cell8")).agg(
        F.count("*").alias("n_points"),
        F.countDistinct("user_id").cast("long").alias("n_users"))


_POI_SQL = """
  SELECT s_suppkey AS poi_id,
         (CAST(s_suppkey * 29 % 3600 AS DOUBLE) / 10.0) - 179.95 AS lon,
         (CAST(s_suppkey * 13 % 1400 AS DOUBLE) / 10.0) - 69.95 AS lat
  FROM supplier
"""


@register("s2_join_l3", f"""
WITH RECURSIVE pts AS ({PTS_SQL}),
pois AS ({_POI_SQL}),
{_s2_chain(3, "pts", "pid, lon, lat")},
{_s2_chain(3, "pois", "poi_id, lon, lat", "_q")},
d AS (
  SELECT p.pid, q.poi_id,
         ACOS(LEAST(1.0, GREATEST(-1.0,
             SIN(RADIANS(p.lat)) * SIN(RADIANS(q.lat))
           + COS(RADIANS(p.lat)) * COS(RADIANS(q.lat))
           * COS(RADIANS(q.lon - p.lon))))) * 6371000.0 AS dist_m
  FROM cells p JOIN cells_q q USING (s2_cell)),
r AS (
  SELECT pid, poi_id,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY dist_m, poi_id) AS rnk
  FROM d)
SELECT pid, poi_id FROM r WHERE rnk = 1
""")
def q_s2_join(spark, sf_dir):
    """S2-bucketed spatial join (the north rule's "spatial-join engine
    over the H3/S2 index"): points and a POI dimension each encode
    their level-3 S2 cell, join on cell equality (broadcast dim — the
    cell is the co-location/partition-pruning key at 10^12 rows), and
    the nearest in-cell POI per point wins under the reference's
    law-of-cosines metric.  Raw distances stay out of the comparable
    output (acos ulp near ties — same policy as knn_earth); the oracle
    re-derives BOTH cell chains with the recursive-CTE state machine."""
    from .operators.s2 import with_s2_cell
    pts = with_s2_cell(_points(spark, sf_dir).select("pid", "lon", "lat"),
                       level=3)
    k = F.col("s_suppkey")
    pois = _t(spark, sf_dir, "supplier").select(
        k.alias("poi_id"),
        ((k * 29 % 3600).cast("double") / 10.0 - 179.95).alias("lon"),
        ((k * 13 % 1400).cast("double") / 10.0 - 69.95).alias("lat"))
    pois = with_s2_cell(pois, level=3).select(
        "poi_id", F.col("lon").alias("poi_lon"),
        F.col("lat").alias("poi_lat"), "s2_cell")
    j = pts.join(F.broadcast(pois), "s2_cell")
    dist = P.earth_distance_col(F.col("lat"), F.col("lon"),
                                F.col("poi_lat"), F.col("poi_lon"))
    w = Window.partitionBy("pid").orderBy("dist_m", "poi_id")
    return (j.select("pid", "poi_id", dist.alias("dist_m"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1).select("pid", "poi_id"))


@register("simhash_hamming_pairs", f"""
  WITH words AS (
    SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
    WHERE doc_id < 120),
  votes AS (
    SELECT doc_id,
           {', '.join(
               "CAST(SUM(CASE WHEN substr(h, %d, 1) >= '8' THEN 1 ELSE -1 END) AS BIGINT) AS v%d"
               % (j + 1, j) for j in range(16))}
    FROM words GROUP BY doc_id),
  sims AS (
    SELECT doc_id,
           CAST({' + '.join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))}
                AS BIGINT) AS simhash
    FROM votes)
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
""")
def q_simhash_hamming(spark, sf_dir):
    """SimHash near-dup candidates: hamming distance <= 4 among the first
    120 docs via the banded bit-chunk equi-join (5 bands → pigeonhole
    guarantees recall for hamming <= 4; NO all-pairs theta-join — the
    oracle below is the brute-force definition, so a green hash also
    proves the banding loses nothing)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    sims = dedup.simhash16(docs)
    return dedup.simhash_hamming_pairs(sims, max_hamming=4)


@register("knn_earth", f"""
  WITH pts AS ({PTS_SQL}),
  q AS (SELECT pid AS qid, lat AS qlat, lon AS qlon FROM pts WHERE pid % 1999 = 0),
  d AS (
    SELECT q.qid, p.pid,
           ACOS(LEAST(1.0, GREATEST(-1.0,
               SIN(RADIANS(q.qlat)) * SIN(RADIANS(p.lat))
             + COS(RADIANS(q.qlat)) * COS(RADIANS(p.lat))
             * COS(RADIANS(p.lon - q.qlon))))) * 6371000.0 AS dist_m
    FROM pts p, q),
  r AS (
    SELECT qid, pid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_m, pid) AS rnk
    FROM d)
  SELECT qid, pid, CAST(rnk AS INT) AS rnk
  FROM r WHERE rnk <= 3
""")
def q_knn_earth(spark, sf_dir):
    """kNN under the reference's own law-of-cosines metric (gpx.c:244-258)."""
    pts = _points(spark, sf_dir).select(
        "pid", "lon",
        F.sin(F.radians("lat")).alias("sin_lat"),
        F.cos(F.radians("lat")).alias("cos_lat"))
    qs = _points(spark, sf_dir).filter(F.col("pid") % 1999 == 0).select(
        F.col("pid").alias("qid"), F.col("lon").alias("qlon"),
        F.sin(F.radians("lat")).alias("sin_qlat"),
        F.cos(F.radians("lat")).alias("cos_qlat"))
    # per-endpoint trig precomputed once per ROW, not once per PAIR —
    # bit-identical distances (same doubles, same op tree)
    j = pts.crossJoin(F.broadcast(qs))
    dist = P.earth_distance_presincos_col(
        F.col("sin_qlat"), F.col("cos_qlat"),
        F.col("sin_lat"), F.col("cos_lat"),
        F.col("qlon"), F.col("lon"))
    w = Window.partitionBy("qid").orderBy("dist_m", "pid")
    # NOTE: the raw distance is omitted from the comparable output — acos
    # near a==1.0 (self/duplicate coordinates) differs across engines by
    # an ulp-amplified ~10 cm; the RANKING is stable (per-engine ties are
    # bit-identical and broken by pid).
    return (
        j.select("qid", "pid", dist.alias("dist_m"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", "pid", F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Engine-native (non-SQL-expressible) queries — rows-only driver check
# ---------------------------------------------------------------------------

def _sf_n_docs(sf_dir: str) -> int:
    # "1" = the synthesized .bench_sf1 decade (tools/bench_sf1.py):
    # corpus queries run at 10x the sf0.1 document count there
    return {"0.001": 12, "0.01": 40, "0.1": 120, "1": 1200}.get(
        sf_dir.rstrip("/").rsplit("sf", 1)[-1], 24)


def _sf_docs(spark, sf_dir: str) -> DataFrame:
    from .corpus import generate_documents
    return generate_documents(spark, _sf_n_docs(sf_dir))


# Parsed corpus points materialized to parquet so DuckDB can oracle the
# RENDER event relation (the parse itself is the non-SQL step; everything
# after it — tiles, pixels, line gates, cross-tile clip — is relational).
_ORACLE_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".oracle_cache")
# every column build_events reads below z17 without -d1 (pdop is read
# only by the z >= 17 PDOP ellipses and the -d1 shadows), so the render
# rows build their events from this cache
_PTS_COLS = ["doc_id", "seg_order", "pt_idx", "kind", "src", "lat", "lon",
             "speed", "flags", "prev_lat", "prev_lon"]


def _relink(link: str, target: str) -> None:
    """Atomically (re)point a symlink (tmp link + rename)."""
    tmp = link + ".tmp"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(target, tmp)
    os.replace(tmp, link)


_CACHE_WRITTEN: set[str] = set()


def _oracle_cache(name: str, n: int, build) -> str:
    """Write ``build()`` to ``{name}_n{n}.parquet`` under the oracle
    cache at most once per process, and repoint the sf-agnostic
    ``{name}_current`` symlink at it on every call.  The oracle SQL
    strings are static (the driver collects them once), so they read
    through the symlink — whatever scale factor the Spark side of a
    query just ran at, its oracle sees the matching cache (ADVICE r02:
    a hardcoded points_n40 path went stale at sf≠0.01).  Written once
    because rows read the parquet lazily: a rewrite would delete the
    files under an earlier call's uncollected DataFrame."""
    fname = f"{name}_n{n}.parquet"
    path = os.path.join(_ORACLE_CACHE, fname)
    if path not in _CACHE_WRITTEN:
        build().write.mode("overwrite").parquet(path)
        _CACHE_WRITTEN.add(path)
    _relink(os.path.join(_ORACLE_CACHE, f"{name}_current"), fname)
    return path


def _points_cache(spark, sf_dir: str) -> str:
    """The parsed corpus points of THIS sf (``points_current``): the
    render and census rows read them instead of parsing again."""
    return _oracle_cache("points", _sf_n_docs(sf_dir), lambda: parse_documents(
        _sf_docs(spark, sf_dir)).select(*_PTS_COLS))


def _docs_cache(spark, sf_dir: str) -> str:
    """The interleaved corpus documents (doc_id, spans) of THIS sf
    (``docs_current``), so DuckDB can unnest the exact span arrays the
    Spark side consumes."""
    return _oracle_cache("docs", _sf_n_docs(sf_dir),
                         lambda: _sf_docs(spark, sf_dir))


# --- pixel expressions mirroring projection.pixel_cols' EXACT op tree
# (unit = 1/2^z hoisted, rel_y2 = rel_y1 + unit, east = west + lon_unit;
# DuckDB lacks sinh → exp form, same as the green pixel_positions oracle)

def _px_sql(lon: str, tx: str) -> str:
    u = "(360.0 / POW(2.0, z))"
    w = f"(-180.0 + CAST({tx} AS DOUBLE) * {u})"
    return f"CAST(FLOOR(({lon} - {w}) * 256.0 / (({w} + {u}) - {w})) AS INT)"


def _py_sql(lat: str, ty: str) -> str:
    u = "(1.0 / POW(2.0, z))"
    r1 = f"(CAST({ty} AS DOUBLE) * {u})"
    r2 = f"({r1} + {u})"
    m1 = f"(PI() - (2.0 * PI()) * {r1})"
    m2 = f"(PI() - (2.0 * PI()) * {r2})"
    n = f"DEGREES(ATAN(0.5 * (EXP({m1}) - EXP(-{m1}))))"
    s = f"DEGREES(ATAN(0.5 * (EXP({m2}) - EXP(-{m2}))))"
    return f"CAST(FLOOR(({lat} - {n}) * 256.0 / ({s} - {n})) AS INT)"


def _render_oracle_sql(zmax: int, lines: bool) -> str:
    """Per-tile (point_cnt, n_events, n_docs) of the render event relation
    in pure SQL over the cached parsed points: stamps at every zoom,
    plus (if lines) the same-tile and border-crossing cross-tile line
    events with the z_no_lines / slow-speed / zero-length gates
    (gpx2tiles.c:663-703).  Waypoint circles and the PDOP ellipse are
    gated to z > 16 in the reference and the render configs here stop at
    z <= 10, so they contribute nothing by construction."""
    # Spark writes a parquet DIRECTORY; DuckDB needs the part-file glob.
    # points_current is the symlink _points_cache repoints per sf.
    cache = os.path.join(_ORACLE_CACHE, "points_current", "*.parquet")
    txe = "CAST(FLOOR(((lon + 180.0) / 360.0) * POW(2.0, z)) AS INT)"
    ptxe = "CAST(FLOOR(((plon + 180.0) / 360.0) * POW(2.0, z)) AS INT)"
    tye = ("CAST(FLOOR(((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))"
           " / PI()) / 2.0) * POW(2.0, z)) AS INT)")
    ptye = ("CAST(FLOOR(((1.0 - LN(TAN(RADIANS(plat)) + 1.0/COS(RADIANS(plat)))"
            " / PI()) / 2.0) * POW(2.0, z)) AS INT)")
    line_sql = f"""
  UNION ALL SELECT z, tx, ty, doc_id, FALSE AS is_stamp FROM pix
  WHERE can_line AND tx = ptx AND ty = pty AND (px <> ppx OR py <> ppy)
  UNION ALL SELECT z, cx AS tx, cy AS ty, doc_id, FALSE AS is_stamp FROM cx2
  WHERE {crossing_sql('(ppx - 256 * (cx - ptx))', '(ppy - 256 * (cy - pty))',
                      '(px - 256 * (cx - tx))', '(py - 256 * (cy - ty))')}
""" if lines else ""
    return f"""
  WITH pts AS (
    SELECT doc_id, seg_order, pt_idx, kind, lat, lon, speed, flags
    FROM read_parquet('{cache}')),
  zs AS (SELECT CAST(unnest(generate_series(1, {zmax})) AS INT) AS z),
  trk AS (
    SELECT doc_id, seg_order, pt_idx, lat, lon, speed, flags,
           LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
    FROM pts WHERE kind = 'trkpt'
    WINDOW w AS (PARTITION BY doc_id, seg_order ORDER BY pt_idx)),
  tz AS (
    SELECT trk.*, z, {txe} AS tx, {tye} AS ty, {ptxe} AS ptx, {ptye} AS pty
    FROM trk, zs),
  pix AS (
    SELECT *, {_px_sql('lon', 'tx')} AS px, {_py_sql('lat', 'ty')} AS py,
           {_px_sql('plon', 'ptx')} AS ppx, {_py_sql('plat', 'pty')} AS ppy,
           (plat IS NOT NULL AND z >= 7
            AND NOT ((flags & 8) <> 0 AND speed * 3.6 < 1.0)) AS can_line
    FROM tz),
  crossbase AS (
    SELECT z, doc_id, tx, ty, ptx, pty, px, py, ppx, ppy FROM pix
    WHERE can_line AND (tx <> ptx OR ty <> pty)),
  cx1 AS (SELECT *, CAST(unnest(generate_series(least(ptx, tx),
                                greatest(ptx, tx))) AS INT) AS cx FROM crossbase),
  cx2 AS (SELECT *, CAST(unnest(generate_series(least(pty, ty),
                                greatest(pty, ty))) AS INT) AS cy FROM cx1),
  ev AS (
    SELECT z, tx, ty, doc_id, TRUE AS is_stamp FROM pix
    {line_sql}
  )
  SELECT z, tx, ty,
         CAST(SUM(CASE WHEN is_stamp THEN 1 ELSE 0 END) AS BIGINT) AS point_cnt,
         COUNT(*) AS n_events,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM ev GROUP BY 1, 2, 3
"""


_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "golden")


def parse_points_comparable(points: DataFrame) -> DataFrame:
    """Hash-stable projection of the FULL parse output (every column of
    POINTS_SCHEMA but the chain pairs prev_lat/prev_lon, which repeat
    the chain's previous lat/lon and are checked against a lag window in
    tests/test_round2_ops.py): floats in micro/milli integer units so
    the driver's value hash is engine-independent.  Shared by
    q_parse_points and the committed golden parquet
    (tools/make_golden.py) — the golden is a snapshot of THIS
    projection, so any parse regression (S1/S2/S3, R1-R4, K6, K10, F7)
    flips the oracle red."""
    def milli(c):  # float32 → exact double → milli-units
        return F.floor(F.col(c).cast("double") * 1000.0).cast("long") \
                .alias(f"{c}_milli")

    return points.select(
        "doc_id", "seg_order", "pt_idx", "kind", "src", "time", "file_time",
        "sat", "flags",
        F.floor(F.col("lat") * 1e6).cast("long").alias("lat_micro"),
        F.floor(F.col("lon") * 1e6).cast("long").alias("lon_micro"),
        F.floor(F.col("speed") * 1000.0).cast("long").alias("speed_milli"),
        milli("ele"), milli("geoidheight"), milli("course"),
        milli("hdop"), milli("vdop"), milli("pdop"),
    )


def _golden_oracle_sql(link_name: str) -> str:
    return f"SELECT * FROM read_parquet('{os.path.join(_ORACLE_CACHE, link_name)}')"


def _relink_golden(link_name: str, golden_file: str) -> None:
    os.makedirs(_ORACLE_CACHE, exist_ok=True)
    if not os.path.exists(golden_file):
        # fail loudly: silently keeping a stale link would hash-compare
        # this scale's output against ANOTHER scale's snapshot
        raise FileNotFoundError(
            f"no committed golden for this scale: {golden_file} "
            f"(generate it with tools/make_golden.py)")
    _relink(os.path.join(_ORACLE_CACHE, link_name), golden_file)


@register("parse_points", _golden_oracle_sql("parse_golden_current"))
def q_parse_points(spark, sf_dir):
    """The core parse (S1/S2/R1-R4) with a GOLDEN-PARQUET oracle: the
    oracle side is a committed snapshot (tests/golden/) of the same
    deterministic corpus's parse, per scale factor via the symlink."""
    n = _sf_n_docs(sf_dir)
    _relink_golden("parse_golden_current",
                   os.path.join(_GOLDEN_DIR, f"parse_points_n{n}.parquet"))
    return parse_points_comparable(parse_documents(_sf_docs(spark, sf_dir)))


# Input-hint invariant (BASELINE.json): per-row span-sequence equality
# (kind, text, media_ref, order).  The oracle laterally unnests the SAME
# materialized corpus parquet the Spark side reads; the Spark side first
# destroys and rebuilds the arrays (explode → shuffle-bearing group/sort
# reassemble → explode), so any order or field loss flips the hash.
_SPAN_SQL = f"""
  SELECT doc_id, CAST(i - 1 AS INT) AS span_idx,
         spans[i].kind AS kind,
         md5(COALESCE(spans[i].text, '')) AS text_md5,
         COALESCE(spans[i].media_ref, '') AS media_ref,
         spans[i]."offset" AS "offset"
  FROM read_parquet('{os.path.join(_ORACLE_CACHE, "docs_current", "*.parquet")}'),
       unnest(generate_series(1, len(spans))) AS t(i)
"""


@register("span_roundtrip", _SPAN_SQL)
def q_span_roundtrip(spark, sf_dir):
    """Span-sequence invariant check as a full-oracle row: round-trip
    the interleaved documents through explode_spans → reassemble_spans →
    explode_spans and compare against a direct unnest of the same
    parquet.  Proves (kind, text, media_ref, offset, order) survive the
    engine's relational span handling end-to-end."""
    from .operators.parse import explode_spans, reassemble_spans
    docs = spark.read.parquet(_docs_cache(spark, sf_dir))
    back = reassemble_spans(explode_spans(docs))
    return explode_spans(back).select(
        "doc_id", "span_idx", "kind",
        F.md5(F.coalesce("text", F.lit(""))).alias("text_md5"),
        F.coalesce("media_ref", F.lit("")).alias("media_ref"),
        "offset")


def _cached_render(spark, sf_dir: str, cfg) -> DataFrame:
    """The tiles (z, tx, ty, point_cnt, n_events, n_docs, png) rendered
    from the cached parsed points: no second parse, nothing persisted,
    and a recompute re-reads the cache's files."""
    from .operators.events import build_events
    from .operators.raster import rasterize
    pts = spark.read.parquet(_points_cache(spark, sf_dir))
    return rasterize(build_events(pts, cfg), cfg)


@register("render_tiles", _render_oracle_sql(10, lines=True))
def q_render_tiles(spark, sf_dir):
    """Full render (PNGs included) whose per-tile counters have an exact
    SQL oracle over the materialized parsed points — the render's tile
    registry, stamp counts, line gates and cross-tile CCW clip all
    round-trip through DuckDB (VERDICT r01 item 5)."""
    from .config import EngineConfig
    tiles = _cached_render(spark, sf_dir, EngineConfig(zoom_min=1, zoom_max=10))
    return tiles.select(
        "z", "tx", "ty", "point_cnt", "n_events",
        F.col("n_docs").cast("long").alias("n_docs"))


# DuckDB replica of the md5-derived ±1 hyperplanes (ann._hyperplanes):
# plane p, dim d (< 128 ⇒ counter i == 0) = bit (d%8) of byte (d//8) of
# md5("plane{p}|0") — nibble-decoded from the hex digest (low nibble
# carries bits 0-3).
_PLANE_BIT_SQL = """
    CASE WHEN (
      (strpos('0123456789abcdef', substr(md5('plane' || p || '|0'),
              (d // 8) * 2 + 1 + CASE WHEN (d % 8) < 4 THEN 1 ELSE 0 END, 1)) - 1)
      >> (d % 4)) & 1 = 1 THEN 1.0 ELSE -1.0 END
"""

_ANN_LSH_SQL = f"""
  WITH pos AS (
    SELECT vec_id,
           CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1 AS d,
           unnest(list_transform(generate_series(1, len(embedding)),
                                 i -> CAST(embedding[i] AS DOUBLE))) AS v
    FROM embeddings),
  dims AS (SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS d),
  planes AS (SELECT CAST(unnest(generate_series(0, 31)) AS INT) AS p),
  pv AS (SELECT p, d, {_PLANE_BIT_SQL} AS pval FROM planes, dims),
  dots AS (
    SELECT pos.vec_id, pv.p, SUM(pos.v * pv.pval) AS dt
    FROM pos JOIN pv ON pos.d = pv.d GROUP BY 1, 2),
  sigs AS (
    SELECT vec_id, CAST(p // 4 AS INT) AS tbl,
           CAST(SUM(CASE WHEN dt > 0 THEN 1 << (p % 4) ELSE 0 END) AS BIGINT) AS bkt
    FROM dots GROUP BY 1, 2),
  cand AS (
    SELECT DISTINCT q.vec_id AS qid, s.vec_id
    FROM sigs s JOIN sigs q ON s.tbl = q.tbl AND s.bkt = q.bkt
    WHERE q.vec_id < 3),
  norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM pos GROUP BY 1),
  cdots AS (
    SELECT c.qid, c.vec_id, SUM(pa.v * pb.v) AS dot
    FROM cand c
    JOIN pos pa ON pa.vec_id = c.vec_id
    JOIN pos pb ON pb.vec_id = c.qid AND pb.d = pa.d
    GROUP BY 1, 2),
  cos AS (
    SELECT qid, cdots.vec_id,
           CAST(FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) AS BIGINT) AS cos_micro
    FROM cdots
    JOIN norms na ON na.vec_id = cdots.vec_id
    JOIN norms nb ON nb.vec_id = cdots.qid),
  r AS (
    SELECT qid, vec_id, cos_micro,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_micro DESC, vec_id) AS rnk
    FROM cos)
  SELECT qid, vec_id, cos_micro, CAST(rnk AS INT) AS rnk
  FROM r WHERE rnk <= 10
"""


_NEAR_DUP_SQL = f"""
  WITH pos AS (
    SELECT vec_id,
           CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1 AS d,
           unnest(list_transform(generate_series(1, len(embedding)),
                                 i -> CAST(embedding[i] AS DOUBLE))) AS v
    FROM embeddings),
  dims AS (SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS d),
  planes AS (SELECT CAST(unnest(generate_series(0, 31)) AS INT) AS p),
  pv AS (SELECT p, d, {_PLANE_BIT_SQL} AS pval FROM planes, dims),
  dots AS (
    SELECT pos.vec_id, pv.p, SUM(pos.v * pv.pval) AS dt
    FROM pos JOIN pv ON pos.d = pv.d GROUP BY 1, 2),
  sigs AS (
    SELECT vec_id, CAST(p // 4 AS INT) AS tbl,
           CAST(SUM(CASE WHEN dt > 0 THEN 1 << (p % 4) ELSE 0 END) AS BIGINT) AS bkt
    FROM dots GROUP BY 1, 2),
  cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bkt = b.bkt
    WHERE a.vec_id < b.vec_id),
  -- exact re-check via list_inner_product on double-cast lists, NOT a
  -- position-exploded join: the exploded form multiplies the candidate
  -- set by dim (80M pairs x 64 dims = 5G join rows at the sf1 stress —
  -- a half-hour 33 GB spill).  Raw dots can differ from the exploded
  -- SUM by an ulp, but the round-half-up micro quantization absorbs
  -- that (no systematic value sits on a .5 boundary).
  emb2 AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings),
  cosd AS (
    SELECT c.vec_a, c.vec_b,
           CAST(FLOOR(list_inner_product(a.e, b.e)
                / (SQRT(list_inner_product(a.e, a.e))
                   * SQRT(list_inner_product(b.e, b.e)))
                * 1000000.0 + 0.5) AS BIGINT) AS cos_micro
    FROM cand c
    JOIN emb2 a ON a.vec_id = c.vec_a
    JOIN emb2 b ON b.vec_id = c.vec_b)
  SELECT vec_a, vec_b, cos_micro FROM cosd WHERE cos_micro >= 400000
"""


@register("embedding_near_dup", _NEAR_DUP_SQL)
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via hyperplane-LSH buckets + exact
    re-check (the dedup family's embedding member).  The oracle
    re-derives the SAME index in SQL, so approximation and exact check
    are both hash-verified."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.embedding_near_dup(emb.select("vec_id", "embedding"),
                                  threshold_micro=400_000)


_IVF_SQL = """
  WITH emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
    FROM embeddings),
  cent AS (
    SELECT cell, list(v ORDER BY d) AS cv
    FROM read_parquet('{IVF_CENTS_GLOB}') GROUP BY cell),
  norms AS (SELECT vec_id, SQRT(list_inner_product(ev, ev)) AS nrm FROM emb),
  cnorm AS (SELECT cell, SQRT(list_inner_product(cv, cv)) AS cn FROM cent),
  ccos AS (
    SELECT e.vec_id, c.cell,
           list_inner_product(e.ev, c.cv) / (n.nrm * cn.cn) AS cval
    FROM emb e CROSS JOIN cent c
    JOIN norms n ON n.vec_id = e.vec_id
    JOIN cnorm cn ON cn.cell = c.cell),
  assigned AS (
    SELECT vec_id, cell FROM (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cval DESC, cell) AS rn
      FROM ccos) WHERE rn = 1),
  probe AS (
    SELECT vec_id AS qid, cell FROM (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cval DESC, cell) AS rn
      FROM ccos WHERE vec_id < 3) WHERE rn <= 4),
  cand AS (
    SELECT DISTINCT p.qid, a.vec_id
    FROM probe p JOIN assigned a ON a.cell = p.cell),
  rcos AS (
    SELECT c.qid, c.vec_id,
           CAST(FLOOR(list_inner_product(ea.ev, eb.ev) / (na.nrm * nb.nrm)
                      * 1000000.0 + 0.5) AS BIGINT) AS cos_micro
    FROM cand c
    JOIN emb ea ON ea.vec_id = c.vec_id
    JOIN emb eb ON eb.vec_id = c.qid
    JOIN norms na ON na.vec_id = c.vec_id
    JOIN norms nb ON nb.vec_id = c.qid),
  r AS (
    SELECT qid, vec_id, cos_micro,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_micro DESC, vec_id) AS rnk
    FROM rcos)
  SELECT qid, vec_id, cos_micro, CAST(rnk AS INT) AS rnk
  FROM r WHERE rnk <= 10
"""


# The oracle's centroid table is the CONVERGED K-MEANS OUTPUT, written
# to the oracle cache by q_ann_ivf (centroids are data, not SQL — the
# Lloyd iterations live Spark-side in ann.kmeans_centroids; assignment,
# probe and re-rank stay fully re-derived in SQL from those values).
# List-form dot products (list_inner_product), not dim-exploded joins:
# the exploded assignment join spilled DuckDB to disk exhaustion at the
# sf1 sweep (same lesson as _NEAR_DUP_SQL); raw-FP accumulation order
# differs by an ulp from the sequential sum, which the round-half-up
# micro-quantization absorbs (cos_micro) and centroid argmax separation
# dwarfs (k-means cells are not ulp-tied).
_IVF_SQL = _IVF_SQL.replace(
    "{IVF_CENTS_GLOB}",
    os.path.join(_ORACLE_CACHE, "ivf_cents_current", "*.parquet"))


@register("ann_ivf", _IVF_SQL)
def q_ann_ivf(spark, sf_dir):
    """IVF ANN with a FULL oracle and a REAL coarse quantizer: 3
    distributed spherical-k-means Lloyd iterations (seeded with the
    first 16 vectors — the round-3 zero-state quantizer is now just the
    seed), then max-cosine cell assignment (inverted lists), 4-cell
    query probe and exact cosine re-rank.  The converged centroids are
    materialized to .oracle_cache/ivf_cents_current and the DuckDB
    oracle re-derives the whole assign/probe/re-rank chain from those
    same values — the quantizer is clustering, the index math stays
    hash-checked.  The cell-partitioned counterpart of `ann_lsh` (IVF
    is the assignment's explicitly-named scale path: `cell` is a
    partition key, a probe touches n_probe/n_cells of the corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = ann.kmeans_centroids(emb.select("vec_id", "embedding"),
                                 n_cells=16, n_iter=3)
    n = _sf_n_docs(sf_dir)
    path = os.path.join(_ORACLE_CACHE, f"ivf_cents_n{n}.parquet")
    rows = [(c, d, v) for c, cent in enumerate(cents)
            for d, v in enumerate(cent)]
    spark.createDataFrame(rows, "cell int, d int, v double") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    _relink(os.path.join(_ORACLE_CACHE, "ivf_cents_current"),
            f"ivf_cents_n{n}.parquet")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding"))
    return ann.cosine_topk_ivf(emb.select("vec_id", "embedding"), qs,
                               k=10, n_cells=16, n_probe=4, centroids=cents)


@register("ann_lsh", _ANN_LSH_SQL)
def q_ann_lsh(spark, sf_dir):
    """Multi-table hyperplane-LSH ANN with a FULL oracle: the md5 plane
    derivation, per-table signatures, bucket equi-join candidates and
    exact cosine re-rank are all re-derived in DuckDB (was rows-only in
    round 1 — the approximation itself is now hash-checked, not just its
    recall)."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding"))
    return ann.cosine_topk_lsh(emb.select("vec_id", "embedding"), qs, k=10)


def multimodal_comparable(spark, sf_dir) -> DataFrame:
    """Media spans of the interleaved corpus → Arrow-batched features.
    The feature vector is emitted as a fixed-format string so the output
    is hashable by the driver's canonicalizer (array columns are not)."""
    from .operators.multimodal import document_media_features
    feats = document_media_features(_sf_docs(spark, sf_dir))
    fstr = F.concat_ws(
        ",", F.transform("feature", lambda x: F.format_string("%.5f", x)))
    return feats.select(
        "doc_id", "span_idx", "media_ref", "media_kind", "n_bytes",
        "width", "height", "mean_luma_milli", fstr.alias("feature_csv"))


@register("multimodal_features", _golden_oracle_sql("multimodal_golden_current"))
def q_multimodal(spark, sf_dir):
    """REAL-PNG-decoder features with a GOLDEN-PARQUET oracle: the media
    payloads are genuine RGBA PNGs (synthesized deterministically from
    the media_ref) and the luma/feature columns come from actually
    decoding them with the repo's own codec (pngcodec.decode_png).  The
    whole encode→decode→pool chain is deterministic, so its output is
    committed once (tests/golden/) and any drift in the codec, decode
    routing or pooling flips the oracle red."""
    n = _sf_n_docs(sf_dir)
    _relink_golden("multimodal_golden_current",
                   os.path.join(_GOLDEN_DIR, f"multimodal_features_n{n}.parquet"))
    return multimodal_comparable(spark, sf_dir)


@register("multimodal_meta", """
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS span_idx,
         'media://' || md5(text) AS media_ref,
         'png' AS media_kind,
         -- n_bytes of a level-0 (stored-deflate) RGBA PNG is closed-form:
         -- 68 framing bytes + height*(1 + 4*width) raw scanline bytes
         -- (multimodal.synth_png_len)
         CAST(68 + ((doc_id * 7 + 3) % 64 + 16)
                  * (1 + 4 * (doc_id % 64 + 16)) AS INT) AS n_bytes,
         CAST(doc_id % 64 + 16 AS INT) AS width,
         CAST((doc_id * 7 + 3) % 64 + 16 AS INT) AS height
  FROM documents WHERE doc_id % 3 = 0
""")
def q_multimodal_meta(spark, sf_dir):
    """Multimodal metadata path with a full oracle: the media table is
    derived from the flat driver documents table with SQL-expressible
    arithmetic, the payload is a REAL synthesized PNG, and the features
    run through the REAL mapInPandas PNG decode — n_bytes counts the
    actual container bytes (closed-form for level-0 PNGs), so a decoder
    or encoder drift flips this oracle red.  (mean_luma and the feature
    vector are pixel-derived — not SQL-able; they are hash-checked by
    multimodal_features' golden oracle and pytest.)"""
    from .operators.multimodal import media_features, media_table_from_flat_docs
    media = media_table_from_flat_docs(_t(spark, sf_dir, "documents"))
    feats = media_features(media)
    return feats.select("doc_id", "span_idx", "media_ref", "media_kind",
                        "n_bytes", "width", "height")


@register("multimodal_av_meta", """
  WITH base AS (SELECT doc_id, md5(text) AS h FROM documents),
  wav AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS span_idx,
           'media://wav/' || h AS media_ref, 'wav' AS media_kind,
           -- RIFF/WAVE 16-bit PCM mono: 44 header bytes + 2 per sample
           CAST(44 + 2 * (doc_id % 4000 + 1000) AS INT) AS n_bytes,
           CAST(doc_id % 4000 + 1000 AS INT) AS width, 1 AS height
    FROM base WHERE doc_id % 4 = 0),
  seq AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 1 AS span_idx,
           'media://seq/' || h AS media_ref, 'pngseq' AS media_kind,
           -- frame container: u32 count + per frame u32 len + a level-0
           -- PNG (68 + h*(1+4w) bytes)
           CAST(4 + (doc_id % 6 + 2)
                    * (4 + 68 + ((doc_id * 5 + 7) % 32 + 16)
                       * (1 + 4 * (doc_id % 32 + 16))) AS INT) AS n_bytes,
           CAST(doc_id % 32 + 16 AS INT) AS width,
           CAST((doc_id * 5 + 7) % 32 + 16 AS INT) AS height
    FROM base WHERE doc_id % 4 = 1),
  adp AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 2 AS span_idx,
           'media://adpcm/' || h AS media_ref, 'adpcm' AS media_kind,
           -- IMA ADPCM WAV: 60 header bytes + 256 per block; one block
           -- carries (256-4)*2+1 = 505 samples (= width)
           CAST(60 + 256 * (doc_id % 3 + 1) AS INT) AS n_bytes,
           CAST(505 * (doc_id % 3 + 1) AS INT) AS width, 1 AS height
    FROM base WHERE doc_id % 4 = 2)
  SELECT * FROM wav UNION ALL SELECT * FROM seq UNION ALL SELECT * FROM adp
""")
def q_multimodal_av_meta(spark, sf_dir):
    """Audio + video decode paths with a full metadata oracle: real WAV
    containers (16-bit PCM mono, stdlib parse), real PNG frame
    sequences (every sampled frame genuinely decoded), and real
    COMPRESSED audio (IMA ADPCM WAVs, genuinely decompressed by
    adpcmcodec — round 5 retires the last decode stand-in) flow through
    the SAME mapInPandas extractor as images; n_bytes counts the actual
    container bytes via the closed-form sizes, so an encoder or parser
    drift flips this row red.  Sample/pixel-derived stats are
    pytest-covered (test_round4_ops, test_round5_ops)."""
    from .operators.multimodal import (media_features,
                                       media_table_av_from_flat_docs)
    media = media_table_av_from_flat_docs(_t(spark, sf_dir, "documents"))
    feats = media_features(media)
    return feats.select("doc_id", "span_idx", "media_ref", "media_kind",
                        "n_bytes", "width", "height")


def _stamp_color_sql() -> str:
    """Stamp color (gpx2tiles.c:637-653) in SQL: network src or no SPEED
    flag → spdclr[0]; else the speed table lookup."""
    cases = " ".join(
        f"WHEN CAST(FLOOR(speed * 3.6) AS BIGINT) <= {t} THEN {c}"
        for (t, c) in SPDCLR)
    return (f"(CASE WHEN src = 'network' OR (flags & 8) = 0 THEN {SPDCLR[0][1]} "
            f"ELSE (CASE {cases} ELSE {SPDCLR[-1][1]} END) END)")


_ROUNDTRIP_SQL = f"""
  WITH pts AS (
    SELECT doc_id, seg_order, pt_idx, kind, src, lat, lon, speed, flags
    FROM read_parquet('{os.path.join(_ORACLE_CACHE, "points_current",
                                     "*.parquet")}')),
  zs AS (SELECT CAST(unnest(generate_series(4, 6)) AS INT) AS z),
  tz AS (
    SELECT pts.*, z,
           CAST(FLOOR(((lon + 180.0) / 360.0) * POW(2.0, z)) AS INT) AS tx,
           CAST(FLOOR(((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))
                / PI()) / 2.0) * POW(2.0, z)) AS INT) AS ty
    FROM pts, zs WHERE kind = 'trkpt'),
  pix AS (
    SELECT doc_id, seg_order, pt_idx, z, tx, ty,
           {_px_sql('lon', 'tx')} AS px, {_py_sql('lat', 'ty')} AS py,
           {_stamp_color_sql()} AS rgb
    FROM tz),
  lastw AS (
    SELECT z, tx, ty, px, py, rgb,
           ROW_NUMBER() OVER (PARTITION BY z, tx, ty, px, py
                              ORDER BY doc_id DESC, seg_order DESC,
                                       pt_idx DESC) AS rn
    FROM pix)
  SELECT z, tx, ty, COUNT(*) AS painted_px,
         CAST(COUNT(DISTINCT rgb) AS BIGINT) AS n_colors
  FROM lastw WHERE rn = 1 GROUP BY 1, 2, 3
"""


@register("raster_vector_roundtrip", _ROUNDTRIP_SQL)
def q_raster_roundtrip(spark, sf_dir):
    """J4 round-trip WITH a full oracle: render zooms 4-6 (below
    z_no_lines → pure stamps), decode the PNGs back to painted pixels
    (tiles_to_pixels), and compare per-tile painted-pixel and VISIBLE
    color counts against SQL that replays the painter's
    last-writer-wins per pixel — the PNG encode/decode and inverse
    projection round-trip is hash-checked, not just row-counted."""
    from .config import EngineConfig
    from .operators.raster import tiles_to_pixels
    tiles = _cached_render(spark, sf_dir, EngineConfig(zoom_min=4, zoom_max=6))
    return tiles_to_pixels(tiles).groupBy("z", "tx", "ty").agg(
        F.count("*").alias("painted_px"),
        F.countDistinct("rgb").alias("n_colors"))


@register("render_heatmap", _render_oracle_sql(8, lines=False))
def q_render_heatmap(spark, sf_dir):
    """-H mode render: heatmap never draws lines (z_no_lines == INT_MAX),
    so its tile counters are the pure stamp relation — fully SQL-able.
    The intensify CHAIN (pixel colors) stays non-SQL and is covered by
    the byte-exact hit-count == sequential-fold pytest."""
    from .config import EngineConfig
    tiles = _cached_render(spark, sf_dir,
                           EngineConfig(zoom_min=1, zoom_max=8, heatmap=True))
    return tiles.select("z", "tx", "ty", "point_cnt", "n_events",
                        F.col("n_docs").cast("long").alias("n_docs"))


_INCR_SQL = f"""
  WITH pts AS (
    SELECT kind, lat, lon
    FROM read_parquet('{os.path.join(_ORACLE_CACHE, "points_current",
                                     "*.parquet")}')),
  zs AS (SELECT CAST(unnest(generate_series(1, 6)) AS INT) AS z)
  SELECT z,
         CAST(FLOOR(((lon + 180.0) / 360.0) * POW(2.0, z)) AS INT) AS tx,
         CAST(FLOOR(((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))
              / PI()) / 2.0) * POW(2.0, z)) AS INT) AS ty,
         COUNT(*) AS point_cnt
  FROM pts, zs WHERE kind = 'trkpt'
  GROUP BY 1, 2, 3
"""


_GPX_ARRIVAL_SQL = """
  WITH i AS (SELECT CAST(unnest(generate_series(0, 5)) AS INT) AS i),
  j AS (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS j),
  zs AS (SELECT CAST(unnest(generate_series(1, 6)) AS INT) AS z),
  -- the same closed-form point grid the Spark side writes into the six
  -- synthetic .gpx drop files (ROUND pins the doubles to the decimal
  -- literals the files carry)
  pts AS (
    SELECT ROUND(47.5 + 0.31 * i, 4) AS lat, ROUND(7.9 + 0.27 * j, 4) AS lon
    FROM i, j)
  SELECT z,
         CAST(FLOOR(((lon + 180.0) / 360.0) * POW(2.0, z)) AS INT) AS tx,
         CAST(FLOOR(((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))
              / PI()) / 2.0) * POW(2.0, z)) AS INT) AS ty,
         COUNT(*) AS point_cnt
  FROM pts, zs
  GROUP BY 1, 2, 3
"""


@register("streaming_gpx_arrival", _GPX_ARRIVAL_SQL)
def q_streaming_gpx_arrival(spark, sf_dir):
    """The reference's ``-0`` stdin file-arrival loop as a FULL oracle
    row: six synthetic .gpx files (a closed-form lat/lon grid) land in a
    drop directory, a binaryFile Structured Streaming source drains
    them in two micro-batches (maxFilesPerTrigger=3 — the pipe-buffer
    backpressure analogue, gpx2tiles.c:1098-1108), each batch feeding
    the incremental TileStore via foreachBatch.  The CONVERGED store
    state (zooms 1-6 = pure stamp relation) must equal the tile counts
    DuckDB re-derives from the same grid via generate_series — the
    stream's exactly-once file accounting and the store's cross-batch
    merge are both under the hash."""
    from .config import EngineConfig
    from .streaming.incremental import TileStore, run_gpx_streaming

    base = _fresh_store_dir(os.path.join(_ORACLE_CACHE, "gpx_stream"))
    drop = os.path.join(base, "drop")
    os.makedirs(drop)
    for i in range(6):
        body = "".join(
            f'<trkpt lat="{47.5 + 0.31 * i:.4f}" lon="{7.9 + 0.27 * j:.4f}">'
            f"<time>2016-06-25T10:{i:02d}:{j:02d}Z</time></trkpt>"
            for j in range(4))
        with open(os.path.join(drop, f"t{i}.gpx"), "w") as f:
            f.write(f"<gpx><trk><trkseg>{body}</trkseg></trk></gpx>")
    cfg = EngineConfig(zoom_min=1, zoom_max=6)
    _finish(run_gpx_streaming(spark, drop, os.path.join(base, "store"), cfg,
                              max_files_per_trigger=3))
    return (TileStore(spark, os.path.join(base, "store")).current()
            .select("z", "tx", "ty", "point_cnt"))


# --- the memory-sink streaming rows: each replays the events table as
# event-time-ordered parquet files (_stage_event_stream), streams them
# with one file per trigger and drains the query (_drain)

def _event_seconds():
    # the NTZ column needs the timestamp hop before the double cast
    return F.col("ts").cast("timestamp").cast("double")


def _median_slices(ev: DataFrame) -> list:
    """Two event-time slices cut at the exact (deterministic) median."""
    es = _event_seconds()
    mid = ev.select(F.percentile(es, F.lit(0.5))).collect()[0][0]
    return [es < mid, es >= mid]


def _stage_event_stream(ev: DataFrame, slices: list, tmp: str) -> None:
    """Write ``ev.filter(s)`` for each predicate ``s`` of ``slices`` as
    one parquet file under ``<tmp>/in``.  The files get distinct mtimes,
    in slice order, so a maxFilesPerTrigger=1 stream picks them up in
    that order."""
    import glob
    import shutil
    import time as _time

    src_dir = os.path.join(tmp, "in")
    os.makedirs(src_dir)
    for i, cond in enumerate(slices):
        stage = os.path.join(tmp, f"stage{i}")
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(src_dir, f"{i:04d}.parquet"))
        _time.sleep(1.1)


def _finish(q) -> None:
    """Wait for an availableNow query to drain its source.  A failed
    query raises from awaitTermination; one still running after 300 s
    is stopped and raises, instead of leaving partial rows behind."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"streaming query {q.name or q.id} did not "
                           "finish within 300 s")


def _drain(ev: DataFrame, slices: list, build, mode: str) -> DataFrame:
    """Replay ``ev`` as one staged file per predicate of ``slices``, run
    the stream ``build(replay)`` to the end into a memory sink and
    return the sink's rows; ``replay()`` is a new stream over the staged
    files, one file per trigger.  Nothing outlives the call but that
    DataFrame, which holds the sink itself: whatever raises (a slice
    write, building the stream, or the run), the sink's temp view is
    dropped and the staged dir is removed, input and checkpoint (kept
    there because Spark deletes its own temporary checkpoint only after
    a query that succeeded)."""
    import shutil
    import tempfile

    spark = ev.sparkSession
    tmp = tempfile.mkdtemp(prefix="stream_evt_")
    name = os.path.basename(tmp)

    def replay() -> DataFrame:
        return (spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(tmp, "in")))

    try:
        _stage_event_stream(ev, slices, tmp)
        w = (build(replay).writeStream.format("memory").queryName(name)
             .outputMode(mode).trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(tmp, "ckpt")))
        _finish(w.start())
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(tmp, ignore_errors=True)


@register("streaming_sessionize", """
  WITH s AS (
    SELECT user_id, event_id,
           CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
  SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
         COUNT(*) AS n_events
  FROM s GROUP BY user_id
""")
def q_streaming_sessionize(spark, sf_dir):
    """Custom STATEFUL STREAMING operator (applyInPandasWithState),
    oracle-checked against the batch sessionize SQL: the events table is
    replayed as a 2-file event-time-ordered stream, per-user state
    (last ts, counters) carries across micro-batches, and the converged
    per-user totals must equal the batch window computation exactly."""
    from .streaming.live import sessionize_stateful

    ev = _t(spark, sf_dir, "events")
    rows = _drain(ev, _median_slices(ev),
                  lambda replay: sessionize_stateful(replay(),
                                                     gap_minutes=30.0),
                  "update")
    # last update per user (counters are monotone across batches)
    return rows.groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions"),
        F.max("n_events").alias("n_events"))


@register("streaming_windowed_counts", f"""
  WITH pts AS (
    SELECT event_id AS pid, ts,
           {geo.LON_EXPR} AS lon, {geo.LAT_EXPR} AS lat
    FROM events)
  SELECT CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS win_start_s,
         {tx_sql('lon', '12')} AS tx, {ty_sql('lat', '12')} AS ty,
         COUNT(*) AS point_cnt
  FROM pts GROUP BY 1, 2, 3
""")
def q_streaming_windowed_counts(spark, sf_dir):
    """Streaming A1 (watermarked tumbling-window per-tile counts,
    streaming/live.windowed_tile_counts) oracle-checked against the
    batch window SQL: the events table replays as a 2-file event-time-
    ordered stream and the converged per-(window, tile) counts must
    equal the batch GROUP BY exactly.  (Late-data watermark semantics —
    in-watermark rows landing, beyond-watermark rows dropped — are
    pytest-covered in append mode: test_round3_ops.)"""
    from .streaming.live import windowed_tile_counts

    def build(replay):
        pts = geo.derived_points(replay()).select(
            F.col("ts").cast("timestamp").alias("ts"), "lat", "lon")
        return windowed_tile_counts(pts, z=12, window="10 minutes",
                                    watermark="30 minutes")

    ev = _t(spark, sf_dir, "events")
    rows = _drain(ev, _median_slices(ev), build, "complete")
    return rows.select(
        F.col("window_start").cast("timestamp").cast("double").cast("long")
        .alias("win_start_s"), "tx", "ty", "point_cnt")


@register("streaming_hll_census", _hll_census_sql())
def q_streaming_hll_census(spark, sf_dir):
    """Streaming twin of `hll_zoom_census`: the events table replays as
    a 2-file event-time stream; HLL registers are maintained as a
    COMPLETE-mode streaming groupBy-MAX — legal without a watermark
    because the sketch state is permanently bounded at ≤ 256 rows per
    zoom (the sketch IS its own state bound, the property that makes a
    100 TB streaming distinct-census feasible).  Because register max
    commutes with union, the converged stream sketch equals the batch
    sketch bit-for-bit, so this row reuses the batch oracle SQL
    verbatim (n_exact rides along from the batch table as the
    accuracy witness)."""
    from .operators import sketch

    ck = F.concat_ws(
        "|", F.col("z").cast("string"),
        P.tilex_col(F.col("lon"), F.col("z")).cast("string"),
        P.tiley_col(F.col("lat"), F.col("z")).cast("string"))

    def build(replay):
        pts = geo.derived_points(replay()).withColumn(
            "z", F.explode(F.sequence(F.lit(1), F.lit(8))))
        keyed = pts.select("z", ck.alias("ck"))
        return sketch.hll_registers(keyed, F.col("ck"), ["z"])

    ev = _t(spark, sf_dir, "events")
    est = sketch.hll_estimate(
        _drain(ev, _median_slices(ev), build, "complete"), ["z"])
    exact = (geo.derived_points(ev)
             .withColumn("z", F.explode(F.sequence(F.lit(1), F.lit(8))))
             .select("z", ck.alias("ck"))
             .groupBy("z").agg(F.countDistinct("ck").alias("n_exact")))
    return exact.join(est, "z")


@register("streaming_dedup", "SELECT event_id FROM events")
def q_streaming_dedup(spark, sf_dir):
    """Streaming exactly-once dedup (dropDuplicatesWithinWatermark —
    watermark-bounded key state): the events table replays as TWO
    event-time files whose ranges OVERLAP, so ~20% of the rows arrive
    twice across micro-batches; the converged append output must equal
    the batch DISTINCT (= the events table itself, ids are unique).
    Overlap rows in batch 2 are either deduped by state (inside the
    watermark) or dropped by the watermark filter — the converged set
    is identical either way, which is the operator's contract."""
    from .streaming.live import dedup_events_stream

    ev = _t(spark, sf_dir, "events")
    es = _event_seconds()
    q40, q60 = (ev.agg(F.percentile(es, F.lit(0.4)),
                       F.percentile(es, F.lit(0.6))).collect()[0])
    return _drain(ev, [es < q60, es >= q40],
                  lambda replay: dedup_events_stream(replay(),
                                                     watermark="1 hour"),
                  "append").select("event_id")


@register("streaming_interval_join", """
  SELECT p.event_id AS event_id, a.event_id AS alert_id
  FROM events p JOIN events a
    ON p.user_id = a.user_id AND a.event_id % 20 = 0
   AND epoch(a.ts) >= epoch(p.ts) - 600 AND epoch(a.ts) <= epoch(p.ts)
""")
def q_streaming_interval_join(spark, sf_dir):
    """Stream-STREAM watermarked interval join (§2.9's last missing
    shape): the events table replays as two event-time-ordered files
    consumed by TWO streams — every event as a point, every 20th as an
    'alert' — and each point joins the same user's alerts from the
    preceding 10 minutes.  Watermarks on both sides + two-sided time
    bounds let Spark evict join state; the converged inner join must
    equal the batch interval join (the oracle)."""
    from .streaming.live import interval_join_stream

    def build(replay):
        points = replay().select("event_id", "user_id", "ts")
        alerts = (replay().filter(F.col("event_id") % 20 == 0)
                  .select(F.col("event_id").alias("alert_id"),
                          F.col("user_id").alias("a_user_id"),
                          F.col("ts").alias("a_ts")))
        return interval_join_stream(points, alerts, lookback_minutes=10,
                                    watermark="2 hours")

    ev = _t(spark, sf_dir, "events")
    return _drain(ev, _median_slices(ev), build,
                  "append").select("event_id", "alert_id")


def _census_mtf_sql(zmin: int, zmax: int) -> str:
    """The census MTF print order in pure SQL: the reference's tile
    registry is 256 move-to-front hash buckets (gpx2tiles.c:194-217),
    so the dump_zoom_level order is bucket asc / LAST-LOOKUP desc, and
    the lookup sequence is derivable from the draw loop (see
    operators/dump.census_accesses — slots 0..3).  The per-access
    sequence key packs into a zero-padded string whose lexicographic
    order equals the Spark side's struct order."""
    cache = os.path.join(_ORACLE_CACHE, "points_current", "*.parquet")
    txe = "CAST(FLOOR(((lon + 180.0) / 360.0) * POW(2.0, z)) AS INT)"
    ptxe = "CAST(FLOOR(((plon + 180.0) / 360.0) * POW(2.0, z)) AS INT)"
    tye = ("CAST(FLOOR(((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))"
           " / PI()) / 2.0) * POW(2.0, z)) AS INT)")
    ptye = ("CAST(FLOOR(((1.0 - LN(TAN(RADIANS(plat)) + 1.0/COS(RADIANS(plat)))"
            " / PI()) / 2.0) * POW(2.0, z)) AS INT)")
    # Field widths give headroom far past any plausible segment
    # (10^9 points / 10^8 segments); the lexicographic string order
    # equals Spark's numeric struct order ONLY while every component
    # fits its width and doc_id is fixed-width ('doc%08d' here — a
    # variable-width id where one is another's prefix would diverge).
    seq = ("printf('%s|%08d|%09d|%d|%09d', doc_id, seg_order, pt_idx, "
           "{slot}, {k})")
    # C truncating integer division by 256 (negative numerators!)
    cdiv = "CAST(TRUNC(({v}) / 256.0) AS INT)"
    return f"""
  WITH pts AS (
    SELECT doc_id, seg_order, pt_idx, kind, lat, lon, speed, flags
    FROM read_parquet('{cache}')),
  zs AS (SELECT CAST(unnest(generate_series({zmin}, {zmax})) AS INT) AS z),
  chains AS (
    SELECT doc_id, seg_order, pt_idx, kind, lat, lon, speed, flags,
           LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
    FROM pts WINDOW w AS (PARTITION BY doc_id, seg_order ORDER BY pt_idx)),
  tz AS (
    SELECT chains.*, z, {txe} AS tx, {tye} AS ty, {ptxe} AS ptx,
           {ptye} AS pty
    FROM chains, zs
    WHERE kind = 'trkpt' OR z > 16),
  pix AS (
    SELECT *, {_px_sql('lon', 'tx')} AS px, {_py_sql('lat', 'ty')} AS py,
           {_px_sql('plon', 'ptx')} AS ppx, {_py_sql('plat', 'pty')} AS ppy
    FROM tz),
  own AS (
    SELECT z, tx, ty, {seq.format(slot=0, k=0)} AS s,
           TRUE AS is_stamp FROM pix),
  prv AS (
    SELECT z, ptx AS tx, pty AS ty, {seq.format(slot=1, k=0)} AS s,
           FALSE AS is_stamp FROM pix WHERE plat IS NOT NULL),
  wbase AS (
    SELECT *,
      GREATEST(0, LEAST(CAST(POW(2, z) AS INT) - 1,
        CASE WHEN px - 9 < 0 THEN tx + {cdiv.format(v='px - 9')} - 1
             ELSE tx END)) AS lt_x,
      GREATEST(0, LEAST(CAST(POW(2, z) AS INT) - 1,
        CASE WHEN py - 9 < 0 THEN ty + {cdiv.format(v='py - 9')} - 1
             ELSE ty END)) AS lt_y,
      GREATEST(0, LEAST(CAST(POW(2, z) AS INT) - 1,
        CASE WHEN px + 9 > 256 THEN tx + {cdiv.format(v='px + 9')}
             ELSE tx END)) AS rb_x,
      GREATEST(0, LEAST(CAST(POW(2, z) AS INT) - 1,
        CASE WHEN py + 9 > 256 THEN ty + {cdiv.format(v='py + 9')}
             ELSE ty END)) AS rb_y
    FROM pix WHERE kind = 'wpt'),
  w1 AS (SELECT *, CAST(unnest(generate_series(lt_x, rb_x)) AS INT) AS cx
         FROM wbase),
  w2 AS (SELECT *, CAST(unnest(generate_series(lt_y, rb_y)) AS INT) AS cy
         FROM w1),
  cir AS (
    SELECT z, cx AS tx, cy AS ty,
           {seq.format(slot=2,
                       k='(cy - lt_y) * (rb_x - lt_x + 1) + (cx - lt_x)')}
             AS s,
           FALSE AS is_stamp
    FROM w2),
  crossbase AS (
    SELECT z, doc_id, seg_order, pt_idx, tx, ty, ptx, pty, px, py, ppx, ppy
    FROM pix
    WHERE kind = 'trkpt' AND plat IS NOT NULL AND z >= 7
      AND NOT ((flags & 8) <> 0 AND speed * 3.6 < 1.0)
      AND (tx <> ptx OR ty <> pty)),
  cx1 AS (SELECT *, CAST(unnest(generate_series(least(ptx, tx),
                                greatest(ptx, tx))) AS INT) AS cx
          FROM crossbase),
  cx2 AS (SELECT *, CAST(unnest(generate_series(least(pty, ty),
                                greatest(pty, ty))) AS INT) AS cy FROM cx1),
  crs AS (
    SELECT z, cx AS tx, cy AS ty,
           {seq.format(slot=3,
                       k='ABS(cx - ptx) * (ABS(ty - pty) + 1) + ABS(cy - pty)')}
             AS s,
           FALSE AS is_stamp
    FROM cx2
    WHERE {crossing_sql('(ppx - 256 * (cx - ptx))', '(ppy - 256 * (cy - pty))',
                        '(px - 256 * (cx - tx))', '(py - 256 * (cy - ty))')}),
  acc AS (
    SELECT * FROM own UNION ALL SELECT * FROM prv
    UNION ALL SELECT * FROM cir UNION ALL SELECT * FROM crs),
  tiles AS (
    SELECT z, tx, ty, MAX(s) AS last,
           CAST(SUM(CASE WHEN is_stamp THEN 1 ELSE 0 END) AS BIGINT)
             AS point_cnt
    FROM acc GROUP BY 1, 2, 3)
  SELECT z, tx, ty, point_cnt,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY z
           ORDER BY ((ty * 8 + (tx % 8)) % 256) ASC, last DESC) AS INT)
           AS pos
  FROM tiles
"""


@register("census_mtf_order", _census_mtf_sql(5, 18))
def q_census_mtf_order(spark, sf_dir):
    """The diagnostic census's EXACT print position per tile
    (dump_zoom_level's 256-bucket move-to-front chain walk) as a full
    oracle row: the Spark side derives bucket + last-lookup order from
    the relational access sequence (operators/dump.census_ordered_tiles)
    and DuckDB re-derives the same from the cached parsed points —
    print ORDER, not just content, is hash-checked.  Also verified
    against an imperative MTF hash-table simulation in
    tests/test_round4_ops.py."""
    from .config import EngineConfig
    from .operators.dump import census_ordered_tiles

    # ONE parse: the cache write runs parse_documents and materializes
    # exactly the columns census needs — read it back instead of
    # re-deriving the parse (the documented repeated-parse plan trap)
    pts = spark.read.parquet(_points_cache(spark, sf_dir))
    return census_ordered_tiles(pts, EngineConfig(zoom_min=5, zoom_max=18)) \
        .select("z", "tx", "ty", "point_cnt", "pos")


_STORE_DIR_CLEANED: set[str] = set()


def _fresh_store_dir(base: str) -> str:
    """Per-invocation VERSIONED store directory under .oracle_cache.

    The store rows return DataFrames that read the store's files
    lazily.  A stable-but-REBUILT path (rmtree + rebuild on every call)
    breaks them: a timing harness that invokes the row twice and
    collects attempt 1's DataFrame reads the files attempt 2 just
    deleted — FAILED_READ (the sf1 sweep caught store_diff this way).
    Version dirs are PROCESS-scoped (`_p<pid>_v<k>`): a concurrent
    session in the same workspace can never hold live DataFrames
    against a dir this process purges, because the purge only removes
    dirs whose owning pid is dead (plus legacy un-scoped `_v*` dirs
    from before this scheme, best-effort)."""
    import shutil

    pid = os.getpid()
    if base not in _STORE_DIR_CLEANED:
        _STORE_DIR_CLEANED.add(base)
        import glob as _glob
        import re as _re
        for old in _glob.glob(f"{base}_v*") + _glob.glob(f"{base}_p*_v*"):
            m = _re.search(r"_p(\d+)_v\d+$", old)
            if m and int(m.group(1)) != pid:
                try:  # purge only if the owning process is gone
                    os.kill(int(m.group(1)), 0)
                    continue  # alive — leave its dirs alone
                except ProcessLookupError:
                    pass
                except PermissionError:
                    continue
            elif m:
                continue  # our own live dirs
            shutil.rmtree(old, ignore_errors=True)
    k = 0
    while os.path.exists(f"{base}_p{pid}_v{k}"):
        k += 1
    return f"{base}_p{pid}_v{k}"


_ASOF_SQL = f"""
  WITH pts AS (
    SELECT doc_id, kind, lat, lon
    FROM read_parquet('{os.path.join(_ORACLE_CACHE, "points_current",
                                     "*.parquet")}')),
  -- rank over ALL corpus docs (docs_current), not just docs present in
  -- pts: the Spark side cuts with doc_id < doc{{(n+1)//2}} over the full
  -- corpus, so a document that parses to zero points must still count
  -- toward the half split (ADVICE r04 #3)
  alldocs AS (
    SELECT doc_id
    FROM read_parquet('{os.path.join(_ORACLE_CACHE, "docs_current",
                                     "*.parquet")}')),
  ranked AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
           COUNT(*) OVER () AS nd
    FROM alldocs),
  firsthalf AS (
    SELECT doc_id FROM ranked
    WHERE rn <= CAST(FLOOR((nd + 1) / 2.0) AS BIGINT)),
  zs AS (SELECT CAST(unnest(generate_series(1, 6)) AS INT) AS z)
  SELECT z,
         CAST(FLOOR(((lon + 180.0) / 360.0) * POW(2.0, z)) AS INT) AS tx,
         CAST(FLOOR(((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))
              / PI()) / 2.0) * POW(2.0, z)) AS INT) AS ty,
         COUNT(*) AS point_cnt
  FROM pts JOIN firsthalf USING (doc_id), zs WHERE kind = 'trkpt'
  GROUP BY 1, 2, 3
"""


@register("store_as_of", _ASOF_SQL)
def q_store_as_of(spark, sf_dir):
    """Snapshot time travel as a FULL oracle row (landed round 3 with
    pytest only): two doc-range batches commit delta snapshots, then
    ``as_of(first snapshot id)`` reads the state as of batch 1 — which
    must equal batch 1's stamp pyramid, re-derived in SQL from the
    cached points restricted to the FIRST HALF of the doc ids (the same
    deterministic cut the Spark side applies; zooms 1-6 sit below
    z_no_lines so the tile set is exactly the stamp relation).  The
    second committed snapshot existing and NOT contributing is the
    property under test.

    The store is built under a STABLE ``.oracle_cache`` directory, not a
    tempdir: the returned DataFrame reads the store files when it is
    collected, possibly after 50 other queries — a deleted tempdir
    would make that read fail (VERDICT r04 wrong-item #1)."""
    from .config import EngineConfig
    from .streaming.incremental import TileStore

    _points_cache(spark, sf_dir)
    _docs_cache(spark, sf_dir)
    n = _sf_n_docs(sf_dir)
    cut = f"doc{(n + 1) // 2:08d}"
    docs = _sf_docs(spark, sf_dir)
    cfg = EngineConfig(zoom_min=1, zoom_max=6)
    d = _fresh_store_dir(os.path.join(_ORACLE_CACHE, f"store_asof_n{n}"))
    store = TileStore(spark, d)
    e1 = store.apply_batch("b0", docs.filter(F.col("doc_id") < cut), cfg)
    store.apply_batch("b1", docs.filter(F.col("doc_id") >= cut), cfg)
    return store.as_of(e1["id"]).select("z", "tx", "ty", "point_cnt")


@register("incremental_store", _INCR_SQL)
def q_incremental_store(spark, sf_dir):
    """Checkpointed two-batch incremental render through the delta-
    snapshot TileStore; the merged store's cumulative per-tile point
    counts must equal the one-shot stamp pyramid (zooms 1-6 sit below
    z_no_lines, so the tile set is exactly the stamp relation — fully
    SQL-able, which makes the resume/merge path itself oracle-checked).

    Built under a STABLE ``.oracle_cache`` directory (not a tempdir): the
    returned DataFrame reads the store files whenever it is collected
    (VERDICT r04 wrong-item #1)."""
    from .config import EngineConfig
    from .streaming.incremental import process_batches
    _points_cache(spark, sf_dir)
    cfg = EngineConfig(zoom_min=1, zoom_max=6)
    n = _sf_n_docs(sf_dir)
    d = _fresh_store_dir(os.path.join(_ORACLE_CACHE, f"store_incr_n{n}"))
    store = process_batches(spark, _sf_docs(spark, sf_dir), d, cfg,
                            n_batches=2)
    return store.current().select("z", "tx", "ty", "point_cnt")


# ---------------------------------------------------------------------------
# Training-pipeline family, round-5 extension: per-track summary stats,
# stratified split, weighted sampling, BM25 retrieval, count-min sketch
# ---------------------------------------------------------------------------


@register("track_stats", f"""
  WITH pts AS ({PTS_SQL}),
  lagged AS (
    SELECT user_id, kph, lat, lon, epoch(ts) AS es,
           LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
           LAG(epoch(ts)) OVER w AS pes
    FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, pid)),
  legs AS (
    SELECT user_id,
           CAST(FLOOR(ACOS(LEAST(1.0, GREATEST(-1.0,
               SIN(RADIANS(plat)) * SIN(RADIANS(lat))
             + COS(RADIANS(plat)) * COS(RADIANS(lat)) * COS(RADIANS(lon - plon))
           ))) * 6371000.0 * 1000.0) AS BIGINT) AS dist_milli,
           CAST(FLOOR(es - pes) AS BIGINT) AS dt_sec,
           CAST(FLOOR(kph * 1000000.0) AS BIGINT) AS kph_micro
    FROM lagged WHERE plat IS NOT NULL)
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_legs,
         CAST(SUM(dist_milli) AS BIGINT) AS dist_milli,
         CAST(SUM(dt_sec) AS BIGINT) AS dur_sec,
         CAST(SUM(CASE WHEN dist_milli > 0 THEN dt_sec ELSE 0 END) AS BIGINT)
           AS moving_sec,
         CAST(FLOOR(CAST(SUM(kph_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS avg_kph_micro
  FROM legs GROUP BY user_id
""")
def q_track_stats(spark, sf_dir):
    """Per-track GPX summary (distance / duration / moving time / avg
    speed) — the analytics table a track site derives per upload.  One
    window (pair legs) + one groupBy on the SAME key, so the groupBy
    reuses the window's hash partitioning (single shuffle end-to-end);
    all sums are exact integers (per-leg micro/milli floors, the
    proven-identical track_pairs distance tree)."""
    pts = _points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "pid")
    es = F.col("ts").cast("timestamp").cast("double")
    lagged = pts.select(
        "user_id", "kph", "lat", "lon", es.alias("es"),
        F.lag("lat").over(w).alias("plat"), F.lag("lon").over(w).alias("plon"),
        F.lag(es).over(w).alias("pes"),
    ).filter(F.col("plat").isNotNull())
    dist = P.earth_distance_col(F.col("plat"), F.col("plon"),
                                F.col("lat"), F.col("lon"))
    legs = lagged.select(
        "user_id",
        F.floor(dist * 1000.0).cast("long").alias("dist_milli"),
        F.floor(F.col("es") - F.col("pes")).cast("long").alias("dt_sec"),
        F.floor(F.col("kph") * F.lit(1000000.0)).cast("long")
        .alias("kph_micro"))
    return legs.groupBy("user_id").agg(
        F.count("*").alias("n_legs"),
        F.sum("dist_milli").alias("dist_milli"),
        F.sum("dt_sec").alias("dur_sec"),
        F.sum(F.when(F.col("dist_milli") > 0, F.col("dt_sec"))
              .otherwise(F.lit(0))).alias("moving_sec"),
        F.floor(F.sum("kph_micro").cast("double") / F.count("*"))
        .cast("long").alias("avg_kph_micro"))


@register("stratified_split", f"""
  WITH a AS (
    SELECT lang, source, n_chars, doc_id,
           substr(md5(concat('split|', CAST(doc_id AS VARCHAR))), 1, 2)
             AS bucket
    FROM documents),
  b AS (
    SELECT lang, source, doc_id, n_chars,
           CASE WHEN bucket < '{pipeline.SPLIT_TRAIN_HI}' THEN 'train'
                WHEN bucket < '{pipeline.SPLIT_VAL_HI}' THEN 'val'
                ELSE 'test' END AS split
    FROM a)
  SELECT lang, source, split,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
  FROM b GROUP BY lang, source, split
""")
def q_stratified_split(spark, sf_dir):
    """Deterministic hash-bucketed train/val/test split, audited per
    (lang, source, split).  The assignment is a pure map (no shuffle,
    no RNG state); the audit groupBy is low-cardinality."""
    return pipeline.stratified_split_counts(
        _t(spark, sf_dir, "documents", spread=False))  # pure map + tiny agg


_WS_HASH = "md5(concat('ws|', CAST(doc_id AS VARCHAR)))"


@register("weighted_sample", f"""
  WITH keyed AS (
    SELECT lang, doc_id, n_chars,
           LN({pipeline.hex_u01_sql(_WS_HASH)}) / CAST(n_chars AS DOUBLE)
             AS skey
    FROM documents WHERE n_chars > 0),
  ranked AS (
    SELECT lang, doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY skey DESC, doc_id)
             AS rank
    FROM keyed)
  SELECT lang, doc_id, CAST(rank AS INT) AS rank, n_chars
  FROM ranked WHERE rank <= 10
""")
def q_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sample (k=10 per lang, weight =
    n_chars) with a deterministic md5-derived uniform, so the sampled
    id set itself is oracle-checked.  The per-input-partition top-k
    prefilter keeps the stratum window bounded (pipeline.py)."""
    return pipeline.weighted_sample(_t(spark, sf_dir, "documents"), k=10)


_BM25_TERMS = ("spark", "query", "vector")


@register("bm25_topk", pipeline.bm25_sql(_BM25_TERMS))
def q_bm25_topk(spark, sf_dir):
    """BM25 top-20 for a fixed query over documents.text — the
    inverted-index retrieval shape (explode filtered to the term set,
    posting counts via groupBy-pivot, corpus scalars broadcast back,
    distributed TakeOrdered top-k)."""
    return pipeline.bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS)


@register("cms_user_counts",
          pipeline.cms_sql("CAST(user_id AS VARCHAR)", "events"))
def q_cms_user_counts(spark, sf_dir):
    """Count-min sketch (d=4 × w=256, md5 row-salted) over event
    user_ids, point-queried for every distinct user next to the exact
    count — est >= exact always (pytest), and the sketch table itself
    is the resumable/mergeable state (groupBy-SUM registers, ≤ 1024
    rows no matter the input size)."""
    ev = _t(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    sketch = pipeline.cms_registers(ev, key)
    keys = ev.select(key.alias("key")).distinct()
    est = pipeline.cms_estimates(keys, sketch, "key")
    exact = ev.groupBy(key.alias("key")).agg(
        F.count("*").alias("exact_cnt"))
    return est.join(exact, "key")


@register("streaming_cms",
          pipeline.cms_sql("CAST(user_id AS VARCHAR)", "events"))
def q_streaming_cms(spark, sf_dir):
    """Streaming twin of `cms_user_counts`: events replay as a 2-file
    stream; the count-min registers are maintained as a COMPLETE-mode
    streaming groupBy-SUM (state permanently ≤ d·256 rows — the sketch
    is its own bound, the shape a 100 TB streaming frequency monitor
    needs).  Count-sum commutes with union, so the converged stream
    sketch equals the batch sketch exactly and this row reuses the
    batch oracle SQL verbatim (exact counts ride along from the batch
    table as the accuracy witness)."""
    ev = _t(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    sketch = _drain(ev, _median_slices(ev),
                    lambda replay: pipeline.cms_registers(replay(), key),
                    "complete")
    keys = ev.select(key.alias("key")).distinct()
    est = pipeline.cms_estimates(keys, sketch, "key")
    exact = ev.groupBy(key.alias("key")).agg(
        F.count("*").alias("exact_cnt"))
    return est.join(exact, "key")


# ---------------------------------------------------------------------------
# Douglas–Peucker track simplification (operators/simplify.py) — the
# oracle is a from-scratch recursive-CTE DP in DuckDB (argmax per split
# via ROW_NUMBER in the recursive term), so the whole recursion is
# hash-checked, not just the output size.
# ---------------------------------------------------------------------------

DP_EPS = 20.0  # planar degrees; ~12% of points survive on this corpus


def _dp_sql(eps: float) -> str:
    eps2 = f"CAST('{eps * eps!r}' AS DOUBLE)"
    dx, dy = "(b.x - a.x)", "(b.y - a.y)"
    len2 = f"({dx} * {dx} + {dy} * {dy})"

    def mag(p: str) -> str:
        cr = f"({dx} * ({p}.y - a.y) - {dy} * ({p}.x - a.x))"
        pd2 = (f"(({p}.x - a.x) * ({p}.x - a.x)"
               f" + ({p}.y - a.y) * ({p}.y - a.y))")
        return f"(CASE WHEN {len2} = 0.0 THEN {pd2} ELSE {cr} * {cr} END)"

    th = (f"(CASE WHEN {len2} = 0.0 THEN {eps2}"
          f" ELSE {eps2} * {len2} END)")
    return f"""
  WITH RECURSIVE pts AS (
    SELECT user_id AS u, pid, lon AS x, lat AS y,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, pid) AS i
    FROM ({PTS_SQL})),
  seg(u, i0, i1) AS (
    SELECT u, MIN(i), MAX(i) FROM pts GROUP BY u HAVING COUNT(*) >= 2
    UNION ALL
    SELECT spl.u,
           CASE WHEN sides.s = 0 THEN spl.i0 ELSE spl.im END,
           CASE WHEN sides.s = 0 THEN spl.im ELSE spl.i1 END
    FROM (
      SELECT u, i0, i1, im FROM (
        SELECT s.u AS u, s.i0 AS i0, s.i1 AS i1, p.i AS im,
               {mag('p')} AS m, {th} AS th,
               ROW_NUMBER() OVER (PARTITION BY s.u, s.i0, s.i1
                                  ORDER BY {mag('p')} DESC, p.i) AS rn
        FROM seg s
        JOIN pts a ON a.u = s.u AND a.i = s.i0
        JOIN pts b ON b.u = s.u AND b.i = s.i1
        JOIN pts p ON p.u = s.u AND p.i > s.i0 AND p.i < s.i1
      ) w WHERE rn = 1 AND m > th
    ) spl, (VALUES (0), (1)) sides(s)),
  kept AS (
    SELECT u, i0 AS i FROM seg UNION SELECT u, i1 AS i FROM seg
    UNION SELECT u, MIN(i) AS i FROM pts GROUP BY u HAVING COUNT(*) = 1)
  SELECT p.u AS user_id, p.pid
  FROM pts p JOIN kept k ON k.u = p.u AND k.i = p.i
"""


@register("track_simplify_dp", _dp_sql(DP_EPS))
def q_track_simplify_dp(spark, sf_dir):
    """Douglas–Peucker simplification of every user track at eps=20°
    planar — the pre-render reduction a tile engine applies at low
    zooms.  Sequential within a track, parallel across tracks
    (applyInPandas, one shuffle); the DuckDB oracle re-runs the SAME
    recursion as a recursive CTE with identical float op trees and
    first-index argmax ties, so every split decision is hash-checked."""
    from .operators.simplify import simplify_tracks

    return simplify_tracks(_points(spark, sf_dir), DP_EPS)


@register("tfidf_topterms", """
  WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
  tf AS (
    SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
    FROM words GROUP BY 1, 2),
  dfx AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
  stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
  scored AS (
    SELECT tf.doc_id, tf.w, tf.tf, dfx.df,
           CAST(tf.tf AS DOUBLE)
             * LN(CAST(n_docs AS DOUBLE) / CAST(dfx.df AS DOUBLE)) AS score
    FROM tf JOIN dfx USING (w) CROSS JOIN stats),
  r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, w) AS rank
    FROM scored)
  SELECT doc_id, w AS term, tf, df, CAST(rank AS INT) AS rank,
         CAST(FLOOR(score * 1000000.0) AS BIGINT) AS tfidf_micro
  FROM r WHERE rank <= 3
""")
def q_tfidf_topterms(spark, sf_dir):
    """Top-3 keywords per document by tf·idf — the corpus-wide
    inverted-index aggregate (word-keyed shuffles, 1-row corpus-count
    broadcast, per-row float scoring)."""
    return textstats.tfidf_topterms(_t(spark, sf_dir, "documents"), k=3)


@register("pmi_bigrams", """
  WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
  g AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 1)) AS i, ws
        FROM d),
  big AS (SELECT ws[i] AS a, ws[i + 1] AS b FROM g),
  cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
          FROM big GROUP BY 1, 2),
  words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
  uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY 1),
  totals AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM big) AS bt,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM words) AS tt),
  j AS (
    SELECT cab.a, cab.b, cab.cab, ua.c AS ca, ub.c AS cb,
           LN((CAST(cab.cab AS DOUBLE) / CAST(bt AS DOUBLE))
              / ((CAST(ua.c AS DOUBLE) / CAST(tt AS DOUBLE))
                 * (CAST(ub.c AS DOUBLE) / CAST(tt AS DOUBLE)))) AS pmi
    FROM cab
    JOIN uni ua ON ua.w = cab.a
    JOIN uni ub ON ub.w = cab.b
    CROSS JOIN totals
    WHERE cab.cab >= 5),
  r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, a, b) AS rank
        FROM j)
  SELECT a, b, cab, ca, cb, CAST(rank AS INT) AS rank,
         CAST(FLOOR(pmi * 1000000.0) AS BIGINT) AS pmi_micro
  FROM r WHERE rank <= 50
""")
def q_pmi_bigrams(spark, sf_dir):
    """Top-50 adjacent-bigram collocations by PMI (min count 5) —
    phrase mining over the corpus; bigrams via a narrow array
    transform, exact-integer counts, TakeOrdered top-k."""
    return textstats.pmi_bigrams(_t(spark, sf_dir, "documents"))


@register("track_resample", f"""
  WITH pts AS (
    SELECT user_id, pid, epoch(ts) AS es, 1 AS is_pt, lat, lon,
           CAST(NULL AS BIGINT) AS g
    FROM ({PTS_SQL}) WHERE user_id % 7 = 0),
  bounds AS (SELECT user_id, MIN(es) AS lo, MAX(es) AS hi
             FROM pts GROUP BY user_id),
  grid AS (
    SELECT user_id,
           CAST(unnest(generate_series(
             CAST(CEIL(lo / 900.0) AS BIGINT),
             CAST(FLOOR(hi / 900.0) AS BIGINT))) AS BIGINT) AS gi
    FROM bounds),
  gridr AS (
    SELECT user_id, CAST(NULL AS BIGINT) AS pid,
           CAST(gi * 900 AS DOUBLE) AS es, 0 AS is_pt,
           CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon,
           gi * 900 AS g
    FROM grid),
  tagged AS (SELECT * FROM pts UNION ALL SELECT * FROM gridr),
  carried AS (
    SELECT user_id, is_pt, es, g,
           LAST_VALUE(CASE WHEN is_pt = 1 THEN es END IGNORE NULLS)
             OVER wa AS pes,
           LAST_VALUE(lat IGNORE NULLS) OVER wa AS plat,
           LAST_VALUE(lon IGNORE NULLS) OVER wa AS plon,
           LAST_VALUE(CASE WHEN is_pt = 1 THEN es END IGNORE NULLS)
             OVER wd AS nes,
           LAST_VALUE(lat IGNORE NULLS) OVER wd AS nlat,
           LAST_VALUE(lon IGNORE NULLS) OVER wd AS nlon
    FROM tagged
    WINDOW wa AS (PARTITION BY user_id
                  ORDER BY es, is_pt DESC, pid DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wd AS (PARTITION BY user_id
                  ORDER BY es DESC, is_pt DESC, pid
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
  interp AS (
    SELECT user_id, g,
           CASE WHEN nes = pes THEN plat
                ELSE plat + (nlat - plat) * ((es - pes) / (nes - pes))
           END AS ilat,
           CASE WHEN nes = pes THEN plon
                ELSE plon + (nlon - plon) * ((es - pes) / (nes - pes))
           END AS ilon
    FROM carried
    WHERE is_pt = 0 AND pes IS NOT NULL AND nes IS NOT NULL)
  SELECT user_id, g AS g_sec,
         CAST(FLOOR(ilat * 1000000.0) AS BIGINT) AS lat_micro,
         CAST(FLOOR(ilon * 1000000.0) AS BIGINT) AS lon_micro
  FROM interp
""")
def q_track_resample(spark, sf_dir):
    """Fixed-interval (900 s) temporal resampling of every track with
    linear interpolation — JOIN-FREE via one tagged union + mirrored
    ascending/descending LOCF windows (geo.resample_tracks); the
    oracle runs the identical two-window derivation in DuckDB.
    Restricted to a deterministic 1-in-7 user subset to keep the
    oracle-collected output bounded (~60k rows at the gate scale,
    ~600k at the sf1 decade)."""
    pts = _points(spark, sf_dir).filter(F.col("user_id") % 7 == 0)
    return geo.resample_tracks(pts, step_sec=900)


@register("speed_outliers", f"""
  WITH pts AS ({PTS_SQL}),
  m AS (
    SELECT pid, user_id,
           CAST(FLOOR(kph * 1000.0) AS BIGINT) AS kph_milli
    FROM pts),
  st AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(kph_milli) AS BIGINT) AS s1,
           CAST(SUM(kph_milli * kph_milli) AS BIGINT) AS s2
    FROM m GROUP BY user_id),
  z AS (
    SELECT m.pid, m.user_id, m.kph_milli,
           (CAST(m.kph_milli AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / SQRT(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS zs
    FROM m JOIN st ON st.user_id = m.user_id
    WHERE CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) > 0.0)
  SELECT pid, user_id, kph_milli,
         CAST(FLOOR(zs * 1000000.0) AS BIGINT) AS z_micro
  FROM z WHERE zs > 2.5 OR zs < -2.5
""")
def q_speed_outliers(spark, sf_dir):
    """Per-user speed anomaly detection: |z| > 2.5 under the user's own
    mean/std — the data-quality screen a GPS pipeline runs before
    training on speeds.  Moments come from EXACT integer sums
    (per-row milli floors; s2 ≤ n·1e10 stays far inside int64), so the
    float mean/variance/z are single-op-tree doubles — no float
    aggregation-order hazard, hence the exact oracle.  One groupBy +
    one same-key join (the stats table is per-user-bounded; at 10^12
    rows this is a broadcastable aggregate side)."""
    pts = _points(spark, sf_dir)
    m = pts.select(
        "pid", "user_id",
        F.floor(F.col("kph") * F.lit(1000.0)).cast("long")
        .alias("kph_milli"))
    st = m.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("kph_milli").alias("s1"),
        F.sum(F.col("kph_milli") * F.col("kph_milli")).alias("s2"))
    j = m.join(st, "user_id")
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mean * mean
    zs = (F.col("kph_milli").cast("double") - mean) / F.sqrt(var)
    return (j.filter(var > 0.0)
            .withColumn("zs", zs)
            .filter((F.col("zs") > 2.5) | (F.col("zs") < -2.5))
            .select("pid", "user_id", "kph_milli",
                    F.floor(F.col("zs") * F.lit(1000000.0)).cast("long")
                    .alias("z_micro")))


def _bloom_pos_sql(k_expr: str, r: int) -> str:
    """3-hex-nibble ladder (0..4095) over md5('bf{r}|' + key) — the SQL
    twin of pipeline._bloom_pos."""
    h = f"md5(concat('bf{r}|', {k_expr}))"

    def nib(i: int) -> str:
        c = f"substr({h}, {1 + i}, 1)"
        return (f"(CASE WHEN {c} <= '9' THEN ascii({c}) - 48"
                f" ELSE ascii({c}) - 87 END)")
    return f"((({nib(0)}) * 16 + {nib(1)}) * 16 + {nib(2)})"


def _bloom_sql() -> str:
    build_pos = " UNION ALL ".join(
        f"SELECT {_bloom_pos_sql('k', r)} AS pos FROM build"
        for r in range(3))
    probe_pos = " UNION ALL ".join(
        f"SELECT k, {_bloom_pos_sql('k', r)} AS pos FROM keys"
        for r in range(3))
    return f"""
  WITH build AS (
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
    FROM events WHERE user_id % 11 = 0),
  bits AS (SELECT DISTINCT pos FROM ({build_pos})),
  keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events),
  probes AS ({probe_pos}),
  pass AS (
    SELECT k FROM (
      SELECT p.k, COUNT(*) AS nh
      FROM probes p JOIN bits b ON b.pos = p.pos
      GROUP BY p.k) x
    WHERE nh = 3)
  SELECT e.user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(CASE WHEN e.user_id % 11 = 0 THEN 1 ELSE 0 END) AS INT)
           AS is_member
  FROM events e JOIN pass ON pass.k = CAST(e.user_id AS VARCHAR)
  GROUP BY e.user_id
"""


@register("bloom_prune_events", _bloom_sql())
def q_bloom_prune_events(spark, sf_dir):
    """Runtime Bloom-filter semi-join pruning: a deterministic filter
    (m=4096 bits, k=3 md5-salted hashes) built from the 'alert users'
    key set (user_id % 11 = 0) prunes the event fact table WITHOUT
    shuffling it — bits and surviving keys both broadcast.  Output
    keeps `is_member` so the (reproducible, md5-deterministic) false
    positives are part of the hash-checked surface, not hidden.  A
    Bloom filter can never drop a member (COUNT of matched probe rows,
    robust to same-key position collisions — see pipeline.bloom_prune)."""
    ev = _t(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    build = (ev.filter(F.col("user_id") % 11 == 0)
             .select(key.alias("key")).distinct())
    bits = pipeline.bloom_bits(build, "key")
    facts = ev.withColumn("key", key)
    pruned = pipeline.bloom_prune(facts, bits, "key")
    return pruned.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(F.when(F.col("user_id") % 11 == 0, 1).otherwise(0))
        .cast("int").alias("is_member"))


# ---------------------------------------------------------------------------
# Trajectory mining: stay points / OD flows / co-visitation / decayed tiles
# ---------------------------------------------------------------------------

_TRAJ_BASE_SQL = f"""
  WITH pts AS ({PTS_SQL}),
  tp AS (
    SELECT pid, user_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
           {{tx}} AS tx, {{ty}} AS ty
    FROM pts)
"""


def _traj_sql(zoom: int, body: str) -> str:
    z = str(zoom)
    return _TRAJ_BASE_SQL.format(tx=tx_sql("lon", z), ty=ty_sql("lat", z)) + body


@register("stay_points", f"""
  WITH pts AS (
    SELECT doc_id, seg_order, pt_idx, lat, lon
    FROM read_parquet('{os.path.join(_ORACLE_CACHE, "points_current", "*.parquet")}')
    WHERE kind = 'trkpt'),
  tp AS (
    SELECT doc_id, seg_order, pt_idx,
           {tx_sql("lon", "14")} AS tx, {ty_sql("lat", "14")} AS ty
    FROM pts),
  m AS (
    SELECT doc_id, seg_order, pt_idx, tx, ty,
           CASE WHEN LAG(tx) OVER w IS NULL OR LAG(tx) OVER w <> tx
                  OR LAG(ty) OVER w <> ty THEN 1 ELSE 0 END AS moved
    FROM tp WINDOW w AS (PARTITION BY doc_id ORDER BY seg_order, pt_idx)),
  isl AS (
    SELECT doc_id, tx, ty,
           SUM(moved) OVER (PARTITION BY doc_id ORDER BY seg_order, pt_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island
    FROM m),
  g AS (
    SELECT doc_id, CAST(island AS BIGINT) AS island,
           MIN(tx) AS tx, MIN(ty) AS ty, COUNT(*) AS n_fixes
    FROM isl GROUP BY 1, 2)
  SELECT doc_id, island, tx, ty, n_fixes FROM g WHERE n_fixes >= 4
""")
def q_stay_points(spark, sf_dir):
    """Stay-point (dwell) detection over the parsed GPX tracks: maximal
    runs of consecutive fixes inside one z14 tile per document, kept at
    >= 4 fixes - the gaps-and-islands window pattern (lag -> running sum
    -> groupBy), all keyed on doc_id so the points table shuffles once.
    The oracle replays the identical island derivation in DuckDB over
    the cached parsed points on the same (seg_order, pt_idx) order."""
    from .operators import trajectory
    trk = spark.read.parquet(_points_cache(spark, sf_dir)) \
        .filter(F.col("kind") == "trkpt") \
        .select("doc_id", "seg_order", "pt_idx", "lat", "lon")
    return trajectory.dwell_islands(trk, zoom=14, min_fixes=4)


@register("od_matrix", _traj_sql(8, """
  , m AS (
    SELECT user_id, ts, pid, es, tx, ty,
           CASE WHEN LAG(es) OVER w IS NULL OR es - LAG(es) OVER w > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM tp WINDOW w AS (PARTITION BY user_id ORDER BY ts, pid)),
  s AS (
    SELECT user_id, ts, pid, tx, ty,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, pid
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sess
    FROM m),
  r AS (
    SELECT user_id, sess, tx, ty,
           ROW_NUMBER() OVER (PARTITION BY user_id, sess
                              ORDER BY ts, pid) AS ra,
           ROW_NUMBER() OVER (PARTITION BY user_id, sess
                              ORDER BY ts DESC, pid DESC) AS rd
    FROM s),
  ends AS (
    SELECT user_id, sess,
           MAX(CASE WHEN ra = 1 THEN tx END) AS o_tx,
           MAX(CASE WHEN ra = 1 THEN ty END) AS o_ty,
           MAX(CASE WHEN rd = 1 THEN tx END) AS d_tx,
           MAX(CASE WHEN rd = 1 THEN ty END) AS d_ty
    FROM r GROUP BY 1, 2)
  SELECT o_tx, o_ty, d_tx, d_ty, COUNT(*) AS n_trips,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM ends GROUP BY 1, 2, 3, 4
"""))
def q_od_matrix(spark, sf_dir):
    """Origin-destination flow matrix: per (user, 30-min session) the
    first and last fix's z8 cell (row_number in both (ts, pid)
    directions — a total order both engines share, no arg_min
    semantics), then trips + distinct users per cell pair.  The flow
    matrix is dimension-bounded, so downstream joins can broadcast it."""
    from .operators import trajectory
    return trajectory.od_matrix(_points(spark, sf_dir),
                                zoom=8, gap_minutes=30)


@register("co_visit_pairs", _traj_sql(7, """
  , posts AS (
    SELECT DISTINCT user_id, tx, ty, CAST(FLOOR(es / 86400.0) AS BIGINT) AS day
    FROM tp),
  nu AS (
    SELECT tx, ty, day, COUNT(*) AS n_users FROM posts GROUP BY 1, 2, 3),
  ok AS (SELECT tx, ty, day FROM nu WHERE n_users <= 32),
  p AS (SELECT posts.* FROM posts JOIN ok USING (tx, ty, day)),
  pr AS (
    SELECT a.user_id AS ua, b.user_id AS ub, COUNT(*) AS n_shared
    FROM p a JOIN p b USING (tx, ty, day)
    WHERE a.user_id < b.user_id
    GROUP BY 1, 2)
  SELECT ua, ub, n_shared FROM pr WHERE n_shared >= 2
"""))
def q_co_visit_pairs(spark, sf_dir):
    """Spatiotemporal co-visitation: user pairs sharing ≥ 2 distinct
    (z7 tile, day) buckets.  The inverted-index self-join with the
    degenerate-bucket cap (> 32 visitors ⇒ bucket dropped BEFORE the
    join — the MinHash max_bucket policy applied to space-time): pair
    volume is Σ min(n_u, 32)² per bucket, never corpus², and the cap is
    part of the contract the oracle checks on both sides."""
    from .operators import trajectory
    return trajectory.co_visit_pairs(_points(spark, sf_dir),
                                     zoom=7, max_users=32, min_shared=2)


@register("tile_decay", _traj_sql(6, """
  , byday AS (
    SELECT tx, ty, CAST(FLOOR(es / 86400.0) AS BIGINT) AS day,
           COUNT(*) AS cnt
    FROM tp GROUP BY 1, 2, 3),
  mx AS (SELECT MAX(day) AS max_day FROM byday)
  SELECT tx, ty, COUNT(*) AS n_days,
         CAST(SUM(cnt) AS BIGINT) AS n_points,
         CAST(SUM(CASE WHEN 29 - (max_day - day) >= 0
                       THEN cnt * (CAST(1 AS BIGINT) << CAST(29 - (max_day - day) AS INT))
                       ELSE 0 END) AS BIGINT) AS decayed_x2h
  FROM byday, mx GROUP BY 1, 2
"""))
def q_tile_decay(spark, sf_dir):
    """Exponentially time-decayed per-z6-tile activity (alpha = 1/2 per
    day) computed EXACTLY in int64: day-counts weighted 2^(29 − age)
    make the decayed counter an associative integer sum — order-free and
    partial-agg-mergeable, hence full-hash-checkable, where a float
    pow() EWMA has no deterministic aggregation order.  Two map-side-
    combinable groupBys + one 1-row max-day broadcast."""
    from .operators import trajectory
    return trajectory.tile_decay(
        # (tx,ty,day)-keyed aggs can't reuse a user_id spread
        _points(spark, sf_dir, spread=False), zoom=6, horizon_days=29)


@register("span_media_context", f"""
  WITH sp AS (
    SELECT doc_id, CAST(i - 1 AS INT) AS span_idx,
           spans[i].kind AS kind, spans[i].text AS text,
           spans[i].media_ref AS media_ref
    FROM read_parquet('{os.path.join(_ORACLE_CACHE, "docs_current", "*.parquet")}'),
         unnest(generate_series(1, len(spans))) AS t(i)),
  c AS (
    SELECT doc_id, span_idx, kind, media_ref,
           LAST_VALUE(CASE WHEN kind = 'text' THEN text END IGNORE NULLS)
             OVER (PARTITION BY doc_id ORDER BY span_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ctx
    FROM sp)
  SELECT doc_id, span_idx, media_ref,
         md5(COALESCE(ctx, '')) AS ctx_md5,
         CAST(LENGTH(COALESCE(ctx, '')) AS INT) AS ctx_len
  FROM c WHERE kind = 'media'
""")
def q_span_media_context(spark, sf_dir):
    """Interleaved-payload context join: for every media span, the
    nearest PRECEDING text span in the same document — the
    caption/alt-text association a multimodal training pipeline derives
    from span order.  One window over (doc_id, span_idx) with an
    ignore-nulls last_value — no self-join, no explode beyond the span
    table itself; the span-sequence invariant (order) is what makes the
    association well-defined, and the oracle replays it from the raw
    span arrays."""
    from .operators.parse import explode_spans
    docs = spark.read.parquet(_docs_cache(spark, sf_dir))
    sp = explode_spans(docs)
    w = Window.partitionBy("doc_id").orderBy("span_idx") \
        .rowsBetween(Window.unboundedPreceding, -1)
    ctx = F.last(F.when(F.col("kind") == "text", F.col("text")),
                 ignorenulls=True).over(w)
    return (sp.withColumn("ctx", ctx)
            .filter(F.col("kind") == "media")
            .select("doc_id", "span_idx", "media_ref",
                    F.md5(F.coalesce("ctx", F.lit(""))).alias("ctx_md5"),
                    F.length(F.coalesce("ctx", F.lit(""))).cast("int")
                    .alias("ctx_len")))


_MAPMATCH_SQL = f"""
  WITH pts AS ({PTS_SQL}),
  seg AS (
    SELECT s_suppkey AS seg_id,
           (CAST(s_suppkey * 29 % 3600 AS DOUBLE) / 10.0) - 179.95 AS x1,
           (CAST(s_suppkey * 13 % 1400 AS DOUBLE) / 10.0) - 69.95 AS y1,
           ((CAST(s_suppkey * 29 % 3600 AS DOUBLE) / 10.0) - 179.95)
             + CAST(s_suppkey * 17 % 21 - 10 AS DOUBLE) / 100.0 AS x2,
           ((CAST(s_suppkey * 13 % 1400 AS DOUBLE) / 10.0) - 69.95)
             + CAST(s_suppkey * 23 % 21 - 10 AS DOUBLE) / 100.0 AS y2
    FROM supplier),
  segn AS (
    SELECT DISTINCT seg_id, x1, y1, x2, y2,
           ((({tx_sql("(x1 + x2) / 2.0", "7")}) + ddx + 128) % 128)
             + LEAST(GREATEST(({ty_sql("(y1 + y2) / 2.0", "7")}) + ddy, 0), 127) * 128
             AS cell
    FROM seg,
         (SELECT unnest([-1, 0, 1]) AS ddx),
         (SELECT unnest([-1, 0, 1]) AS ddy)),
  pc AS (
    SELECT pid, lon, lat,
           ({tx_sql("lon", "7")}) + ({ty_sql("lat", "7")}) * 128 AS cell
    FROM pts),
  sc AS (
    SELECT pid, seg_id,
           CASE WHEN (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) > 0.0
                THEN LEAST(1.0, GREATEST(0.0,
                     ((lon-x1)*(x2-x1) + (lat-y1)*(y2-y1))
                     / ((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))))
                ELSE 0.0 END AS t,
           x1, y1, x2, y2, lon, lat
    FROM pc JOIN segn USING (cell)),
  d AS (
    SELECT pid, seg_id, t,
           (lon - (x1 + t*(x2-x1))) * (lon - (x1 + t*(x2-x1)))
         + (lat - (y1 + t*(y2-y1))) * (lat - (y1 + t*(y2-y1))) AS d2
    FROM sc),
  r AS (
    SELECT pid, seg_id, t,
           ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2, seg_id) AS rnk
    FROM d)
  SELECT pid, seg_id, CAST(FLOOR(t * 1000000.0) AS BIGINT) AS t_micro
  FROM r WHERE rnk = 1
"""


@register("map_match_segments", _MAPMATCH_SQL)
def q_map_match(spark, sf_dir):
    """Map matching: snap each point to the nearest road segment
    (clamped point-to-segment projection, the kernel a GPS pipeline
    runs before any road-level aggregation).  Candidates via the
    knn_bucketed 3×3-cell scheme with the segment dim replicated and
    BROADCAST — the point side joins on its own z7 cell and never
    shuffles; nearest = min (d², seg_id) per point.  The oracle
    re-derives segments, cells, clamp and distance with the identical
    float op tree; ``t_micro`` pins the snap position, not just the id."""
    from .operators.geo import map_match, road_segments
    return map_match(_points(spark, sf_dir),
                     road_segments(_t(spark, sf_dir, "supplier")), zoom=7)


@register("geofence_transitions", f"""
  WITH pts AS ({PTS_SQL}),
  rects AS (
    SELECT r_regionkey AS region_id,
           CAST(r_regionkey AS DOUBLE) * 25.0 - 65.0 AS lat_min,
           CAST(r_regionkey AS DOUBLE) * 25.0 - 40.0 AS lat_max,
           CAST(r_regionkey AS DOUBLE) * 60.0 - 170.0 AS lon_min,
           CAST(r_regionkey AS DOUBLE) * 60.0 - 115.0 AS lon_max
    FROM region),
  tagged AS (
    SELECT p.pid, p.user_id, p.ts,
           CAST(COALESCE(r.region_id, -1) AS BIGINT) AS region
    FROM pts p LEFT JOIN rects r
      ON p.lat >= r.lat_min AND p.lat < r.lat_max
     AND p.lon >= r.lon_min AND p.lon < r.lon_max),
  t AS (
    SELECT user_id, pid, region,
           LAG(region) OVER (PARTITION BY user_id ORDER BY ts, pid)
             AS prev_region
    FROM tagged)
  SELECT user_id, pid, prev_region AS from_region, region AS to_region,
         CASE WHEN prev_region = -1 THEN 'enter'
              WHEN region = -1 THEN 'exit'
              ELSE 'switch' END AS kind
  FROM t WHERE prev_region IS NOT NULL AND prev_region <> region
""")
def q_geofence_transitions(spark, sf_dir):
    """Geofence enter/exit detection: per user in time order, a row per
    containing-region change against the disjoint region-rectangle dim
    (outside = -1).  LEFT broadcast containment join — outside points
    must survive, they make exits observable — then one lag window; the
    fact table shuffles once, the dim broadcasts.  (gpx2tiles draws
    where points ARE; a fleet/geofencing product needs when they
    ARRIVE and LEAVE — same tile engine, one more window.)"""
    from .operators import trajectory
    return trajectory.geofence_transitions(
        _points(spark, sf_dir), geo.region_rects(_t(spark, sf_dir, "region")))


@register("tile_concurrency", _traj_sql(6, """
  , iv AS (
    SELECT user_id, tx, ty, MIN(es) AS t0, MAX(es) AS t1
    FROM tp GROUP BY 1, 2, 3),
  ev AS (
    SELECT tx, ty, user_id, t0 AS t, 1 AS delta FROM iv
    UNION ALL
    SELECT tx, ty, user_id, t1 + 1 AS t, -1 AS delta FROM iv),
  run AS (
    SELECT tx, ty, delta,
           SUM(delta) OVER (PARTITION BY tx, ty
                            ORDER BY t, delta DESC, user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS load
    FROM ev)
  SELECT tx, ty, CAST(COUNT(*) / 2 AS BIGINT) AS n_users,
         CAST(MAX(load) AS BIGINT) AS peak_concurrency
  FROM run GROUP BY 1, 2
"""))
def q_tile_concurrency(spark, sf_dir):
    """Peak concurrent visitors per z6 tile via the +1/−1 interval
    sweep: a (user, tile) groupBy collapses the fact table to presence
    intervals, then a tile-keyed running sum over the 2 endpoint rows
    per interval.  The endpoint tie rule (t, delta DESC, user_id) —
    same-instant starts before ends — is part of the contract and
    identical in the oracle."""
    from .operators import trajectory
    return trajectory.tile_concurrency(_points(spark, sf_dir), zoom=6)


@register("streaming_geofence", _REGISTRY["geofence_transitions"][1])
def q_streaming_geofence(spark, sf_dir):
    """STATEFUL STREAMING geofence (applyInPandasWithState), oracle =
    the batch geofence_transitions SQL verbatim: the events table is
    replayed as a 2-file event-time-ordered stream, the containing
    region is attached by the same broadcast stream-static containment
    join, and per-user state (ONE long — the last region) carries
    across micro-batches so every transition is emitted exactly once,
    including the pair SPLIT across the batch boundary.  The converged
    emitted set must equal the batch operator row-for-row."""
    from .streaming.live import geofence_stateful

    ev = _t(spark, sf_dir, "events")
    rects = geo.region_rects(_t(spark, sf_dir, "region")) \
        .select("region_id", "lat_min", "lat_max", "lon_min", "lon_max")
    return _drain(ev, _median_slices(ev),
                  lambda replay: geofence_stateful(
                      geo.derived_points(replay()), rects),
                  "update")


_DIFF_SQL = f"""
  WITH pts AS (
    SELECT doc_id, kind, lat, lon
    FROM read_parquet('{os.path.join(_ORACLE_CACHE, "points_current",
                                     "*.parquet")}')),
  alldocs AS (
    SELECT doc_id
    FROM read_parquet('{os.path.join(_ORACLE_CACHE, "docs_current",
                                     "*.parquet")}')),
  ranked AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
           COUNT(*) OVER () AS nd
    FROM alldocs),
  secondhalf AS (
    SELECT doc_id FROM ranked
    WHERE rn > CAST(FLOOR((nd + 1) / 2.0) AS BIGINT)),
  zs AS (SELECT CAST(unnest(generate_series(1, 6)) AS INT) AS z)
  SELECT z,
         CAST(FLOOR(((lon + 180.0) / 360.0) * POW(2.0, z)) AS INT) AS tx,
         CAST(FLOOR(((1.0 - LN(TAN(RADIANS(lat)) + 1.0/COS(RADIANS(lat)))
              / PI()) / 2.0) * POW(2.0, z)) AS INT) AS ty,
         COUNT(*) AS delta
  FROM pts JOIN secondhalf USING (doc_id), zs WHERE kind = 'trkpt'
  GROUP BY 1, 2, 3
"""


@register("store_diff", _DIFF_SQL)
def q_store_diff(spark, sf_dir):
    """Changed-tile detection between store snapshots — the partial
    re-render driver of incremental maintenance: commit the corpus as
    two doc-range batches, then ``diff(snapshot 1)`` vs the current
    state.  Because the store's counters are ADDITIVE, the delta must
    equal the SECOND batch's stamp pyramid exactly — re-derived in SQL
    from the cached points restricted to the second half of the doc
    ranks (the same cut predicate as store_as_of's first half).  Tiles
    only the first batch touched must NOT appear (delta 0 ⇒ no
    re-render).  Store under .oracle_cache (durable: the returned
    DataFrame reads its files when collected, VERDICT r04 #1)."""
    from .config import EngineConfig
    from .streaming.incremental import TileStore

    _points_cache(spark, sf_dir)
    _docs_cache(spark, sf_dir)
    n = _sf_n_docs(sf_dir)
    cut = f"doc{(n + 1) // 2:08d}"
    docs = _sf_docs(spark, sf_dir)
    cfg = EngineConfig(zoom_min=1, zoom_max=6)
    d = _fresh_store_dir(os.path.join(_ORACLE_CACHE, f"store_diff_n{n}"))
    store = TileStore(spark, d)
    e1 = store.apply_batch("b0", docs.filter(F.col("doc_id") < cut), cfg)
    store.apply_batch("b1", docs.filter(F.col("doc_id") >= cut), cfg)
    return store.diff(e1["id"])


@register("od_travel_time", _traj_sql(6, """
  , m AS (
    SELECT user_id, ts, pid, es, tx, ty,
           CASE WHEN LAG(es) OVER w IS NULL OR es - LAG(es) OVER w > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM tp WINDOW w AS (PARTITION BY user_id ORDER BY ts, pid)),
  s AS (
    SELECT user_id, ts, pid, es, tx, ty,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, pid
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sess
    FROM m),
  r AS (
    SELECT user_id, sess, tx, ty, es,
           ROW_NUMBER() OVER (PARTITION BY user_id, sess
                              ORDER BY ts, pid) AS ra,
           ROW_NUMBER() OVER (PARTITION BY user_id, sess
                              ORDER BY ts DESC, pid DESC) AS rd
    FROM s),
  ends AS (
    SELECT user_id, sess,
           MAX(CASE WHEN ra = 1 THEN tx END) AS o_tx,
           MAX(CASE WHEN ra = 1 THEN ty END) AS o_ty,
           MAX(CASE WHEN rd = 1 THEN tx END) AS d_tx,
           MAX(CASE WHEN rd = 1 THEN ty END) AS d_ty,
           MAX(es) - MIN(es) AS dur
    FROM r GROUP BY 1, 2),
  rnk AS (
    SELECT o_tx, o_ty, d_tx, d_ty, dur,
           ROW_NUMBER() OVER (PARTITION BY o_tx, o_ty, d_tx, d_ty
                              ORDER BY dur, user_id, sess) AS rn,
           COUNT(*) OVER (PARTITION BY o_tx, o_ty, d_tx, d_ty) AS n_trips
    FROM ends)
  SELECT o_tx, o_ty, d_tx, d_ty, MAX(n_trips) AS n_trips,
         MAX(CASE WHEN rn = GREATEST(CAST(CEIL(CAST(0.5 AS DOUBLE)
               * CAST(n_trips AS DOUBLE)) AS BIGINT), 1)
             THEN dur END) AS p50_sec,
         MAX(CASE WHEN rn = GREATEST(CAST(CEIL(CAST(0.9 AS DOUBLE)
               * CAST(n_trips AS DOUBLE)) AS BIGINT), 1)
             THEN dur END) AS p90_sec
  FROM rnk GROUP BY 1, 2, 3, 4
  HAVING MAX(n_trips) >= 3
"""))
def q_od_travel_time(spark, sf_dir):
    """Travel-time matrix: DISC p50/p90 of trip duration per
    (origin z6 cell, destination z6 cell), min 3 trips — the ETA prior
    a mobility product aggregates.  DISC selection over integer
    seconds on the (dur, user, sess) total order (bit-reproducible,
    the tile_occupancy_quantiles policy); the session table the matrix
    ranks is already |sessions|-bounded, so the window never exceeds
    the pair cardinality."""
    from .operators import trajectory
    return trajectory.od_travel_time(_points(spark, sf_dir),
                                     zoom=6, gap_minutes=30, min_trips=3)


@register("user_home_cells", _traj_sql(7, """
  , c AS (
    SELECT user_id, tx, ty, COUNT(*) AS n_fixes
    FROM tp GROUP BY 1, 2, 3),
  r AS (
    SELECT user_id, tx, ty, n_fixes,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY n_fixes DESC, tx, ty) AS rnk
    FROM c)
  SELECT user_id, tx AS home_tx, ty AS home_ty, n_fixes
  FROM r WHERE rnk = 1
"""))
def q_user_home_cells(spark, sf_dir):
    """Home-cell inference: each user's most-visited z7 cell (the mode
    of the per-user cell distribution, deterministic tie rule
    (n DESC, tx, ty)).  One map-side-combinable groupBy collapses the
    fact table to |users|×|cells-visited| counts, then a user-keyed
    window picks the argmax — the standard mode-per-group shape with no
    engine-specific arg_max semantics."""
    from .operators.tiles import with_tile
    pts = with_tile(_points(spark, sf_dir), z=7)
    c = pts.groupBy("user_id", "tx", "ty").agg(
        F.count("*").alias("n_fixes"))
    w = Window.partitionBy("user_id") \
        .orderBy(F.col("n_fixes").desc(), "tx", "ty")
    return (c.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("user_id", F.col("tx").alias("home_tx"),
                    F.col("ty").alias("home_ty"), "n_fixes"))


@register("tile_day_retention", _traj_sql(6, """
  , posts AS (
    SELECT DISTINCT user_id, tx, ty,
           CAST(FLOOR(es / 86400.0) AS BIGINT) AS day
    FROM tp),
  ret AS (
    SELECT a.tx, a.ty, a.day,
           COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained
    FROM posts a LEFT JOIN posts b
      ON b.tx = a.tx AND b.ty = a.ty AND b.user_id = a.user_id
     AND b.day = a.day + 1
    GROUP BY 1, 2, 3)
  SELECT tx, ty, day, n_users, n_retained
  FROM ret WHERE n_users >= 5
"""))
def q_tile_day_retention(spark, sf_dir):
    """Day-over-day visitor retention per z6 tile: of the distinct
    users present on day d, how many return on day d+1 — a LEFT
    self-equi-join of the (user, tile, day) postings on the FULL key
    (tile, user, day+1), so each posting matches at most one row and
    the join never amplifies; both sides shuffle once on the same key.
    Tiles under 5 visitors are dropped (k-anonymity floor — also the
    output-size bound)."""
    from .operators.tiles import with_tile
    pts = with_tile(_points(spark, sf_dir), z=6)
    posts = pts.select(
        "user_id", "tx", "ty",
        F.floor(F.col("ts").cast("timestamp").cast("long") / F.lit(86400))
        .cast("long").alias("day")).distinct()
    b = posts.select(
        F.col("tx"), F.col("ty"), F.col("user_id"),
        (F.col("day") - 1).alias("day"), F.lit(1).alias("hit"))
    j = posts.join(b, ["tx", "ty", "user_id", "day"], "left")
    return (j.groupBy("tx", "ty", "day")
            .agg(F.count("*").alias("n_users"),
                 F.sum(F.coalesce("hit", F.lit(0))).alias("n_retained"))
            .filter(F.col("n_users") >= 5))
