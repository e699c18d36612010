"""sf1 scale-stress (VERDICT r03 #6): the spatial tier + the salted
render at 10× the sf0.1 corpus, rejection-sampled like bench.py, plus
skew statistics for the rasterize exchange.

No sf1 parquet ships in /root/testdata, so the sf1 inputs are
synthesized DETERMINISTICALLY from the driver's own sf0.1 tables:
``events`` is the sf0.1 events table tiled 10× with disjoint
event_id / user_id offsets (ids drive the derived positions, so new
ids → new points with the same spatial distribution), every other
table is symlinked from sf0.1 unchanged.  Lives under
``<repo>/.bench_sf1``; rebuilt automatically when absent.

The render stress is the deterministic corpus at 10× bench.py's sf0.1
document count (4,000 → 40,000 docs) through the z1-18 pyramid with
salting armed — and the skew block reports what the salting sees:
per-partition row counts of the fold exchange (max/mean — the
"does one task eat the corridor" number) and the hottest single tile.

Usage: python tools/bench_sf1.py [--rebuild]
Writes BENCH/sf1_stress.json (full record incl. noise) and prints a
compact one-line JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

SF01 = "/root/testdata/sf0.1"
SF1_DIR = os.path.join(_REPO, ".bench_sf1")
TILE_COPIES = 10
RENDER_DOCS = 40_000  # 10× bench.py's sf0.1 render corpus


VERSION = "2"  # v2: documents + embeddings tiled 10x too (r5 full sweep)

# DuckDB settings for the sf1/sf10 oracles (check_oracles.run_oracle):
# bound the oracle's memory and let it spill — DuckDB's default limit is
# 80% of RAM, and the sf1 near-dup recheck (80M pairs x 64 dims)
# ballooned past the host's memory
ORACLE_SETTINGS = ("SET memory_limit='24GB'",
                   "SET temp_directory='/tmp/duckdb_spill'")


def tile_copies(df, id_col: str, copies: int, n_base: int):
    """copies exact copies of every row with ids base + m*n_base."""
    from pyspark.sql import functions as F

    others = [c for c in df.columns if c != id_col]
    parts = [df.select((F.col(id_col) + m * n_base).alias(id_col), *others)
             for m in range(copies)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_sf1(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(SF1_DIR, exist_ok=True)
    ev = spark.read.parquet(os.path.join(SF01, "events.parquet"))
    n = ev.count()
    u = ev.agg(F.max("user_id")).collect()[0][0] + 1
    parts = [
        ev.select((F.col("event_id") + k * n).alias("event_id"), "ts",
                  (F.col("user_id") + k * u).alias("user_id"),
                  "event_type", "value", "props")
        for k in range(TILE_COPIES)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite") \
        .parquet(os.path.join(SF1_DIR, "events.parquet"))
    # 10x documents/embeddings with disjoint id ranges (texts/vectors
    # repeat — deliberately: 10 exact copies of every document is a
    # worst-case near-dup/degenerate-bucket stress for the pair
    # families, the case their caps exist for)
    for t, idc in [("documents", "doc_id"), ("embeddings", "vec_id")]:
        dst = os.path.join(SF1_DIR, f"{t}.parquet")
        if os.path.islink(dst):
            os.remove(dst)           # v1 layouts symlinked these
        base = spark.read.parquet(os.path.join(SF01, f"{t}.parquet"))
        tile_copies(base, idc, TILE_COPIES, base.count()) \
            .repartition(16).write.mode("overwrite").parquet(dst)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]:
        dst = os.path.join(SF1_DIR, f"{t}.parquet")
        if not os.path.lexists(dst):
            os.symlink(os.path.join(SF01, f"{t}.parquet"), dst)
    with open(os.path.join(SF1_DIR, "VERSION"), "w") as f:
        f.write(VERSION)


def ensure_sf1(spark) -> None:
    vfile = os.path.join(SF1_DIR, "VERSION")
    have = open(vfile).read() if os.path.exists(vfile) else ""
    if have != VERSION:
        build_sf1(spark)


def main() -> int:
    if "--rebuild" in sys.argv and os.path.isdir(SF1_DIR):
        shutil.rmtree(SF1_DIR)

    from pyspark.sql import functions as F

    from bench import _timed_clean
    from gpx2tiles_spark.config import EngineConfig
    from gpx2tiles_spark.corpus import generate_documents
    from gpx2tiles_spark.operators.events import build_events
    from gpx2tiles_spark.operators.parse import parse_documents
    from gpx2tiles_spark.operators.raster import (_fold_partitions, rasterize,
                                                  rasterize_salted)
    from gpx2tiles_spark.queries import queries as registry
    from gpx2tiles_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app="bench_sf1", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus * 4))
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    ensure_sf1(spark)
    n_events = spark.read.parquet(
        os.path.join(SF1_DIR, "events.parquet")).count()

    qs = registry()
    timings: dict[str, float] = {}
    noise: dict[str, dict] = {}
    # warm-up (JVM codegen + Python worker pool), untimed
    qs["segment_clip_lb"](spark, SF1_DIR).write.format("noop") \
        .mode("overwrite").save()
    rowcounts: dict[str, int] = {}
    for name in ["segment_clip_lb", "s2_join_l3", "pip_polygons",
                 "s2_cells_l12", "cell_rollup"]:
        def run(q=qs[name]):
            q(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
        sec, info = _timed_clean(run, attempts=2)
        timings[name] = round(sec, 3)
        noise[name] = info
        rowcounts[name] = qs[name](spark, SF1_DIR).count()

    # --- salted z1-18 render on the 10× corpus -----------------------------
    docs = generate_documents(spark, RENDER_DOCS).persist()
    docs.count()
    points = parse_documents(docs).persist()
    n_points = points.count()
    cfg = EngineConfig(zoom_min=1, zoom_max=18, salt_buckets=8)
    events = build_events(points, cfg)

    # skew stats of the fold exchange: per-partition rows after the SAME
    # repartition the fold pins (explicit N on the tile key), plus the
    # hottest single tile — the figures the 100 TB salting claims rest on
    nparts = _fold_partitions(events)
    pstats = (events.repartition(nparts, "z", "tx", "ty")
              .select(F.spark_partition_id().alias("p"))
              .groupBy("p").count()
              .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"),
                   F.count("*").alias("nparts"),
                   F.sum("count").alias("total")).collect()[0])
    hottest = (events.groupBy("z", "tx", "ty").count()
               .agg(F.max("count")).collect()[0][0])

    state: dict = {}

    def run_render():
        tiles = rasterize_salted(events, cfg)
        state["agg"] = tiles.agg(
            F.count("*").alias("tiles"),
            F.sum("point_cnt").alias("assignments")).collect()[0]

    sec, info = _timed_clean(run_render, attempts=2)
    timings["render_salted_z1_18"] = round(sec, 3)
    noise["render_salted_z1_18"] = info
    agg = state["agg"]

    # heatmap mode at the same 10× corpus: the skew-free relational
    # hit-count path (no lines, per-pixel map-side combine) — the hot
    # z1-z4 tiles that force salting in speed mode fold locally here
    hcfg = EngineConfig(zoom_min=1, zoom_max=18, heatmap=True)
    hevents = build_events(points, hcfg)

    def run_heatmap():
        tiles = rasterize(hevents, hcfg)
        state["hagg"] = tiles.agg(
            F.count("*").alias("tiles"),
            F.sum("point_cnt").alias("assignments")).collect()[0]

    hsec, hinfo = _timed_clean(run_heatmap, attempts=2)
    timings["render_heatmap_z1_18"] = round(hsec, 3)
    noise["render_heatmap_z1_18"] = hinfo
    hagg = state["hagg"]
    points.unpersist()
    docs.unpersist()

    out = {
        "metric": "sf1 (10x sf0.1) spatial-tier + salted-render stress",
        "unit": "sec",
        "sf": 1.0,
        "cpus": cpus,
        "n_events_sf1": n_events,
        "queries": timings,
        "query_rows": rowcounts,
        "render_docs": RENDER_DOCS,
        "render_points": n_points,
        "render_tiles": int(agg["tiles"]),
        "tile_assignments": int(agg["assignments"]),
        "tile_assignments_per_sec": round(
            int(agg["assignments"]) / timings["render_salted_z1_18"], 1),
        "heatmap_tiles": int(hagg["tiles"]),
        "heatmap_assignments": int(hagg["assignments"]),
        "heatmap_assignments_per_sec": round(
            int(hagg["assignments"]) / timings["render_heatmap_z1_18"], 1),
        "skew": {
            "fold_partitions": int(pstats["nparts"]),
            "fold_rows_total": int(pstats["total"]),
            "fold_rows_max_partition": int(pstats["mx"]),
            "fold_rows_mean_partition": round(float(pstats["mean"]), 1),
            "fold_max_over_mean": round(
                float(pstats["mx"]) / float(pstats["mean"]), 2),
            "hottest_tile_events": int(hottest),
        },
        "wall_sec": round(time.time() - t0, 3),
        "noise": noise,
    }
    path = os.path.join(_REPO, "BENCH", "sf1_stress.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    compact = {k: v for k, v in out.items() if k != "noise"}
    compact["full_record"] = path
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")
    raise SystemExit(main())
