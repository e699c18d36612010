"""Second measured decade (round 5): sf10 — 10M events (100x sf0.1)
and a 400,000-document z1-18 render (100x bench.py's corpus, 10x the
round-4 sf1 stress).

Focused, not the full registry: at this volume the DuckDB oracles for
the row-explosive queries take tens of minutes, so the decade evidence
here is (a) hash-MATCH for two aggregate queries whose oracles stay
cheap at 10M events (zoom_census, tile_counts_pyramid), (b) timed
throughput for the biggest row producer (segment_clip_lb, ~48M rows)
and (c) the flagship salted speed render + heatmap render with the
same skew statistics the sf1 stress publishes.  Renders run a single
attempt (a ~10-minute fold cannot be rejection-sampled economically);
external load and DRAM probe readings are still recorded.

Usage:  python tools/bench_sf10_render.py
Writes BENCH/sf10_render.json and prints a compact summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

from bench_sf1 import ORACLE_SETTINGS, SF1_DIR, ensure_sf1  # noqa: E402
from check_oracles import canon, run_oracle  # noqa: E402

SF10_DIR = os.path.join(_REPO, ".bench_sf10")
RENDER_DOCS = 400_000  # 100x bench.py's sf0.1 corpus
VERSION = "1"


def ensure_sf10(spark) -> None:
    """events = the sf1 events tiled 10x with disjoint id ranges (ids
    drive the derived positions, so new ids -> new points with the same
    spatial distribution); other tables symlink to sf1."""
    from pyspark.sql import functions as F

    vfile = os.path.join(SF10_DIR, "VERSION")
    if os.path.exists(vfile) and open(vfile).read() == VERSION:
        return
    ensure_sf1(spark)
    os.makedirs(SF10_DIR, exist_ok=True)
    ev = spark.read.parquet(os.path.join(SF1_DIR, "events.parquet"))
    n = ev.count()
    u = ev.agg(F.max("user_id")).collect()[0][0] + 1
    parts = [
        ev.select((F.col("event_id") + k * n).alias("event_id"), "ts",
                  (F.col("user_id") + k * u).alias("user_id"),
                  "event_type", "value", "props")
        for k in range(10)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite") \
        .parquet(os.path.join(SF10_DIR, "events.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"]:
        dst = os.path.join(SF10_DIR, f"{t}.parquet")
        if not os.path.lexists(dst):
            os.symlink(os.path.join(SF1_DIR, f"{t}.parquet"), dst)
    with open(vfile, "w") as f:
        f.write(VERSION)


def main() -> int:
    from pyspark.sql import functions as F

    from bench import _timed_clean
    from gpx2tiles_spark.config import EngineConfig
    from gpx2tiles_spark.corpus import generate_documents
    from gpx2tiles_spark.operators.events import build_events
    from gpx2tiles_spark.operators.parse import parse_documents
    from gpx2tiles_spark.operators.raster import (_fold_partitions, rasterize,
                                                  rasterize_salted)
    from gpx2tiles_spark.queries import oracle_sql, queries as registry
    from gpx2tiles_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app="bench_sf10", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus * 8))
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    ensure_sf10(spark)
    n_events = spark.read.parquet(
        os.path.join(SF10_DIR, "events.parquet")).count()

    qs, osql = registry(), oracle_sql()
    timings: dict[str, float] = {}
    noise: dict[str, dict] = {}
    oracles: dict[str, str] = {}
    rowcounts: dict[str, int] = {}

    # warm-up, untimed
    qs["zoom_census"](spark, SF10_DIR).count()

    # (a) correctness at the decade: aggregate queries, cheap oracles
    for name in ["zoom_census", "tile_counts_pyramid"]:
        state: dict = {}

        def run(q=qs[name], s=state):
            df = q(spark, SF10_DIR)
            s["cols"] = df.columns
            s["rows"] = [tuple(r) for r in df.collect()]

        sec, info = _timed_clean(run, attempts=2)
        timings[name] = round(sec, 3)
        noise[name] = info
        sn, sh = canon(state["rows"], state["cols"])
        orows, ocols = run_oracle(osql[name], SF10_DIR, ORACLE_SETTINGS)
        on, oh = canon(orows, ocols)
        ok = sn == on and sorted(state["cols"]) == sorted(ocols) and sh == oh
        oracles[name] = "MATCH" if ok else "MISMATCH"
        rowcounts[name] = sn

    # (b) the biggest row producer, timed to a noop sink
    def run_clip():
        qs["segment_clip_lb"](spark, SF10_DIR).write.format("noop") \
            .mode("overwrite").save()

    sec, info = _timed_clean(run_clip, attempts=2)
    timings["segment_clip_lb"] = round(sec, 3)
    noise["segment_clip_lb"] = info
    rowcounts["segment_clip_lb"] = qs["segment_clip_lb"](
        spark, SF10_DIR).count()

    # (c) flagship renders at 100x the bench corpus
    docs = generate_documents(spark, RENDER_DOCS).persist()
    docs.count()
    points = parse_documents(docs).persist()
    n_points = points.count()
    cfg = EngineConfig(zoom_min=1, zoom_max=18, salt_buckets=8)
    events = build_events(points, cfg)

    nparts = _fold_partitions(events)
    pstats = (events.repartition(nparts, "z", "tx", "ty")
              .select(F.spark_partition_id().alias("p"))
              .groupBy("p").count()
              .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"),
                   F.count("*").alias("nparts"),
                   F.sum("count").alias("total")).collect()[0])
    hottest = (events.groupBy("z", "tx", "ty").count()
               .agg(F.max("count")).collect()[0][0])

    state = {}

    def run_render():
        tiles = rasterize_salted(events, cfg)
        state["agg"] = tiles.agg(
            F.count("*").alias("tiles"),
            F.sum("point_cnt").alias("assignments")).collect()[0]

    sec, info = _timed_clean(run_render, attempts=1)
    timings["render_salted_z1_18"] = round(sec, 3)
    noise["render_salted_z1_18"] = info
    agg = state["agg"]

    hcfg = EngineConfig(zoom_min=1, zoom_max=18, heatmap=True)
    hevents = build_events(points, hcfg)

    def run_heatmap():
        tiles = rasterize(hevents, hcfg)
        state["hagg"] = tiles.agg(
            F.count("*").alias("tiles"),
            F.sum("point_cnt").alias("assignments")).collect()[0]

    hsec, hinfo = _timed_clean(run_heatmap, attempts=1)
    timings["render_heatmap_z1_18"] = round(hsec, 3)
    noise["render_heatmap_z1_18"] = hinfo
    hagg = state["hagg"]
    points.unpersist()
    docs.unpersist()

    out = {
        "metric": "sf10 (100x sf0.1) second-decade stress",
        "unit": "sec",
        "sf": 10.0,
        "cpus": cpus,
        "n_events_sf10": n_events,
        "queries": timings,
        "query_rows": rowcounts,
        "oracle_hash": oracles,
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
        "fold_skew": {
            "nparts": int(pstats["nparts"]),
            "max_partition_rows": int(pstats["mx"]),
            "mean_partition_rows": round(float(pstats["mean"]), 1),
            "max_over_mean": round(float(pstats["mx"]) / float(pstats["mean"]), 2),
            "hottest_tile_events": int(hottest),
        },
        "noise": noise,
        "wall_sec": round(time.time() - t0, 3),
    }
    path = os.path.join(_REPO, "BENCH", "sf10_render.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    compact = {k: v for k, v in out.items() if k not in ("noise", "query_rows")}
    compact["full_record"] = path
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")
    raise SystemExit(main())
