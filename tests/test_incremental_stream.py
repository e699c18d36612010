"""TileStore checkpoint/resume + Structured Streaming incremental tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import render_tiles
from gpx2tiles_spark.config import EngineConfig
from gpx2tiles_spark.corpus import generate_documents
from gpx2tiles_spark.operators.raster import SNAPSHOT_COL
from gpx2tiles_spark.pngcodec import decode_png
from gpx2tiles_spark.streaming.incremental import (TileStore, process_batches,
                                                   run_streaming)

CFG = EngineConfig(zoom_min=1, zoom_max=8)


def _tiles_map(df):
    return {(r.z, r.tx, r.ty): (r.point_cnt, bytes(r.png)) for r in df.collect()}


def test_batched_store_equals_oneshot(spark, tmp_path):
    docs = generate_documents(spark, 10, partitions=2).cache()
    full = _tiles_map(render_tiles(docs, CFG))

    store = process_batches(spark, docs, str(tmp_path / "store"), CFG, n_batches=3)
    got = _tiles_map(store.current().select("z", "tx", "ty", "point_cnt", "png"))
    assert set(got) == set(full)
    for k in full:
        assert got[k][0] == full[k][0], k
        assert decode_png(got[k][1]).tobytes() == decode_png(full[k][1]).tobytes(), k

    m = store.manifest()
    assert len(m["snapshots"]) == 3
    assert m["snapshots"][0]["partitions"][0]["tiles"] >= 1  # lineage present


def test_resume_skips_committed(spark, tmp_path):
    docs = generate_documents(spark, 6, partitions=2).cache()
    d = str(tmp_path / "store2")
    s1 = process_batches(spark, docs, d, CFG, n_batches=2)
    n = len(s1.manifest()["snapshots"])
    # re-run: all batches already committed → no new snapshots
    s2 = process_batches(spark, docs, d, CFG, n_batches=2)
    assert len(s2.manifest()["snapshots"]) == n


def test_streaming_incremental(spark, tmp_path):
    docs = generate_documents(spark, 8, partitions=2).cache()
    a = docs.filter(F.col("doc_id") < "doc00000004")
    b = docs.filter(F.col("doc_id") >= "doc00000004")
    ddir = str(tmp_path / "docs_stream")
    a.write.mode("append").parquet(ddir)

    sdir = str(tmp_path / "stream_store")
    q = run_streaming(spark, ddir, sdir, CFG)
    q.awaitTermination(120)

    # second wave of files → second run picks up only the new ones
    b.write.mode("append").parquet(ddir)
    q2 = run_streaming(spark, ddir, sdir, CFG)
    q2.awaitTermination(120)

    store = TileStore(spark, sdir)
    full = _tiles_map(render_tiles(docs, CFG))
    got = _tiles_map(store.current().select("z", "tx", "ty", "point_cnt", "png"))
    assert set(got) == set(full)
    for k in full:
        assert got[k][0] == full[k][0], k


def test_as_of_time_travel(spark, tmp_path):
    """as_of(sid) reproduces the store state right after that snapshot
    committed — including across a compaction, which must not rewrite
    history for reads pinned before it."""
    docs = generate_documents(spark, 9, partitions=3).cache()
    d = str(tmp_path / "store3")
    store = process_batches(spark, docs, d, CFG, n_batches=3)
    snaps = store.manifest()["snapshots"]
    sid0 = snaps[0]["id"]

    early = _tiles_map(store.as_of(sid0).select("z", "tx", "ty",
                                                "point_cnt", "png"))
    final = _tiles_map(store.current().select("z", "tx", "ty",
                                              "point_cnt", "png"))
    assert set(early) <= set(final)
    assert len(early) < len(final)  # later batches added tiles

    # compaction appends a snapshot; pinned reads before it are unchanged,
    # and as_of(latest) == current()
    store.compact()
    early2 = _tiles_map(store.as_of(sid0).select("z", "tx", "ty",
                                                 "point_cnt", "png"))
    assert early2 == early
    last = store.manifest()["snapshots"][-1]["id"]
    assert _tiles_map(store.as_of(last).select(
        "z", "tx", "ty", "point_cnt", "png")) == final


def test_apply_batch_jobs_flat_as_deltas_grow(spark, tmp_path):
    """A batch's Spark job count must not grow with the live deltas it
    draws over (no schema-inference job per snapshot read, no merge
    aggregate on the write path), the live snapshots are read as one
    scan, and the manifest's per-zoom stats —
    observed on the snapshot write — equal a re-read of the snapshot."""
    docs = generate_documents(spark, 10, partitions=2).cache()
    store = TileStore(spark, str(tmp_path / "store4"), compact_every=100)
    sc = spark.sparkContext
    jobs = []
    for b in range(5):
        gid = f"store-batch-{b}"
        batch = docs.filter((F.col("doc_id") >= f"doc{2 * b:08d}")
                            & (F.col("doc_id") < f"doc{2 * b + 2:08d}"))
        sc.setJobGroup(gid, gid)
        try:
            entry = store.apply_batch(f"b{b}", batch, CFG)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(gid)))
    assert len(store.manifest()["snapshots"]) == 5  # never compacted
    # batch 0 draws over an empty scan: all five batches share one plan
    assert len(set(jobs)) == 1, jobs
    # the batches draw over ONE scan of the live snapshots whatever their
    # number, each row tagged with its snapshot's manifest id
    live = store._snapshots(store._live())
    plan = live._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [") == 1, plan
    assert ({r[0] for r in live.select(SNAPSHOT_COL).distinct().collect()}
            == {s["id"] for s in store.manifest()["snapshots"]})

    snap = spark.read.parquet(str(tmp_path / "store4" / entry["path"]))
    want = [r.asDict() for r in snap.groupBy("z").agg(
        F.count("*").alias("tiles"), F.sum("point_cnt").alias("points"),
        F.sum("n_events").alias("events"),
        F.max("n_docs").alias("max_docs_per_tile")).orderBy("z").collect()]
    assert entry["partitions"] == want
    assert entry["n_tiles"] == snap.count()
