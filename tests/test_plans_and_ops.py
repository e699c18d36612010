"""Physical-plan shape assertions (the 100TB hygiene checks) + operator
cross-validation (bucketed kNN vs brute force, LSH ANN recall)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpx2tiles_spark.operators import ann, knn
from gpx2tiles_spark.operators.geo import derived_points
from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_ORACLE}/events.parquet").cache()


def test_parse_stage_is_map_only(spark):
    from gpx2tiles_spark.corpus import generate_documents
    from gpx2tiles_spark.operators.parse import parse_documents

    pts = parse_documents(generate_documents(spark, 4))
    assert "Exchange" not in _plan(pts)


def test_tile_counts_single_shuffle_with_partial_agg(spark, events):
    from gpx2tiles_spark.queries import q_tile_counts

    df = q_tile_counts(spark, SF_ORACLE)
    plan = _plan(df)
    # one aggregation exchange with map-side partial aggregation, plus
    # (for a single-file test input) the scan-parallelism spread's
    # repartition on user_id — and nothing else
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 2, plan
    if n_exchange == 2:
        assert "hashpartitioning(user_id" in plan  # the scan spread
    assert "HashAggregate" in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_scan_spread_follows_a_table_rewritten_in_place(spark, tmp_path):
    """The scan spread is decided from each scan's own partition count:
    rewriting a table at the same path from one file to
    defaultParallelism files turns the spread off, and back on."""
    from gpx2tiles_spark.queries import _t

    n = spark.sparkContext.defaultParallelism
    src = spark.range(4000).select(F.col("id").alias("user_id"))

    def spread_after_writing(files: int) -> bool:
        src.repartition(files).write.mode("overwrite").parquet(
            str(tmp_path / "events.parquet"))
        plan = _t(spark, str(tmp_path), "events")._jdf.queryExecution() \
            .analyzed().toString()
        return "RepartitionByExpression" in plan

    assert spread_after_writing(1)
    assert not spread_after_writing(n)
    assert spread_after_writing(1)


def test_events_scan_prunes_columns(spark):
    """The parse stage's parquet scan must read only doc_id + spans."""
    from gpx2tiles_spark.corpus import generate_documents
    from gpx2tiles_spark.operators.parse import parse_documents

    import tempfile
    with tempfile.TemporaryDirectory() as d:
        generate_documents(spark, 4).withColumn("extra", F.lit("x")) \
            .write.mode("overwrite").parquet(d)
        docs = spark.read.parquet(d)
        plan = _plan(parse_documents(docs))
        assert "ReadSchema" in plan
        read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
        assert "extra" not in read_schema  # pruned
        assert "spans" in read_schema


def test_pip_join_is_broadcast(spark, events):
    from gpx2tiles_spark.operators.geo import points_in_rects, region_rects

    rects = region_rects(spark.read.parquet(f"{SF_ORACLE}/region.parquet"))
    j = points_in_rects(derived_points(events), rects)
    assert "BroadcastNestedLoopJoin" in _plan(j)


def test_knn_bucketed_is_broadcast_equijoin(spark, events):
    pts = derived_points(events).select("pid", "lat", "lon")
    qs = pts.filter(F.col("pid") < 5).select(
        F.col("pid").alias("qid"), F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"))
    plan = _plan(knn.knn_bucketed(pts, qs, 5))
    assert "BroadcastHashJoin" in plan  # equi-join on cell, dim broadcast


def test_knn_bucketed_equals_bruteforce(spark, events):
    pts = derived_points(events).select("pid", "lat", "lon")
    qs = pts.filter(F.col("pid") % 997 == 0).select(
        F.col("pid").alias("qid"), F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"))  # 11 scattered queries
    a = {(r.qid, r.rnk): r.pid
         for r in knn.knn_bucketed(pts, qs, 8, z=2).collect()}
    b = {(r.qid, r.rnk): r.pid
         for r in knn.knn_bruteforce(pts, qs, 8).collect()}
    assert a == b


def test_ann_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding"))
    exact = ann.cosine_topk_bruteforce(emb, qs, k=5).collect()
    approx = ann.cosine_topk_lsh(emb, qs, k=5).collect()
    exact_set = {(r.qid, r.vec_id) for r in exact}
    approx_set = {(r.qid, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, recall  # 8-table LSH; exact re-rank inside buckets
    # self-match must always survive (same bucket by construction)
    assert all((q, q) in approx_set for q in range(10))
