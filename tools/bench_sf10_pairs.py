"""Third measured decade for the PAIR families (round 5): sf10 —
500k documents / 200k embeddings (100x the sf0.1 bench gate, 10x the
sf1 sweep) for dedup_exact, minhash_lsh_pairs and embedding_near_dup.

Correctness at this volume cannot lean on DuckDB (the sf1 near-dup
oracle already took 238 s; 10x more is hours).  Instead the decade is
verified by an EXACT closed-form prediction that follows from the
corpus construction: sf10 = 100 interleaved exact copies of every
sf0.1 document/vector (ids base + m*N, m in 0..99), so

  - every LSH bucket's (expanded) size is exactly 100x its sf0.1
    size, hence the max_bucket=10,000 cap at sf10 keeps exactly the
    buckets a cap of 100 keeps at sf0.1 (for the embedding family the
    cap genuinely BITES here: mean expanded bucket ~12.5k > 10k — the
    first corpus where the degenerate-bucket guard fires for real);
  - the surviving pair set is the copy-grid expansion of the
    surviving sf0.1 rep-level pair set: a cross pair (a,b) expands to
    the full 100x100 grid, a within-group survivor to C(100,2)
    ordered copy pairs, all with the SAME cos_micro (copies share the
    rep's exact float array, so the Arrow cosine is bit-identical).

The rep-level survivor set is obtained WITHOUT duplicating operator
logic: run the ordinary registry operator on a x2-tiled sf0.1 corpus
with the cap scaled to 200 (2s <= 200 <=> 100s <= 10,000), then lift —
base-id pairs are the cross survivors, (d, d+N) pairs are the
within-group survivors carrying the operator's own self-cosine.  The
lift/expand identity itself is pytest-proven at toy scale
(tests/test_round5_ops.py::test_sf10_pair_decade_prediction_identity).

The sf10 run then has to match the prediction EXACTLY (exceptAll both
directions == 0 rows) — a full-set equality check, stronger than a
row-count screen, with no oracle cost at the decade.

Usage: python tools/bench_sf10_pairs.py
Writes BENCH/sf10_pairs.json and prints a compact summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

from bench_sf1 import SF1_DIR, ensure_sf1, tile_copies  # noqa: E402
from bench_sf10_render import SF10_DIR, ensure_sf10  # noqa: E402

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PAIRS_VERSION = "1"
COPIES = 100  # sf10 = 100x sf0.1


def ensure_sf10_pairs(spark) -> None:
    """documents/embeddings at sf10 = sf1 (10x sf0.1) tiled 10x more —
    ids land on base + m*N01 for m in 0..99, the copy grid the
    predictor expands.  Replaces the render-only symlinks."""
    marker = os.path.join(SF10_DIR, "PAIRS_VERSION")
    if os.path.exists(marker) and open(marker).read() == PAIRS_VERSION:
        return
    ensure_sf1(spark)
    ensure_sf10(spark)
    for t, idc in [("documents", "doc_id"), ("embeddings", "vec_id")]:
        dst = os.path.join(SF10_DIR, f"{t}.parquet")
        if os.path.islink(dst):
            os.remove(dst)
        base = spark.read.parquet(os.path.join(SF1_DIR, f"{t}.parquet"))
        tile_copies(base, idc, 10, base.count()) \
            .repartition(32).write.mode("overwrite").parquet(dst)
    with open(marker, "w") as f:
        f.write(PAIRS_VERSION)


def lift_pairs(pairs_x2, n_base: int, a_col: str, b_col: str):
    """Lift a x2-corpus pair output to rep level: (cross, within).

    cross = base-id pairs (both ids < n_base); within = ids (d, d+n)
    for the same base d — the pair the two copies of d form, present
    iff d survives in >= 1 capped bucket (and, for the scored family,
    carrying the operator's own self-cosine)."""
    from pyspark.sql import functions as F

    cross = pairs_x2.filter((F.col(a_col) < n_base) & (F.col(b_col) < n_base))
    within = (pairs_x2
              .filter(F.col(b_col) == F.col(a_col) + n_base)
              .withColumn(b_col, F.col(a_col)))
    return cross, within


def expand_pairs(cross, within, n_base: int, copies: int,
                 a_col: str, b_col: str):
    """Copy-grid expansion to the sf10 id space: cross pairs -> the
    full copies x copies grid (least/greatest per member pair), within
    survivors -> C(copies, 2) ordered copy pairs.  Extra columns
    (cos_micro) ride along unchanged."""
    from pyspark.sql import functions as F

    grid = F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
    ca = (cross.withColumn("_i", grid).withColumn("_j", grid)
          .withColumn("_a", F.col(a_col) + F.col("_i") * n_base)
          .withColumn("_b", F.col(b_col) + F.col("_j") * n_base))
    cb = (within.withColumn("_i", grid).withColumn("_j", grid)
          .filter(F.col("_i") < F.col("_j"))
          .withColumn("_a", F.col(a_col) + F.col("_i") * n_base)
          .withColumn("_b", F.col(b_col) + F.col("_j") * n_base))
    out = ca.unionByName(cb)
    extra = [c for c in out.columns
             if c not in (a_col, b_col, "_i", "_j", "_a", "_b")]
    return out.select(F.least("_a", "_b").alias(a_col),
                      F.greatest("_a", "_b").alias(b_col), *extra)


def main() -> int:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bench import _timed_clean
    from gpx2tiles_spark.operators import ann, dedup
    from gpx2tiles_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app="bench_sf10_pairs", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus * 8))
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    ensure_sf10_pairs(spark)

    docs01 = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    emb01 = spark.read.parquet(os.path.join(SF01, "embeddings.parquet"))
    n_docs01, n_emb01 = docs01.count(), emb01.count()
    # the whole prediction rests on sf10 rows being EXACT copies;
    # distinct arrays at the base also mean reps == base vectors
    assert emb01.select("embedding").distinct().count() == n_emb01, \
        "sf0.1 embeddings must be distinct for the copy-grid expansion"

    results: dict[str, dict] = {}
    noise: dict[str, dict] = {}

    def timed(name, fn, attempts=2):
        sec, info = _timed_clean(fn, attempts=attempts)
        noise[name] = info
        return sec

    # ---- dedup_exact: closed form is direct (counts x100) ----------------
    docs10 = spark.read.parquet(os.path.join(SF10_DIR, "documents.parquet"))
    n_docs10 = docs10.count()
    assert n_docs10 == COPIES * n_docs01
    state: dict = {}

    def run_dedup():
        state["df"] = dedup.exact_duplicates(docs10).persist()
        state["rows"] = state["df"].count()

    sec = timed("dedup_exact", run_dedup)
    pred = (dedup.exact_duplicates(docs01)
            .select("content_hash", (F.col("n_docs") * COPIES).alias("n_docs"),
                    "keep_id"))
    diff = (state["df"].exceptAll(pred).count()
            + pred.exceptAll(state["df"]).count())
    results["dedup_exact"] = {
        "sec": round(sec, 3), "rows": state["rows"],
        "prediction_diff_rows": diff, "match": diff == 0,
        "docs_per_sec": int(n_docs10 / sec)}
    state["df"].unpersist()

    # ---- x2 corpora for the rep-level survivor runs ----------------------
    docs_x2 = tile_copies(docs01, "doc_id", 2, n_docs01).persist()
    emb_x2 = tile_copies(emb01.select("vec_id", "embedding"), "vec_id", 2,
                         n_emb01).persist()
    docs_x2.count(), emb_x2.count()
    cap_x2 = 2 * (10_000 // COPIES)  # 2s <= 200  <=>  100s <= 10,000

    # ---- minhash_lsh_pairs at sf10 ---------------------------------------
    def minhash_pairs(docs, max_bucket):
        sh = dedup.doc_shingles(docs, n=3)
        sigs = dedup.minhash_signatures(sh, num_hashes=8)
        return dedup.lsh_candidate_pairs(sigs, num_hashes=8, band_size=2,
                                         max_bucket=max_bucket)

    def run_minhash():
        state["df"] = minhash_pairs(docs10, 10_000).persist()
        state["rows"] = state["df"].count()

    sec = timed("minhash_lsh_pairs", run_minhash, attempts=1)
    cross, within = lift_pairs(minhash_pairs(docs_x2, cap_x2).persist(),
                               n_docs01, "doc_a", "doc_b")
    pred = expand_pairs(cross, within, n_docs01, COPIES, "doc_a", "doc_b")
    diff = (state["df"].exceptAll(pred).count()
            + pred.exceptAll(state["df"]).count())
    results["minhash_lsh_pairs"] = {
        "sec": round(sec, 3), "rows": state["rows"],
        "prediction_diff_rows": diff, "match": diff == 0,
        "docs_per_sec": int(n_docs10 / sec),
        "pairs_per_sec": int(state["rows"] / sec)}
    state["df"].unpersist()

    # ---- embedding_near_dup at sf10 --------------------------------------
    emb10 = spark.read.parquet(os.path.join(SF10_DIR, "embeddings.parquet"))
    n_emb10 = emb10.count()
    assert n_emb10 == COPIES * n_emb01

    # decade-scale cap evidence: expanded bucket sizes (sum of exact-dup
    # group sizes per (table, bucket)) — the guard must demonstrably fire
    wg = Window.partitionBy("embedding")
    members = (emb10.select("vec_id", "embedding")
               .withColumn("rep_id", F.min("vec_id").over(wg))
               .withColumn("grp_sz", F.count("*").over(wg)))
    reps = (members.filter(F.col("vec_id") == F.col("rep_id"))
            .select("vec_id", "embedding", "grp_sz"))
    planes = ann._hyperplanes(64, 8 * 4)
    tables = [planes[t * 4:(t + 1) * 4] for t in range(8)]
    bstats = (ann._bucketed_pandas(reps.select("vec_id", "embedding"),
                                   "embedding", "vec_id", tables)
              .join(reps.select("vec_id", "grp_sz"), "vec_id")
              .groupBy("tbl", "bkt").agg(F.sum("grp_sz").alias("n"))
              .agg(F.count("*").alias("nb"),
                   F.max("n").alias("mx"),
                   F.avg("n").alias("mean"),
                   F.sum(F.when(F.col("n") > 10_000, 1).otherwise(0))
                   .alias("dropped")).collect()[0])

    def run_neardup():
        state["df"] = ann.embedding_near_dup(
            emb10.select("vec_id", "embedding"),
            threshold_micro=400_000).persist()
        state["rows"] = state["df"].count()

    sec = timed("embedding_near_dup", run_neardup, attempts=1)
    nd_x2 = ann.embedding_near_dup(emb_x2, threshold_micro=400_000,
                                   max_bucket=cap_x2).persist()
    cross, within = lift_pairs(nd_x2, n_emb01, "vec_a", "vec_b")
    pred = expand_pairs(cross, within, n_emb01, COPIES, "vec_a", "vec_b")
    diff = (state["df"].exceptAll(pred).count()
            + pred.exceptAll(state["df"]).count())
    results["embedding_near_dup"] = {
        "sec": round(sec, 3), "rows": state["rows"],
        "prediction_diff_rows": diff, "match": diff == 0,
        "vectors_per_sec": int(n_emb10 / sec),
        "pairs_per_sec": int(state["rows"] / sec),
        "bucket_stats": {"n_buckets": bstats["nb"],
                         "max_expanded": int(bstats["mx"]),
                         "mean_expanded": round(float(bstats["mean"]), 1),
                         "dropped_over_cap": int(bstats["dropped"])}}
    state["df"].unpersist()

    # ---- dedup_clusters at sf10: the iterative operator's decade --------
    # Components of (sf10 pair graph) = copy-grid expansion of the sf0.1
    # components UNION a 100-copy clique per unpaired doc (copies share
    # every bucket, so each doc's own copies always pair up): every copy
    # of doc d gets label L(d) = d's sf0.1 component min (or d itself if
    # d has no sf0.1 pair) — the base copy of the min is the global min.
    pairs10 = minhash_pairs(docs10, 10_000).persist()
    n_edges = pairs10.count()   # materialized OUTSIDE the timed loop so
    # the CC figure measures the iterative rounds, not candidate gen

    def run_cc():
        state["df"] = dedup.connected_components(pairs10).persist()
        state["rows"] = state["df"].count()

    sec = timed("dedup_clusters", run_cc, attempts=1)
    base_pairs = minhash_pairs(docs01, 10_000)
    base_lab = dedup.connected_components(base_pairs)
    all_docs = docs01.select(F.col("doc_id").cast("long"))
    lab01 = (all_docs.join(base_lab, "doc_id", "left")
             .select("doc_id", F.coalesce("cluster_id", "doc_id")
                     .alias("cluster_id")))
    pred = (lab01
            .withColumn("_m", F.explode(F.sequence(F.lit(0),
                                                   F.lit(COPIES - 1))))
            .select((F.col("doc_id") + F.col("_m") * n_docs01)
                    .alias("doc_id"), "cluster_id"))
    diff = (state["df"].exceptAll(pred).count()
            + pred.exceptAll(state["df"]).count())
    n_clusters = state["df"].select("cluster_id").distinct().count()
    results["dedup_clusters"] = {
        "sec": round(sec, 3), "rows": state["rows"],
        "prediction_diff_rows": diff, "match": diff == 0,
        "n_clusters": n_clusters,
        "docs_per_sec": int(n_docs10 / sec),
        "edges": n_edges}
    state["df"].unpersist()
    pairs10.unpersist()

    out = {
        "metric": "sf10 pair-family decade (100x gate): closed-form set equality",
        "unit": "sec", "sf": 10.0, "cpus": cpus,
        "n_docs": n_docs10, "n_vectors": n_emb10, "copies": COPIES,
        "queries": results, "noise": noise,
        "wall_sec": round(time.time() - t0, 1),
    }
    os.makedirs(os.path.join(_REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(_REPO, "BENCH", "sf10_pairs.json"), "w") as f:
        json.dump(out, f, indent=1)
    ok = all(r["match"] for r in results.values())
    print(json.dumps({
        "metric": out["metric"], "sf": 10.0, "all_match": ok,
        "queries": {k: {"sec": v["sec"], "rows": v["rows"],
                        "match": v["match"]} for k, v in results.items()},
        "wall_sec": out["wall_sec"]}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
