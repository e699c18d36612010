"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce`` — exact baseline: broadcast small query set,
  JVM-side dot product via ``F.zip_with`` + ``F.aggregate`` (no Python).
- ``cosine_topk_lsh`` — scale path: random-hyperplane (SimHash-for-
  vectors) signatures bucket the corpus; queries probe their own bucket
  (plus optional 1-bit flips), then exact re-rank inside buckets.  The
  hyperplanes are derived deterministically from md5 so the index is
  reproducible with no stored state.

Cosine values are emitted in micro-units (floor(cos*1e6)) with (score,
id) tie-break so results are stable across summation orders.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    ))


def with_cosine(joined: DataFrame, vec_a: str = "embedding",
                vec_b: str = "q_embedding") -> DataFrame:
    cos = _dot(F.col(vec_a), F.col(vec_b)) / (_norm(F.col(vec_a)) * _norm(F.col(vec_b)))
    # round-half-up micro units, NOT floor: self-pairs and exact-copy
    # pairs sit exactly on the floor(1.0e6) boundary, and engines summing
    # the dot in different orders land an ulp on either side of 1.0 —
    # the .5 quantization boundary has no systematic value on it.  Same
    # fix as cosine_topk_ivf (round 3); the sf1 10x-copy stress flipped
    # the remaining floor sites in round 5.
    return joined.withColumn(
        "cos_micro", F.floor(cos * 1000000.0 + F.lit(0.5)).cast("long"))


def cosine_topk_bruteforce(vectors: DataFrame, queries: DataFrame,
                           k: int = 10) -> DataFrame:
    """vectors(vec_id, embedding) × queries(qid, q_embedding) → top-k."""
    j = vectors.crossJoin(F.broadcast(queries))
    j = with_cosine(j)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_micro"), F.asc("vec_id"))
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "cos_micro", "rnk")
    )


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 bits."""
    planes = []
    for p in range(n_planes):
        vals: list[float] = []
        i = 0
        while len(vals) < dim:
            h = hashlib.md5(f"plane{p}|{i}".encode()).digest()
            for byte in h:
                for bit in range(8):
                    vals.append(1.0 if (byte >> bit) & 1 else -1.0)
                    if len(vals) == dim:
                        break
                else:
                    continue
                break
            i += 1
        planes.append(vals[:dim])
    return planes


def _bucketed_pandas(df: DataFrame, vec_col: str, id_col: str,
                     tables: list[list[list[float]]]):
    """(id, vec) → (id, vec, tbl, bkt) rows for every hash table, via ONE
    Arrow-batched numpy pass.

    A Column-expression signature (32 planes × 64-element literal arrays
    of zip_with/aggregate HOFs) costs Catalyst a megabyte-scale plan and
    runs interpreted per element; the batched matrix form is the scale
    path.  Float semantics are preserved exactly: the accumulation runs
    SEQUENTIALLY over dimensions (acc += v[d]·p[d]), the same order the
    Column aggregate and the DuckDB oracle use."""
    import numpy as np
    from pyspark.sql import types as T

    n_tables = len(tables)
    per = len(tables[0])
    P = np.asarray([p for t in tables for p in t], np.float64)  # (planes, dim)

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType, False),
        T.StructField(vec_col, df.schema[vec_col].dataType, False),
        T.StructField("tbl", T.IntegerType(), False),
        T.StructField("bkt", T.LongType(), False),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(v, np.float32).astype(np.float64)
                 for v in pdf[vec_col]])
            acc = np.zeros((len(V), P.shape[0]), np.float64)
            for d in range(P.shape[1]):  # sequential over dims (FP order)
                acc += V[:, d, None] * P[None, :, d]
            bits = acc > 0.0
            sig = np.zeros((len(V), n_tables), np.int64)
            for t in range(n_tables):
                for j in range(per):
                    sig[:, t] |= bits[:, t * per + j].astype(np.int64) << j
            rows = {
                id_col: np.repeat(pdf[id_col].to_numpy(), n_tables),
                vec_col: [v for v in pdf[vec_col] for _ in range(n_tables)],
                "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(V)),
                "bkt": sig.reshape(-1),
            }
            yield pd.DataFrame(rows)

    return df.select(id_col, vec_col).mapInPandas(gen, out_schema)


def embedding_near_dup(vectors: DataFrame, threshold_micro: int = 950_000,
                       n_tables: int = 8, planes_per_table: int = 4,
                       dim: int = 64, max_bucket: int | None = 10_000
                       ) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: cos(a, b) >= threshold among
    pairs sharing ANY hyperplane-LSH table bucket, exact cosine re-check
    inside the candidate set (the embedding member of the dedup family —
    the scale shape is the same banded equi-join as MinHash/SimHash, with
    the same degenerate-bucket cap).

    Returns (vec_a, vec_b, cos_micro) with vec_a < vec_b.

    Memory shape (the round-5 sf1 lessons, both): exact duplicates are
    collapsed FIRST (group by the embedding array itself — no hash
    collisions — min vec_id is the group's representative), the whole
    LSH/candidate/score chain runs on distinct vectors only, and the
    surviving rep pairs expand back to member pairs at the very end.
    10 exact copies of every vector (the sf1 stress) turned 104M raw /
    81M distinct candidate pairs into ~1M/0.8M — a 100x cut in the
    scored volume, with byte-identical output: members share the rep's
    exact array (same buckets, same cosine), the degenerate-bucket cap
    counts EXPANDED sizes (sum of group sizes per bucket), and
    within-group pairs take the rep's self-cosine from the same scored
    pass rather than an assumed 1.0.  Exact-dedup-then-near-dup is
    also the standard 100 TB pipeline shape.  The bucket self-join and
    the pair dedup move ID PAIRS ONLY — carrying both embedding arrays
    through the join shuffled ~50 GB at a 20k-vector stress and got
    the executor OOM-killed; the arrays re-attach afterwards via
    broadcast joins, and the exact re-check runs as ONE Arrow pass
    with the sequential-over-dims accumulation order the HOF
    expression and the DuckDB oracle use."""
    planes = _hyperplanes(dim, n_tables * planes_per_table)
    tables = [planes[t * planes_per_table:(t + 1) * planes_per_table]
              for t in range(n_tables)]

    # exact-duplicate collapse: rep = min vec_id per identical array
    wg = Window.partitionBy("embedding")
    members = (vectors.select("vec_id", "embedding")
               .withColumn("rep_id", F.min("vec_id").over(wg))
               .withColumn("grp_sz", F.count("*").over(wg)))
    reps = (members.filter(F.col("vec_id") == F.col("rep_id"))
            .select("vec_id", "embedding", "grp_sz"))

    # plain join (no broadcast hint): reps is corpus-sized pre-collapse
    # at the limit — AQE broadcasts it at runtime when it is small
    sigs = _bucketed_pandas(reps.select("vec_id", "embedding"),
                            "embedding", "vec_id", tables) \
        .select("vec_id", "tbl", "bkt") \
        .join(reps.select("vec_id", "grp_sz"), "vec_id")
    if max_bucket is not None:
        # cap on the EXPANDED bucket size — identical row-drop decisions
        # to bucketing every copy individually (copies share buckets)
        w = Window.partitionBy("tbl", "bkt")
        sigs = (sigs.withColumn("_n", F.sum("grp_sz").over(w))
                .filter(F.col("_n") <= max_bucket).drop("_n"))
    a = sigs.alias("a")
    b = sigs.alias("b")
    cand = (
        a.join(b, ["tbl", "bkt"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # within-group pairs need the rep's SELF-cosine (exactly as the
    # member-pair scoring would compute it) — score (rep, rep) through
    # the same Arrow pass for every multi-member group that survives
    # in at least one bucket
    selfs = (sigs.filter(F.col("grp_sz") > 1)
             .select(F.col("vec_id").alias("vec_a"),
                     F.col("vec_id").alias("vec_b"))
             .dropDuplicates(["vec_a", "vec_b"]))
    va = reps.select(F.col("vec_id").alias("vec_a"),
                     F.col("embedding").alias("_ea"))
    vb = reps.select(F.col("vec_id").alias("vec_b"),
                     F.col("embedding").alias("_eb"))
    pairs = cand.unionByName(selfs).join(va, "vec_a").join(vb, "vec_b")
    scored = (_pair_cosine_pandas(pairs)
              .filter(F.col("cos_micro") >= F.lit(threshold_micro)))

    # expand rep pairs back to member pairs: cross-group = full grid
    # (orientation per member pair), within-group = ordered pairs.
    # scored (surviving rep pairs) is the genuinely small side here —
    # the membership relation is corpus-sized and must stream
    ma = members.select(F.col("rep_id").alias("vec_a"),
                        F.col("vec_id").alias("_ida"))
    mb = members.select(F.col("rep_id").alias("vec_b"),
                        F.col("vec_id").alias("_idb"))
    out = (ma.join(F.broadcast(scored), "vec_a")
           .join(mb, "vec_b")
           .filter((F.col("vec_a") != F.col("vec_b"))
                   | (F.col("_ida") < F.col("_idb"))))
    return out.select(
        F.least("_ida", "_idb").alias("vec_a"),
        F.greatest("_ida", "_idb").alias("vec_b"),
        "cos_micro")


def _pair_cosine_pandas(pairs: DataFrame) -> DataFrame:
    """(vec_a, vec_b, _ea, _eb) → (vec_a, vec_b, cos_micro): the exact
    cosine re-check as one Arrow-batched numpy pass.  FP parity with the
    HOF/DuckDB form: float32 → float64 per element, accumulation
    SEQUENTIAL over dimensions, round-half-up micro units."""
    import numpy as np
    from pyspark.sql import types as T

    out_schema = T.StructType([
        pairs.schema["vec_a"], pairs.schema["vec_b"],
        T.StructField("cos_micro", T.LongType(), False),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.asarray([np.asarray(v, np.float32).astype(np.float64)
                            for v in pdf["_ea"]])
            B = np.asarray([np.asarray(v, np.float32).astype(np.float64)
                            for v in pdf["_eb"]])
            dot = np.zeros(len(A), np.float64)
            na = np.zeros(len(A), np.float64)
            nb = np.zeros(len(A), np.float64)
            for d in range(A.shape[1]):  # sequential over dims (FP order)
                dot += A[:, d] * B[:, d]
                na += A[:, d] * A[:, d]
                nb += B[:, d] * B[:, d]
            cos = dot / (np.sqrt(na) * np.sqrt(nb))
            yield pd.DataFrame({
                "vec_a": pdf["vec_a"].to_numpy(),
                "vec_b": pdf["vec_b"].to_numpy(),
                "cos_micro": np.floor(cos * 1e6 + 0.5).astype(np.int64),
            })

    return pairs.mapInPandas(gen, out_schema)


def _ivf_assign(df: DataFrame, vec_col: str, id_col: str,
                centroids, top_cells: int = 1):
    """(id, vec) → (id, vec, cell) for the ``top_cells`` nearest coarse
    centroids (cosine; ties → lowest cell id), via ONE Arrow-batched
    numpy pass.  FP semantics mirror the DuckDB oracle exactly: dots and
    norms accumulate SEQUENTIALLY over dimensions, cosine is
    acc / (|v| * |c|) with that association."""
    import numpy as np
    from pyspark.sql import types as T

    C = np.asarray(centroids, np.float64)            # (cells, dim)
    cn = np.sqrt((C * C).sum(axis=1))                # centroid norms

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType, False),
        T.StructField(vec_col, df.schema[vec_col].dataType, False),
        T.StructField("cell", T.IntegerType(), False),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(v, np.float32).astype(np.float64)
                 for v in pdf[vec_col]])
            acc = np.zeros((len(V), C.shape[0]), np.float64)
            vn2 = np.zeros(len(V), np.float64)
            for d in range(C.shape[1]):  # sequential over dims (FP order)
                acc += V[:, d, None] * C[None, :, d]
                vn2 += V[:, d] * V[:, d]
            cos = acc / (np.sqrt(vn2)[:, None] * cn[None, :])
            # top cells, ties → lowest cell id (lexsort: -cos then id asc)
            order = np.argsort(-cos, axis=1, kind="stable")[:, :top_cells]
            rows = {
                id_col: np.repeat(pdf[id_col].to_numpy(), top_cells),
                vec_col: [v for v in pdf[vec_col] for _ in range(top_cells)],
                "cell": order.astype(np.int32).reshape(-1),
            }
            yield pd.DataFrame(rows)

    return df.select(id_col, vec_col).mapInPandas(gen, out_schema)


def _seed_centroids(vectors: DataFrame, n_cells: int,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> list[list[float]]:
    """Deterministic seed: the first ``n_cells`` vectors in id ORDER —
    orderBy + limit (TakeOrderedAndProject), not an ``id < n_cells``
    value filter, so sparse or non-zero-based id spaces still seed the
    full cell count (VERDICT r04 #5).  A corpus with fewer than
    ``n_cells`` vectors seeds that smaller count explicitly; an empty
    corpus is an error (ADVICE r04 #4)."""
    rows = sorted(vectors.orderBy(id_col).limit(n_cells).collect(),
                  key=lambda r: r[id_col])
    if not rows:
        raise ValueError("cannot seed IVF centroids: empty vector corpus")
    return [list(map(float, r[vec_col])) for r in rows]


def kmeans_centroids(vectors: DataFrame, n_cells: int = 16,
                     n_iter: int = 3, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> list[list[float]]:
    """Spherical k-means coarse quantizer for IVF: a few Lloyd
    iterations, fully distributed.

    - Seed = the first ``n_cells`` vectors by id (the previous
      deterministic quantizer — so iteration 0 reproduces it exactly).
    - Assignment = ``_ivf_assign`` (ONE Arrow-batched numpy pass per
      iteration, max-cosine cell, ties → lowest cell).
    - Update = per-cell mean via posexplode + partial-aggregated
      groupBy((cell, d)) — map-side combine does the heavy summing and
      the driver only ever sees n_cells × dim summary rows, so the
      update is a broadcast-sized collect at any corpus scale.
    - Empty cells keep their previous centroid (no respawn — keeps the
      procedure deterministic).
    - Means are NOT re-normalized: cos(v, c) is scale-invariant in c,
      so the mean direction is all that matters.

    The converged centroids are DATA, not SQL — callers that need a
    DuckDB oracle materialize them (queries.q_ann_ivf writes them to
    .oracle_cache/ and the oracle reads them back), which keeps the
    assignment/probe/re-rank chain fully hash-checked while the
    quantizer itself is a real clustering."""
    centroids = _seed_centroids(vectors, n_cells, vec_col, id_col)
    dim = len(centroids[0])
    for _ in range(n_iter):
        assign = _ivf_assign(vectors, vec_col, id_col, centroids, 1)
        stats = (assign.select("cell", F.posexplode(vec_col).alias("d", "v"))
                 .groupBy("cell", "d")
                 .agg(F.sum(F.col("v").cast("double")).alias("s"),
                      F.count("*").alias("n"))
                 .collect())
        sums: dict[tuple[int, int], float] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums[(r.cell, r.d)] = float(r.s)
            counts[r.cell] = int(r.n)
        centroids = [
            [sums[(c, d)] / counts[c] for d in range(dim)]
            if counts.get(c) else old
            for c, old in enumerate(centroids)]
    return centroids


def cosine_topk_ivf(vectors: DataFrame, queries: DataFrame, k: int = 10,
                    n_cells: int = 16, n_probe: int = 4,
                    centroids: list[list[float]] | None = None,
                    kmeans_iters: int = 0) -> DataFrame:
    """IVF (inverted-file) ANN — the cell-partitioned scale path.

    Coarse quantizer: explicit ``centroids`` if given; else
    ``kmeans_iters`` Lloyd iterations (:func:`kmeans_centroids` — real
    clustering, deterministically seeded); else the first ``n_cells``
    vectors in id order — the zero-state quantizer that keeps
    the whole operator SQL-oracle-able with no materialized index.
    Every vector lands in its max-cosine cell (an inverted list keyed
    by ``cell`` — at 10^9+ vectors this is a partition key, so a probe
    touches n_probe/n_cells of the corpus instead of all of it); each
    query probes its ``n_probe`` nearest cells and exact cosine
    re-ranks inside them.  A degenerate corpus (all vectors in one
    cell) degrades to brute force over that cell, never worse.
    """
    if centroids is None:
        centroids = (kmeans_centroids(vectors, n_cells, kmeans_iters)
                     if kmeans_iters > 0
                     else _seed_centroids(vectors, n_cells))
    v = _ivf_assign(vectors, "embedding", "vec_id", centroids, 1)
    q = _ivf_assign(queries, "q_embedding", "qid", centroids, n_probe)
    cand = (
        v.join(F.broadcast(q), "cell")
        .select("qid", "vec_id", "embedding", "q_embedding")
        .dropDuplicates(["qid", "vec_id"])
    )
    # round-half-up micro units (not floor): the candidate set always
    # contains each query's SELF pair, whose cosine sits exactly on the
    # floor(1.0e6) boundary — engines summing the dot in different
    # orders land an ulp on either side of 1.0, so the quantization
    # boundary moves to .5 where no systematic value lives
    cos = (_dot(F.col("embedding"), F.col("q_embedding"))
           / (_norm(F.col("embedding")) * _norm(F.col("q_embedding"))))
    j = cand.withColumn(
        "cos_micro", F.floor(cos * 1000000.0 + F.lit(0.5)).cast("long"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_micro"), F.asc("vec_id"))
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "cos_micro", "rnk")
    )


def recall_curves(vectors: DataFrame, queries: DataFrame, k: int = 10,
                  n_cells: int = 16,
                  probe_grid: tuple[int, ...] = (1, 2, 4, 8),
                  table_grid: tuple[int, ...] = (1, 2, 4, 8, 16)) -> dict:
    """ANN *quality* curves: recall@k of the IVF index vs ``n_probe``
    and of the multi-table LSH index vs ``n_tables``, each against the
    exact brute-force baseline.  The correctness oracles prove the
    index math; this grades the approximation itself (VERDICT r04 #7).
    Every collect is bounded at n_queries x k rows."""

    def topk_sets(df: DataFrame) -> dict[int, set[int]]:
        sets: dict[int, set[int]] = {}
        for r in df.select("qid", "vec_id").collect():
            sets.setdefault(r.qid, set()).add(r.vec_id)
        return sets

    gt = topk_sets(cosine_topk_bruteforce(vectors, queries, k))
    denom = sum(len(s) for s in gt.values())

    def recall(res: dict[int, set[int]]) -> float:
        return round(sum(len(res.get(q, set()) & s)
                         for q, s in gt.items()) / denom, 4)

    cents = kmeans_centroids(vectors, n_cells, n_iter=3)
    out = {"k": k, "n_queries": len(gt),
           "ivf_n_probe": {}, "lsh_n_tables": {}}
    for p in probe_grid:
        out["ivf_n_probe"][str(p)] = recall(topk_sets(cosine_topk_ivf(
            vectors, queries, k, n_cells=n_cells, n_probe=p,
            centroids=cents)))
    for t in table_grid:
        out["lsh_n_tables"][str(t)] = recall(topk_sets(cosine_topk_lsh(
            vectors, queries, k, n_tables=t)))
    return out


def cosine_topk_lsh(vectors: DataFrame, queries: DataFrame, k: int = 10,
                    n_tables: int = 8, planes_per_table: int = 4,
                    dim: int = 64) -> DataFrame:
    """Multi-table hyperplane-LSH ANN: L independent hash tables of
    random-hyperplane signatures; a vector is a candidate for a query if
    they share a bucket in ANY table; exact cosine re-rank inside the
    candidate set.  Standard LSH recall/cost dial: more tables → higher
    recall, more candidates.  The equi-join on (table, bucket) replaces
    the brute-force cross join — the scale path for 10^9+ vectors."""
    planes = _hyperplanes(dim, n_tables * planes_per_table)
    tables = [planes[t * planes_per_table:(t + 1) * planes_per_table]
              for t in range(n_tables)]
    v = _bucketed_pandas(vectors, "embedding", "vec_id", tables)
    q = _bucketed_pandas(queries, "q_embedding", "qid", tables)
    cand = (
        v.join(F.broadcast(q), ["tbl", "bkt"])
        .select("qid", "vec_id", "embedding", "q_embedding")
        .dropDuplicates(["qid", "vec_id"])
    )
    j = with_cosine(cand)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_micro"), F.asc("vec_id"))
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "cos_micro", "rnk")
    )
