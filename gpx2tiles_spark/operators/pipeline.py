"""Training-data-pipeline operators: deterministic stratified splits,
weighted reservoir sampling, BM25 retrieval, and a count-min sketch.

All randomness/hashing is md5-derived (identical hex in Spark and
DuckDB — the repo-wide rule), so every operator here has an exact SQL
oracle; floats follow the shared policy (identical op trees on both
sides, integer-valued doubles for order-independent sums, micro-unit
integer outputs).

Scale notes (the 100 TB shapes):

- stratified split: a pure map (hash → bucket → label) + one groupBy
  on low-cardinality strata — no join, no skew channel;
- weighted sampling (Efraimidis–Spirakis A-ES): one window top-k per
  stratum; the sample key is computed map-side, only k rows per
  stratum survive the rank filter;
- BM25: one narrow explode restricted to the query-term set (the
  filter pushes below the shuffle), posting lists via groupBy-pivot,
  corpus scalars broadcast back with a 1-row crossJoin — the classic
  inverted-index shape with no all-pairs anything;
- count-min sketch: registers are a groupBy-SUM — associative,
  map-side combinable, mergeable across corpora/micro-batches by the
  same groupBy-SUM; the sketch is d·w rows no matter the input size,
  and probing broadcasts it.

Reference analogy: gpx2tiles has no corpus ops — this family is the
engine's mandated training-pipeline surface (SURVEY.md §7 step 8 and
the driver brief), built over the `documents`/`events` tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# md5 → uniform(0,1): pure string ops + ascii(), mirrored by hex_u01_sql
# ---------------------------------------------------------------------------


def _nib(c: Column) -> Column:
    return F.when(c <= "9", F.ascii(c) - F.lit(48)).otherwise(
        F.ascii(c) - F.lit(87))


def hex_u01(h: Column, start: int = 1, nibbles: int = 6) -> Column:
    """Uniform u in (0,1) from `nibbles` hex chars of a digest:
    u = (v + 0.5) / 16^n, v the big-endian nibble value.  v <= 16^6 is
    exact in both engines; the one division is by a power of two."""
    v: Column | None = None
    for i in range(nibbles):
        nb = _nib(F.substring(h, start + i, 1))
        v = nb if v is None else v * F.lit(16) + nb
    return (v.cast("double") + F.lit(0.5)) / F.lit(float(16 ** nibbles))


def hex_u01_sql(h: str, start: int = 1, nibbles: int = 6) -> str:
    """Character-for-character SQL twin of :func:`hex_u01`."""
    def nib(i: int) -> str:
        c = f"substr({h}, {start + i}, 1)"
        return (f"(CASE WHEN {c} <= '9' THEN ascii({c}) - 48"
                f" ELSE ascii({c}) - 87 END)")
    v = nib(0)
    for i in range(1, nibbles):
        v = f"(({v}) * 16 + {nib(i)})"
    return f"((CAST({v} AS DOUBLE) + 0.5) / {float(16 ** nibbles)!r})"


# ---------------------------------------------------------------------------
# Deterministic stratified train/val/test split
# ---------------------------------------------------------------------------

# bucket = first 2 hex chars of md5("split|" + doc_id): 256 buckets;
# train < 0xcc (204/256 ~ 79.7%), val < 0xe6 (26/256 ~ 10.2%), rest test.
# Lowercase hex sorts correctly as strings ('0'..'9' < 'a'..'f').
SPLIT_TRAIN_HI = "cc"
SPLIT_VAL_HI = "e6"


def split_assignment(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc (bucket, split) assignment — a pure map, no shuffle."""
    h = F.md5(F.concat(F.lit("split|"), F.col(id_col).cast("string")))
    bucket = F.substring(h, 1, 2)
    split = (F.when(bucket < SPLIT_TRAIN_HI, "train")
             .when(bucket < SPLIT_VAL_HI, "val")
             .otherwise("test"))
    return docs.withColumn("bucket", bucket).withColumn("split", split)


def stratified_split_counts(docs: DataFrame) -> DataFrame:
    """Split audit per (lang, source, split): doc count, char mass,
    id range — the table a pipeline checks before training on a cut."""
    a = split_assignment(docs)
    return (a.groupBy("lang", "source", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc")))


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------


def weighted_sample(docs: DataFrame, k: int = 10,
                    strata: str = "lang", weight: str = "n_chars",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-k weighted sample per stratum: key = ln(u)/w (monotone twin
    of the classic u^(1/w)), u deterministic from md5(doc_id).  One
    window per stratum; every non-surviving row dies at the rank
    filter, so only k rows per stratum leave the shuffle."""
    h = F.md5(F.concat(F.lit("ws|"), F.col(id_col).cast("string")))
    key = F.log(hex_u01(h)) / F.col(weight).cast("double")
    keyed = docs.filter(F.col(weight) > 0).withColumn("skey", key)
    # two-phase top-k: per-input-partition prefilter keeps ≤ k rows per
    # stratum per partition (any superset of the global top-k — the
    # result is partitioning-independent), so the stratum window never
    # sees more than k·n_partitions rows.  This is what makes a
    # 5-stratum sample survive 10^12 docs: without it one window
    # partition holds a fifth of the corpus.
    pre = Window.partitionBy(strata, F.spark_partition_id()).orderBy(
        F.col("skey").desc(), F.col(id_col))
    keyed = (keyed.withColumn("_pre", F.row_number().over(pre))
             .filter(F.col("_pre") <= k).drop("_pre"))
    ranked = keyed.withColumn("rank", F.row_number().over(
        Window.partitionBy(strata)
        .orderBy(F.col("skey").desc(), F.col(id_col))))
    return (ranked.filter(F.col("rank") <= k)
            .select(F.col(strata), F.col(id_col),
                    F.col("rank").cast("int").alias("rank"),
                    F.col(weight)))


# ---------------------------------------------------------------------------
# BM25 top-k retrieval (inverted-index shape)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, terms: tuple[str, ...],
              topk: int = 20) -> DataFrame:
    """BM25 score of a fixed query-term set over `documents.text`,
    top-k by score.

    Shape: explode → filter to the term set (pushed below the shuffle)
    → groupBy-pivot posting counts → per-term df + corpus scalars in
    ONE 1-row aggregate, crossJoined (broadcast) back — the inverted-
    index plan; the final per-doc score is a FIXED-ORDER sum over the
    pivoted term columns (no float groupBy-SUM, so the oracle's op
    tree is mirrored exactly).  dl sums are integer-valued doubles →
    exact, order-independent."""
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = (words.filter(F.col("w").isin(*terms))
          .groupBy("doc_id").pivot("w", list(terms)).count()
          .na.fill(0, list(terms)))
    dl = docs.select("doc_id",
                     F.size(F.split("text", " ")).cast("long").alias("dl"))
    per_doc = dl.join(tf, "doc_id", "left").na.fill(0, list(terms))
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum(F.when(F.col(t) > 0, 1).otherwise(0)).alias(f"df_{i}")
          for i, t in enumerate(terms)])
    j = per_doc.crossJoin(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    k1 = F.lit(BM25_K1)
    b = F.lit(BM25_B)
    score = None
    for i, t in enumerate(terms):
        tf_t = F.col(t).cast("double")
        df_t = F.col(f"df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - df_t + F.lit(0.5)) / (df_t + F.lit(0.5)))
        s = idf * (tf_t * (k1 + F.lit(1.0))) / (
            tf_t + k1 * (F.lit(1.0) - b + b * F.col("dl").cast("double") / avgdl))
        score = s if score is None else score + s
    # orderBy().limit() compiles to TakeOrderedAndProject — a
    # distributed per-partition top-k + driver merge, NOT a global
    # sort; row_number then runs over the k survivors only.
    top = (j.withColumn("score", score)
           .select("doc_id", "score")
           .orderBy(F.col("score").desc(), F.col("doc_id"))
           .limit(topk))
    ranked = top.withColumn("rank", F.row_number().over(
        Window.orderBy(F.col("score").desc(), F.col("doc_id"))))
    return ranked.select(
        "doc_id", F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("score") * F.lit(1000000.0)).cast("long")
        .alias("score_micro"))


def bm25_sql(terms: tuple[str, ...], docs_sql: str = "documents",
             topk: int = 20) -> str:
    """DuckDB twin of :func:`bm25_topk` — same explode-based tf/df,
    same fixed-order score sum, constants embedded as CAST('…' AS
    DOUBLE) repr-literals (DuckDB parses bare short floats as
    DECIMAL)."""
    k1 = f"CAST('{BM25_K1!r}' AS DOUBLE)"
    b = f"CAST('{BM25_B!r}' AS DOUBLE)"
    tf_cols = ",\n           ".join(
        f"SUM(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    score_terms = []
    for i in range(len(terms)):
        idf = (f"LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE)"
               f" + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))")
        score_terms.append(
            f"{idf} * (CAST(tf_{i} AS DOUBLE) * ({k1} + 1.0)) / "
            f"(CAST(tf_{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b} * "
            f"CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / "
            f"CAST(n_docs AS DOUBLE))))")
    score = "(" + " + ".join(score_terms) + ")"
    return f"""
  WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM {docs_sql}),
  tf AS (
    SELECT doc_id,
           {tf_cols}
    FROM words GROUP BY doc_id),
  dl AS (
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
             AS dl
    FROM {docs_sql}),
  per_doc AS (
    SELECT dl.doc_id, dl.dl,
           {", ".join(f"COALESCE(tf.tf_{i}, 0) AS tf_{i}" for i in range(len(terms)))}
    FROM dl LEFT JOIN tf ON tf.doc_id = dl.doc_id),
  stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl, {df_cols}
    FROM per_doc),
  scored AS (
    SELECT doc_id, {score} AS score
    FROM per_doc CROSS JOIN stats),
  ranked AS (
    SELECT doc_id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored)
  SELECT doc_id, CAST(rank AS INT) AS rank,
         CAST(FLOOR(score * 1000000.0) AS BIGINT) AS score_micro
  FROM ranked WHERE rank <= {topk}
"""


# ---------------------------------------------------------------------------
# Count-min sketch (d rows × w=256 buckets, md5 row-salted)
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows


def _cms_bucket(key: Column, r: int) -> Column:
    return F.substring(F.md5(F.concat(F.lit(f"cms{r}|"), key)), 1, 2)


def cms_registers(df: DataFrame, key: Column, d: int = CMS_D) -> DataFrame:
    """→ (row, bucket, cnt): the sketch table, d·256 rows max no matter
    the input size.  Counts are a groupBy-SUM → associative, map-side
    combinable; two sketches (corpora, micro-batches) merge with the
    same groupBy-SUM (pytest-proven, mirrors the HLL register table)."""
    pairs = F.array(*[
        F.struct(F.lit(r).alias("row"), _cms_bucket(key, r).alias("bucket"))
        for r in range(d)])
    # ONE scan + explode (not a d-branch union re-reading the input d
    # times) feeding one partially-aggregated groupBy
    return (df.select(F.explode(pairs).alias("p"))
            .select("p.row", "p.bucket")
            .groupBy("row", "bucket").agg(F.count("*").alias("cnt")))


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union-merge two sketch tables (sketch of the union of inputs)."""
    return (a.unionByName(b).groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt")))


def cms_estimates(keys: DataFrame, sketch: DataFrame, key_col: str,
                  d: int = CMS_D) -> DataFrame:
    """Point-query the sketch for every key row: est = MIN over the d
    rows of the key's bucket count.  The sketch side is ≤ d·256 rows →
    broadcast; the probe is a map-side hash join per key row."""
    pairs = F.array(*[
        F.struct(F.lit(r).alias("row"),
                 _cms_bucket(F.col(key_col).cast("string"), r)
                 .alias("bucket"))
        for r in range(d)])
    probes = (keys.select(F.col(key_col), F.explode(pairs).alias("p"))
              .select(key_col, "p.row", "p.bucket"))
    return (probes.join(F.broadcast(sketch), ["row", "bucket"])
            .groupBy(key_col).agg(F.min("cnt").alias("est_cnt")))


def cms_sql(key_expr: str, src_sql: str, d: int = CMS_D) -> str:
    """DuckDB twin of registers+estimates over `src_sql` (a relation
    with the key expr available): → (key, est_cnt, exact_cnt)."""
    reg_parts = " UNION ALL ".join(
        f"SELECT {r} AS row, substr(md5(concat('cms{r}|', k)), 1, 2)"
        f" AS bucket FROM src" for r in range(d))
    probe_parts = " UNION ALL ".join(
        f"SELECT k, {r} AS row, substr(md5(concat('cms{r}|', k)), 1, 2)"
        f" AS bucket FROM keys" for r in range(d))
    return f"""
  WITH src AS (SELECT {key_expr} AS k FROM {src_sql}),
  regs AS (
    SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ({reg_parts}) GROUP BY row, bucket),
  keys AS (SELECT DISTINCT k FROM src),
  probes AS ({probe_parts}),
  est AS (
    SELECT p.k, MIN(r.cnt) AS est_cnt
    FROM probes p JOIN regs r ON r.row = p.row AND r.bucket = p.bucket
    GROUP BY p.k),
  exact AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM src GROUP BY k)
  SELECT est.k AS key, CAST(est.est_cnt AS BIGINT) AS est_cnt,
         exact.exact_cnt
  FROM est JOIN exact ON exact.k = est.k
"""


# ---------------------------------------------------------------------------
# Deterministic Bloom filter (m=4096 bits, k=3 md5-salted hashes) —
# runtime semi-join pruning, the "build a filter from the small side,
# prune the big side map-side" technique (Spark's own runtime row-group
# filters do exactly this at the storage layer).
# ---------------------------------------------------------------------------

BLOOM_K = 3      # hash functions


def _bloom_pos(key: Column, r: int) -> Column:
    """Bit position r for a key: 3 hex chars of a salted md5 = 12 bits
    (0..4095) — string-sliced, engine-portable (the conv/strtol-free
    nibble ladder from hex_u01)."""
    h = F.md5(F.concat(F.lit(f"bf{r}|"), key))
    v: Column | None = None
    for i in range(3):
        nb = _nib(F.substring(h, 1 + i, 1))
        v = nb if v is None else v * F.lit(16) + nb
    return v


def bloom_bits(keys: DataFrame, key_col: str, k: int = BLOOM_K) -> DataFrame:
    """→ (pos): the DISTINCT set-bit positions of the filter — ≤ m rows
    regardless of the build side's size (the distinct is the map-side-
    combinable 'OR' of a bit array)."""
    pos = F.array(*[_bloom_pos(F.col(key_col).cast("string"), r)
                    for r in range(k)])
    return (keys.select(F.explode(pos).alias("pos")).distinct())


def bloom_prune(facts: DataFrame, bits: DataFrame, key_col: str,
                k: int = BLOOM_K) -> DataFrame:
    """Keep fact rows whose key passes the filter: all k positions set.
    The bits side is ≤ m rows → broadcast; the probe is an explode +
    broadcast semi-count — the fact table NEVER shuffles on the key,
    which is the whole point of bloom pruning at 10^12 rows."""
    pos = F.array(*[_bloom_pos(F.col(key_col).cast("string"), r)
                    for r in range(k)])
    keys = facts.select(key_col).distinct()
    probed = (keys.withColumn("_pos", F.explode(pos))
              .join(F.broadcast(bits.withColumnRenamed("pos", "_pos")),
                    "_pos"))
    # COUNT(*), not countDistinct: two of a key's k hashes may share a
    # bit position (each probe row still matches exactly one bits row),
    # and a Bloom filter must never false-negative a member
    hits = (probed.groupBy(key_col)
            .agg(F.count("*").alias("_nhit"))
            .filter(F.col("_nhit") == k)
            .select(key_col))
    return facts.join(F.broadcast(hits), key_col)
