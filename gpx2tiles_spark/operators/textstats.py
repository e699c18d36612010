"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting — all expressible as native Column pipelines with
exact DuckDB oracles (no UDFs at all)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny built-in stopword lists (n-gram heuristic langid)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit", "den", "von"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "pour", "dans"],
}


def _word_count(text):
    # whitespace tokens via pure replace arithmetic (engine-portable)
    return F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens ([a-z]+ runs, digit runs)."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        _word_count(t).alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit("[a-z]+"), 0)).alias("alpha_tokens"),
        F.size(F.regexp_extract_all(t, F.lit("[0-9]+"), 0)).alias("num_tokens"),
        F.length(t).alias("n_chars"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword ratios → micro-unit quality score."""
    t = F.col("text")
    n_chars = F.length(t)
    n_words = _word_count(t)
    punct = n_chars - F.length(F.regexp_replace(t, F.lit(r"[.,!?;:]"), F.lit("")))
    stop_hits = None
    for w in STOPWORDS["en"]:
        hit = (
            F.length(F.concat(F.lit(" "), t, F.lit(" ")))
            - F.length(F.replace(F.concat(F.lit(" "), t, F.lit(" ")),
                                 F.lit(f" {w} "), F.lit("")))
        ) / F.lit(len(w) + 2)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    avg_word_len = n_chars.cast("double") / n_words
    score = (
        F.lit(1000000.0)
        * F.least(F.lit(1.0), n_words.cast("double") / F.lit(50.0))
        * (F.lit(1.0) - F.least(F.lit(1.0), punct.cast("double") * F.lit(5.0) / n_chars))
    )
    return docs.select(
        "doc_id", n_chars.alias("n_chars"), n_words.alias("n_words"),
        punct.alias("n_punct"),
        F.floor(stop_hits).cast("long").alias("stop_hits"),
        F.floor(avg_word_len * 1000000.0).cast("long").alias("avg_word_len_micro"),
        F.floor(score).cast("long").alias("quality_micro"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language guess (deterministic tie order en>de>fr)."""
    t = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    votes = {}
    for lang, ws in STOPWORDS.items():
        v = None
        for w in ws:
            hit = (
                (F.length(t) - F.length(F.replace(t, F.lit(f" {w} "), F.lit(""))))
                / F.lit(len(w) + 2)
            )
            v = hit if v is None else v + hit
        votes[lang] = v
    best = (
        F.when((votes["en"] >= votes["de"]) & (votes["en"] >= votes["fr"]), "en")
        .when(votes["de"] >= votes["fr"], "de")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        F.floor(votes["en"]).cast("long").alias("en_hits"),
        F.floor(votes["de"]).cast("long").alias("de_hits"),
        F.floor(votes["fr"]).cast("long").alias("fr_hits"),
        best.alias("lang_guess"),
    )


def fingerprints(docs: DataFrame, n: int = 4) -> DataFrame:
    """Winnowing-lite document fingerprint: min md5 over word n-shingles
    (plus the shingle count) — groups sharing a fingerprint are near-dup
    candidates.

    Shape: explode the shingle INDEX and aggregate min(md5) per doc
    rather than transform+array_min over an array column — higher-order
    functions are interpreted per element (no whole-stage codegen), which
    made the narrow form the slowest text query (14.3 s at sf1).  The
    explode/md5/partial-agg pipeline is fully codegen'd; a document's
    shingles are contiguous in the scan, so the map-side partial
    aggregate collapses them to ~1 row per doc before the (tiny)
    shuffle.  min over the md5 hex strings is the same binary UTF8
    comparison either way."""
    words = F.split(F.col("text"), " ")
    sh = docs.select(
        F.col("doc_id"), words.alias("ws"),
        F.explode(F.sequence(
            F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))).alias("i"))
    h = F.md5(F.concat_ws(" ", F.slice(F.col("ws"), F.col("i") + 1, n)))
    return (sh.select("doc_id", h.alias("h"))
            .groupBy("doc_id")
            .agg(F.min("h").alias("fingerprint"),
                 F.count("*").cast("int").alias("n_shingles")))


def tfidf_topterms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k terms per document by tf·idf (idf = ln(N/df)) — keyword
    extraction, the corpus-wide complement of the fixed-query BM25.

    Inverted-index shape: one explode → (doc, word) tf groupBy → word
    df groupBy (both map-side combined, shuffled on the word key — at
    10^12 docs the vocabulary is the natural partition key and no side
    is broadcast except the 1-row corpus count); score is per-row
    float math (no float aggregation), ranking by the raw double with
    word-asc ties so both engines agree bit-for-bit."""
    from pyspark.sql import Window

    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    # df as a count-over-window on the tf relation instead of a second
    # aggregation joined back: tf rows are unique per (doc, word), so
    # COUNT(*) OVER (PARTITION BY w) == the document frequency — one
    # word-keyed shuffle replaces the old plan's TWO (dfx aggregation +
    # re-shuffling tf for the join), and tf itself is built once, not
    # twice (self-referencing subtrees re-execute in Spark).
    stats = docs.agg(F.count("*").alias("n_docs"))
    j = (tf.withColumn("df", F.count("*").over(Window.partitionBy("w")))
         .crossJoin(F.broadcast(stats)))
    score = (F.col("tf").cast("double")
             * F.log(F.col("n_docs").cast("double")
                     / F.col("df").cast("double")))
    w_ = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "w")
    return (j.withColumn("score", score)
            .withColumn("rank", F.row_number().over(w_))
            .filter(F.col("rank") <= k)
            .select("doc_id", F.col("w").alias("term"), "tf", "df",
                    F.col("rank").cast("int").alias("rank"),
                    F.floor(F.col("score") * F.lit(1000000.0))
                    .cast("long").alias("tfidf_micro")))


def pmi_bigrams(docs: DataFrame, min_count: int = 5,
                topk: int = 50) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information, PMI = ln((c_ab/B) / ((c_a/T)·(c_b/T))) — the classic
    phrase-mining signal over a corpus.

    Bigrams come from a pure array transform (element_at pairs — a
    narrow map, no window, no shuffle before the count groupBys); all
    counts are exact integers, the PMI float is per-row with one op
    tree, and the final top-k is orderBy+limit (TakeOrdered)."""
    from pyspark.sql import Window

    ws = F.split(F.col("text"), " ")
    # adjacent pairs via arrays_zip of two slices — regular (codegen'd)
    # collection expressions, not an interpreted transform() HOF; a
    # 1-word doc slices to two empty arrays and zips to nothing, exactly
    # like the old empty-sequence guard
    pairs = F.arrays_zip(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))).alias("a"),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))).alias("b"))
    big = (docs.select(F.explode(pairs).alias("p"))
           .select("p.a", "p.b"))
    cab = big.groupBy("a", "b").agg(F.count("*").alias("cab"))
    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    uni = words.groupBy("w").agg(F.count("*").alias("c"))
    # corpus totals as second-stage sums over the SAME aggregates the
    # query already builds (Σcab == |bigrams|, Σc == |tokens|): the
    # shuffled partial aggregates are reused, where the old agg-on-big /
    # agg-on-words subtrees re-ran the full explode over the corpus
    # twice more
    totals = (cab.agg(F.sum("cab").alias("bt"))
              .crossJoin(uni.agg(F.sum("c").alias("tt"))))
    j = (cab.filter(F.col("cab") >= min_count)
         .join(uni.withColumnRenamed("w", "a")
                  .withColumnRenamed("c", "ca"), "a")
         .join(uni.withColumnRenamed("w", "b")
                  .withColumnRenamed("c", "cb"), "b")
         .crossJoin(F.broadcast(totals)))
    bt = F.col("bt").cast("double")
    tt = F.col("tt").cast("double")
    pmi = F.log((F.col("cab").cast("double") / bt)
                / ((F.col("ca").cast("double") / tt)
                   * (F.col("cb").cast("double") / tt)))
    top = (j.withColumn("pmi", pmi)
           .select("a", "b", "cab", "ca", "cb", "pmi")
           .orderBy(F.col("pmi").desc(), "a", "b").limit(topk))
    ranked = top.withColumn("rank", F.row_number().over(
        Window.orderBy(F.col("pmi").desc(), "a", "b")))
    return ranked.select(
        "a", "b", "cab", "ca", "cb",
        F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("pmi") * F.lit(1000000.0)).cast("long")
        .alias("pmi_micro"))
