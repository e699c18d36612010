"""Training-pipeline family tests: stratified split, weighted sampling,
BM25 retrieval, count-min sketch, per-track stats — each checked
against an independent pure-Python implementation (hashlib/math/pandas),
not just the DuckDB oracle."""

from __future__ import annotations

import hashlib
import math
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gpx2tiles_spark.operators import pipeline
from tests.conftest import SF_SMOKE, assert_same_multiset


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))


def _events(spark):
    return spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))


def test_stratified_split_assignment_and_ratios(spark):
    a = pipeline.split_assignment(_docs(spark)).select(
        "doc_id", "bucket", "split").toPandas()
    # assignment matches a from-scratch hashlib reimplementation
    for _, r in a.iterrows():
        b = hashlib.md5(f"split|{r.doc_id}".encode()).hexdigest()[:2]
        assert r.bucket == b
        want = ("train" if int(b, 16) < 0xCC
                else "val" if int(b, 16) < 0xE6 else "test")
        assert r.split == want
    # ratios near 204/26/26 out of 256 (small-n tolerance)
    frac = a.split.value_counts(normalize=True)
    assert abs(frac["train"] - 204 / 256) < 0.12
    assert frac.get("val", 0) > 0 and frac.get("test", 0) > 0


def _u01(s: str) -> float:
    h = hashlib.md5(s.encode()).hexdigest()
    v = int(h[:6], 16)
    return (v + 0.5) / 16 ** 6


def test_weighted_sample_matches_bruteforce(spark):
    got = pipeline.weighted_sample(_docs(spark), k=10).toPandas()
    docs = _docs(spark).select("doc_id", "lang", "n_chars").toPandas()
    for lang, grp in docs.groupby("lang"):
        grp = grp[grp.n_chars > 0]
        keys = sorted(
            ((math.log(_u01(f"ws|{d}")) / w, d)
             for d, w in zip(grp.doc_id, grp.n_chars)),
            key=lambda t: (-t[0], t[1]))
        want = [d for _, d in keys[:10]]
        g = got[got.lang == lang].sort_values("rank")
        assert list(g.doc_id) == want, lang


def test_weighted_sample_partitioning_independent(spark):
    base = pipeline.weighted_sample(_docs(spark), k=5).toPandas()
    shuf = pipeline.weighted_sample(
        _docs(spark).repartition(13), k=5).toPandas()
    key = ["lang", "rank"]
    assert (base.sort_values(key).reset_index(drop=True).doc_id
            == shuf.sort_values(key).reset_index(drop=True).doc_id).all()


def test_bm25_matches_naive(spark):
    terms = ("spark", "query", "vector")
    got = pipeline.bm25_topk(_docs(spark), terms, topk=10).toPandas()
    docs = _docs(spark).select("doc_id", "text").toPandas()
    toks = {r.doc_id: r.text.split(" ") for _, r in docs.iterrows()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {t: sum(1 for w in toks.values() if t in w) for t in terms}
    k1, b = pipeline.BM25_K1, pipeline.BM25_B
    scores = {}
    for d, words in toks.items():
        s = 0.0
        for t in terms:
            tf = words.count(t)
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(words) / avgdl))
        scores[d] = s
    want = sorted(scores, key=lambda d: (-scores[d], d))[:10]
    assert list(got.sort_values("rank").doc_id) == want
    top = got[got["rank"] == 1].iloc[0]
    assert top.score_micro == math.floor(scores[top.doc_id] * 1e6)


def test_cms_overestimates_and_merges(spark):
    ev = _events(spark)
    key = F.col("user_id").cast("string")
    res = None
    from gpx2tiles_spark.queries import queries
    res = queries()["cms_user_counts"](spark, SF_SMOKE).toPandas()
    assert (res.est_cnt >= res.exact_cnt).all()
    assert len(res) == ev.select("user_id").distinct().count()
    # merge property: sketch(A) ⊎ sketch(B) == sketch(A ∪ B)
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = pipeline.cms_merge(
        pipeline.cms_registers(a, key), pipeline.cms_registers(b, key))
    whole = pipeline.cms_registers(ev, key)
    assert_same_multiset(merged, whole)


def test_track_stats_matches_pandas(spark):
    from gpx2tiles_spark.queries import queries
    got = queries()["track_stats"](spark, SF_SMOKE).toPandas()
    from gpx2tiles_spark.operators.geo import derived_points
    pts = derived_points(_events(spark)).toPandas()
    pts = pts.sort_values(["user_id", "ts", "pid"])
    R = 6371000.0
    for uid, g in pts.groupby("user_id"):
        lat = g.lat.to_numpy(); lon = g.lon.to_numpy()
        es = g.ts.astype("int64").to_numpy() / 1e9
        kph = g.kph.to_numpy()
        n_legs = dist = dur = moving = kmicro = 0
        for i in range(1, len(g)):
            a = (math.sin(math.radians(lat[i - 1])) * math.sin(math.radians(lat[i]))
                 + math.cos(math.radians(lat[i - 1])) * math.cos(math.radians(lat[i]))
                 * math.cos(math.radians(lon[i] - lon[i - 1])))
            d = math.floor(math.acos(max(-1.0, min(1.0, a))) * R * 1000.0)
            dt = math.floor(es[i] - es[i - 1])
            n_legs += 1
            dist += d
            dur += dt
            if d > 0:
                moving += dt
            kmicro += math.floor(kph[i] * 1e6)
        row = got[got.user_id == uid].iloc[0]
        assert row.n_legs == n_legs and row.dist_milli == dist
        assert row.dur_sec == dur and row.moving_sec == moving
        assert row.avg_kph_micro == math.floor(kmicro / n_legs)


def test_streaming_cms_equals_batch_sketch(spark):
    """The converged 2-trigger stream sketch equals the batch sketch
    row-for-row, and the streamed estimates dominate exact counts."""
    from gpx2tiles_spark.queries import queries
    got = queries()["streaming_cms"](spark, SF_SMOKE).toPandas()
    batch = queries()["cms_user_counts"](spark, SF_SMOKE).toPandas()
    assert (got.est_cnt >= got.exact_cnt).all()
    key = ["key"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert (g.est_cnt == b.est_cnt).all() and (g.exact_cnt == b.exact_cnt).all()


def test_tfidf_matches_naive(spark):
    from gpx2tiles_spark.operators.textstats import tfidf_topterms
    got = tfidf_topterms(_docs(spark), k=3).toPandas()
    docs = _docs(spark).select("doc_id", "text").toPandas()
    toks = {r.doc_id: r.text.split(" ") for _, r in docs.iterrows()}
    n = len(toks)
    from collections import Counter
    df = Counter()
    for words in toks.values():
        df.update(set(words))
    for d, words in list(toks.items())[:40]:
        tf = Counter(words)
        scored = sorted(((t, tf[t] * math.log(n / df[t])) for t in tf),
                        key=lambda kv: (-kv[1], kv[0]))[:3]
        g = got[got.doc_id == d].sort_values("rank")
        assert list(g.term) == [t for t, _ in scored], d
        for (t, s), (_, row) in zip(scored, g.iterrows()):
            assert row.tfidf_micro == math.floor(s * 1e6)


def test_pmi_matches_naive(spark):
    from collections import Counter

    from gpx2tiles_spark.operators.textstats import pmi_bigrams
    got = pmi_bigrams(_docs(spark), min_count=5, topk=20).toPandas()
    docs = _docs(spark).select("text").toPandas()
    uni, big = Counter(), Counter()
    for t in docs.text:
        ws = t.split(" ")
        uni.update(ws)
        big.update(zip(ws[:-1], ws[1:]))
    T, B = sum(uni.values()), sum(big.values())
    pmis = {ab: math.log((c / B) / ((uni[ab[0]] / T) * (uni[ab[1]] / T)))
            for ab, c in big.items() if c >= 5}
    want = sorted(pmis, key=lambda ab: (-pmis[ab], ab))[:20]
    assert list(zip(got.sort_values("rank").a, got.sort_values("rank").b)) \
        == want
    top = got[got["rank"] == 1].iloc[0]
    assert top.pmi_micro == math.floor(pmis[(top.a, top.b)] * 1e6)


def test_resample_matches_numpy_interp(spark):
    import numpy as np

    from gpx2tiles_spark.operators.geo import derived_points, resample_tracks
    pts = derived_points(_events(spark))
    got = resample_tracks(pts.filter(F.col("user_id") % 7 == 0),
                          step_sec=900).toPandas()
    pdf = pts.filter(F.col("user_id") % 7 == 0).toPandas()
    pdf["es"] = pdf.ts.astype("int64") / 1e9
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values(["es", "pid"])
        lo, hi = g.es.min(), g.es.max()
        grid = np.arange(math.ceil(lo / 900.0), math.floor(hi / 900.0) + 1) * 900
        # duplicate timestamps: np.interp needs strictly usable xp — keep
        # first occurrence (matches the window's bracketing choice up to
        # interpolation, which is exact at duplicate-free this corpus)
        want_lat = np.interp(grid, g.es, g.lat)
        want_lon = np.interp(grid, g.es, g.lon)
        r = got[got.user_id == uid].sort_values("g_sec")
        assert list(r.g_sec) == list(grid.astype("int64")), uid
        assert np.allclose(r.lat_micro / 1e6, want_lat, atol=3e-6)
        assert np.allclose(r.lon_micro / 1e6, want_lon, atol=3e-6)
    # grid instants that hit a fix exactly return that fix exactly
    hits = got.merge(pdf, left_on=["user_id", "g_sec"],
                     right_on=["user_id", "es"])
    assert (hits.lat_micro == np.floor(hits.lat * 1e6)).all()


def test_speed_outliers_matches_numpy(spark):
    import numpy as np

    from gpx2tiles_spark.queries import queries
    got = queries()["speed_outliers"](spark, SF_SMOKE).toPandas()
    from gpx2tiles_spark.operators.geo import derived_points
    pts = derived_points(_events(spark)).toPandas()
    pts["kph_milli"] = np.floor(pts.kph * 1000.0).astype("int64")
    want = set()
    for uid, g in pts.groupby("user_id"):
        x = g.kph_milli.to_numpy("float64")
        mean = x.sum() / len(x)
        var = (x * x).sum() / len(x) - mean * mean
        if var <= 0:
            continue
        z = (x - mean) / math.sqrt(var)
        for pid, zz in zip(g.pid, z):
            if abs(zz) > 2.5:
                want.add((uid, pid))
    assert set(zip(got.user_id, got.pid)) == want
    assert len(got) > 0


def test_bloom_prune_supersets_members_and_matches_hashlib(spark):
    """The pruned set contains EVERY member (no false negatives), any
    extras are reproducible md5 false positives, and the bit positions
    match a from-scratch hashlib reimplementation."""
    from gpx2tiles_spark.queries import queries
    got = queries()["bloom_prune_events"](spark, SF_SMOKE).toPandas()
    ev = _events(spark).toPandas()
    members = set(ev[ev.user_id % 11 == 0].user_id)
    kept = set(got.user_id)
    assert members <= kept
    # independent bloom: positions from hashlib
    def positions(key):
        out = []
        for r in range(3):
            h = hashlib.md5(f"bf{r}|{key}".encode()).hexdigest()
            out.append(int(h[:3], 16))
        return out
    bits = set()
    for m in members:
        bits.update(positions(str(m)))
    want = {u for u in set(ev.user_id)
            if all(p in bits for p in positions(str(u)))}
    assert kept == want
    # flag column separates members from false positives
    assert set(got[got.is_member == 1].user_id) == members
    counts = ev.groupby("user_id").size()
    for _, r in got.iterrows():
        assert r.n_events == counts[r.user_id]
