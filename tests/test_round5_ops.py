"""Round-5 hardening: driver-durable store oracle rows, IVF seeding on
sparse id spaces, JPEG codec robustness on malformed input."""
from __future__ import annotations

import numpy as np
import pytest

from conftest import SF_SMOKE, assert_same_multiset, render_tiles


@pytest.mark.parametrize("name", ["incremental_store", "store_as_of"])
def test_store_oracle_rows_survive_cache_eviction(spark, name):
    """The exact r04 failure mode: the driver collects an oracle row
    AFTER its persist() was evicted by memory pressure.  The store now
    lives under .oracle_cache (not a deleted tempdir), so an unpersist +
    recount must recompute cleanly from the store files."""
    from gpx2tiles_spark.queries import _REGISTRY

    df = _REGISTRY[name][0](spark, SF_SMOKE)
    rows = sorted(map(tuple, df.collect()))
    df.unpersist(blocking=True)
    assert sorted(map(tuple, df.collect())) == rows
    assert rows  # non-degenerate


def test_ivf_seed_sparse_nonzero_ids(spark):
    """VERDICT r04 #5: ids 1000, 1007, 1014, ... (sparse, non-zero-based)
    must still seed the FULL requested cell count and converge."""
    from gpx2tiles_spark.operators.ann import _seed_centroids, kmeans_centroids

    rng = np.random.default_rng(5)
    rows = [(1000 + 7 * i, rng.normal(size=8).tolist()) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seed = _seed_centroids(vecs, 16)
    assert len(seed) == 16
    assert seed[0] == pytest.approx(rows[0][1])  # first BY ORDER, not id<16
    cents = kmeans_centroids(vecs, n_cells=16, n_iter=2)
    assert len(cents) == 16 and len(cents[0]) == 8


def test_ivf_seed_small_and_empty_corpus(spark):
    from gpx2tiles_spark.operators.ann import _seed_centroids

    rows = [(i, [float(i), 1.0]) for i in range(3)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert len(_seed_centroids(vecs, 16)) == 3  # explicit fallback count
    with pytest.raises(ValueError, match="empty"):
        _seed_centroids(vecs.filter("vec_id < 0"), 16)


def test_gpx_file_arrival_stream_equals_batch_render(spark, tmp_path):
    """VERDICT r04 #8: the reference's -0 stdin arrival loop as a
    Structured Streaming binaryFile source.  6 gpx files drained with
    maxFilesPerTrigger=3 (>=2 triggers); the incremental TileStore's
    converged state must equal the one-shot batch render of the same
    directory."""
    from pyspark.sql import functions as F
    from gpx2tiles_spark.config import EngineConfig
    from gpx2tiles_spark.operators.events import build_events
    from gpx2tiles_spark.operators.parse import parse_documents
    from gpx2tiles_spark.operators.raster import rasterize
    from gpx2tiles_spark.sources.gpxfiles import read_gpx_documents
    from gpx2tiles_spark.streaming.incremental import (TileStore,
                                                       run_gpx_streaming)

    gpx_dir = tmp_path / "drop"
    gpx_dir.mkdir()
    for i in range(6):
        pts = "".join(
            f'<trkpt lat="{47.5 + i * 0.31:.4f}" lon="{7.9 + j * 0.27:.4f}">'
            f"<time>2016-06-25T10:{i:02d}:{j:02d}Z</time></trkpt>"
            for j in range(4))
        (gpx_dir / f"t{i}.gpx").write_text(
            f"<gpx><trk><trkseg>{pts}</trkseg></trk></gpx>")

    cfg = EngineConfig(zoom_min=1, zoom_max=6)
    sdir = str(tmp_path / "store")
    q = run_gpx_streaming(spark, str(gpx_dir), sdir, cfg,
                          max_files_per_trigger=3)
    q.awaitTermination(180)

    store = TileStore(spark, sdir)
    deltas = [s for s in store.manifest()["snapshots"]
              if s["kind"] == "delta"]
    assert len(deltas) == 2  # 6 files / maxFilesPerTrigger=3 → 2 batches

    docs = read_gpx_documents(spark, str(gpx_dir))
    oneshot = rasterize(build_events(parse_documents(docs), cfg), cfg)
    want = {(r.z, r.tx, r.ty): r.point_cnt for r in
            oneshot.select("z", "tx", "ty", "point_cnt").collect()}
    got = {(r.z, r.tx, r.ty): r.point_cnt for r in
           store.current().select("z", "tx", "ty", "point_cnt").collect()}
    assert got == want and len(want) > 0

    # exactly-once on restart: the drained checkpoint + manifest make a
    # second run a no-op (the reference's re-run over the same stdin list
    # would double-draw; the stream's seen-files log does better)
    q2 = run_gpx_streaming(spark, str(gpx_dir), sdir, cfg,
                           max_files_per_trigger=3)
    q2.awaitTermination(120)
    assert len([s for s in TileStore(spark, sdir).manifest()["snapshots"]
                if s["kind"] == "delta"]) == 2


def test_ann_recall_curves_monotone_and_exact_at_full_probe(spark):
    """The quality dial must behave like a real ANN index: recall@k
    rises with n_probe, and probing ALL cells is exhaustive (recall 1.0
    — IVF with full probe degrades to brute force by construction)."""
    from pyspark.sql import functions as F
    from gpx2tiles_spark.operators.ann import recall_curves

    emb = spark.read.parquet(
        SF_SMOKE + "/embeddings.parquet").select("vec_id", "embedding")
    qs = emb.orderBy("vec_id").limit(10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding"))
    out = recall_curves(emb, qs, k=5, n_cells=8, probe_grid=(1, 8),
                        table_grid=(2, 16))
    ivf, lsh = out["ivf_n_probe"], out["lsh_n_tables"]
    assert ivf["1"] <= ivf["8"] == 1.0
    assert lsh["2"] <= lsh["16"]
    assert out["n_queries"] == 10 and out["k"] == 5


def test_adpcm_roundtrip_tracks_signal():
    """IMA ADPCM is lossy but adaptive: on a random-walk signal the
    decoded stream must track the input closely, and decode(encode(x))
    must equal the ENCODER's own internal reconstruction bit-for-bit
    (we re-derive that by decoding twice — decode is deterministic)."""
    from gpx2tiles_spark.adpcmcodec import (decode_blocks, encode_blocks,
                                            samples_per_block)

    spb = samples_per_block(256)
    rng = np.random.default_rng(7)
    pcm = np.clip(np.cumsum(rng.integers(-500, 501, size=3 * spb)),
                  -32768, 32767).astype(np.int16)
    blob = encode_blocks(pcm, 256)
    assert len(blob) == 3 * 256
    dec = decode_blocks(blob, 256)
    assert len(dec) == len(pcm)
    # block-leading samples are stored verbatim
    assert all(dec[i * spb] == pcm[i * spb] for i in range(3))
    # adaptive tracking: bounded error relative to the step sizes a
    # +/-500 walk needs (steps ~<= 1024 once adapted)
    assert np.abs(dec.astype(np.int64) - pcm.astype(np.int64)).max() < 2000
    # decoder determinism (the exact-inverse property)
    assert np.array_equal(dec, decode_blocks(blob, 256))
    with pytest.raises(ValueError, match="partial block"):
        decode_blocks(blob[:-5], 256)


def test_adpcm_wav_container_and_luma():
    """The synthetic ADPCM WAV has the closed-form byte length, parses
    through decode_wav's format-tag dispatch, and decode_luma maps it to
    the (1, n_samples) amplitude plane like PCM wav."""
    from gpx2tiles_spark.operators.multimodal import (decode_luma,
                                                      decode_wav,
                                                      synth_adpcm_wav,
                                                      synth_adpcm_wav_len)

    for n_blocks in (1, 2, 3):
        wav = synth_adpcm_wav(b"seed%d" % n_blocks, n_blocks)
        assert len(wav) == synth_adpcm_wav_len(n_blocks) == 60 + 256 * n_blocks
        samples = decode_wav(wav)
        assert len(samples) == 505 * n_blocks
        plane = decode_luma(wav, "adpcm", 505 * n_blocks, 1)
        assert plane.shape == (1, 505 * n_blocks)
        assert 0.0 <= plane.min() and plane.max() <= 255.0


def test_decode_luma_unknown_kind_raises():
    from gpx2tiles_spark.operators.multimodal import decode_luma

    with pytest.raises(ValueError, match="no in-repo decoder"):
        decode_luma(b"xxxx", "mp3", 4, 4)


def test_jpeg_truncated_raises_valueerror():
    """ADVICE r04 #2: every malformed-input failure is ValueError, never
    IndexError — truncation mid-segment, mid-scan, and mid-entropy."""
    from gpx2tiles_spark.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(24, 17, 3), dtype=np.uint8)
    data = encode_jpeg(img)
    for cut in (3, 10, len(data) // 2, len(data) - 3):
        with pytest.raises(ValueError):
            decode_jpeg(data[:cut])


def test_jpeg_standalone_markers_skipped():
    """TEM (FF01) and RSTn (FFD0-D7) before the frame are standalone —
    no length word — and must be skipped, not parsed as segments."""
    from gpx2tiles_spark.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    data = encode_jpeg(img)
    patched = data[:2] + b"\xff\x01\xff\xd0" + data[2:]
    assert np.array_equal(decode_jpeg(patched), decode_jpeg(data))


def test_jpeg_bitio_acc_stays_bounded():
    """ADVICE r04 #1: the bit-IO accumulators must not grow with stream
    length (quadratic decode).  Encode a large-ish image and check the
    decoder's accumulator never exceeds a few bytes' worth of bits."""
    from gpx2tiles_spark import jpegcodec
    from gpx2tiles_spark.jpegcodec import _BitWriter, encode_jpeg

    w = _BitWriter()
    rng = np.random.default_rng(13)
    for _ in range(5000):
        w.put(int(rng.integers(0, 2**12)), 12)
        assert w.acc < (1 << 8)
    img = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    data = encode_jpeg(img)

    orig_fill = jpegcodec._BitReader._fill
    seen = []

    def spy(self):
        orig_fill(self)
        seen.append(self.acc.bit_length())

    jpegcodec._BitReader._fill = spy
    try:
        jpegcodec.decode_jpeg(data)
    finally:
        jpegcodec._BitReader._fill = orig_fill
    assert seen and max(seen) <= 32


def test_hard_kill_mid_job_resume(spark, tmp_path):
    """Crash consistency for the checkpointed store: SIGKILL the whole
    driver+executor process tree MID-JOB (after the first committed
    snapshot, between batches), plant an orphan half-written snapshot
    dir, then resume with the same deterministic batching.  The atomic
    manifest swap + immutable snapshot dirs + overwrite-on-recommit
    must make the resumed store byte-identical to a oneshot render
    (north rule: resumable from checkpointed tile-partition state)."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    from pyspark.sql import functions as F

    from gpx2tiles_spark.config import EngineConfig
    from gpx2tiles_spark.corpus import generate_documents
    from gpx2tiles_spark.pngcodec import decode_png
    from gpx2tiles_spark.streaming.incremental import process_batches

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cfg = EngineConfig(zoom_min=1, zoom_max=8)
    store_dir = str(tmp_path / "killstore")
    script = f"""
import sys, time
sys.path.insert(0, {repo!r})
from gpx2tiles_spark.session import get_spark
from gpx2tiles_spark.config import EngineConfig
from gpx2tiles_spark.corpus import generate_documents
from gpx2tiles_spark.streaming.incremental import (TileStore,
    doc_range_bounds, _range_predicate)
spark = get_spark(app="killme", master="local[4]")
spark.sparkContext.setLogLevel("ERROR")
docs = generate_documents(spark, 10, partitions=2).cache()
cfg = EngineConfig(zoom_min=1, zoom_max=8)
store = TileStore(spark, {store_dir!r})
bounds = doc_range_bounds(docs, 4)
cuts = [None] + list(bounds) + [None]
for b in range(len(cuts) - 1):
    store.apply_batch(f"batch-{{b:04d}}",
                      docs.filter(_range_predicate(cuts[b], cuts[b + 1])),
                      cfg)
    time.sleep(60)   # parent SIGKILLs the process group in this window
"""
    env = dict(os.environ, PYTHONPATH=repo)
    proc = subprocess.Popen([sys.executable, "-c", script], cwd=repo,
                            env=env, start_new_session=True,
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL)
    manifest = os.path.join(store_dir, "manifest.json")
    deadline = time.time() + 240
    try:
        while time.time() < deadline:
            if os.path.exists(manifest) and \
                    json.load(open(manifest))["snapshots"]:
                break
            if proc.poll() is not None:
                raise AssertionError("subprocess died before first commit")
            time.sleep(0.5)
        else:
            raise AssertionError("no snapshot committed before deadline")
    finally:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    committed = json.load(open(manifest))["snapshots"]
    assert 1 <= len(committed) < 5, "kill did not land mid-job"

    # simulate a crash mid-snapshot-write: an orphan dir for the NEXT
    # snapshot id, full of junk tiles the manifest never committed
    orphan = os.path.join(store_dir, f"snapshot-{len(committed):05d}")
    junk = spark.range(3).select(
        F.lit(1).alias("z"), F.col("id").cast("int").alias("tx"),
        F.lit(99).alias("ty"), F.lit(7).alias("point_cnt"),
        F.lit(1).alias("n_events"), F.lit(1).alias("n_docs"),
        F.lit(bytearray(b"not a png")).alias("png"))
    junk.write.mode("overwrite").parquet(orphan)

    docs = generate_documents(spark, 10, partitions=2).cache()
    store = process_batches(spark, docs, store_dir, cfg, n_batches=4)
    m = store.manifest()
    keys = [s["batch_key"] for s in m["snapshots"]]
    assert len(set(keys)) == len(keys), "resume re-committed a batch"

    got = {(r.z, r.tx, r.ty): (r.point_cnt, bytes(r.png))
           for r in store.current()
           .select("z", "tx", "ty", "point_cnt", "png").collect()}
    full = {(r.z, r.tx, r.ty): (r.point_cnt, bytes(r.png))
            for r in render_tiles(docs, cfg)
            .select("z", "tx", "ty", "point_cnt", "png").collect()}
    assert set(got) == set(full)
    assert (1, 0, 99) not in got, "orphan junk leaked into current()"
    for k in full:
        assert got[k][0] == full[k][0], k
        assert decode_png(got[k][1]).tobytes() == \
            decode_png(full[k][1]).tobytes(), k


def _naive_near_dup(vectors, threshold_micro, n_tables, per, dim, max_bucket):
    """Per-copy reference for embedding_near_dup: bucket EVERY vector
    (no collapse), cap on raw bucket sizes, candidate pairs sharing any
    surviving bucket, sequential-over-dims cosine, round-half-up."""
    import numpy as np

    from gpx2tiles_spark.operators import ann

    planes = ann._hyperplanes(dim, n_tables * per)
    v64 = {vid: np.asarray(v, np.float32).astype(np.float64)
           for vid, v in vectors}
    buckets: dict[tuple[int, int], list[int]] = {}
    for vid, _ in vectors:
        for t in range(n_tables):
            bkt = 0
            for j in range(per):
                p = np.asarray(planes[t * per + j], np.float64)
                acc = 0.0
                for d in range(dim):
                    acc += v64[vid][d] * p[d]
                if acc > 0:
                    bkt |= 1 << j
            buckets.setdefault((t, bkt), []).append(vid)
    cand = set()
    for ids in buckets.values():
        if max_bucket is not None and len(ids) > max_bucket:
            continue
        for a in ids:
            for b in ids:
                if a < b:
                    cand.add((a, b))
    out = {}
    for a, b in cand:
        dot = na = nb = 0.0
        for d in range(dim):
            dot += v64[a][d] * v64[b][d]
            na += v64[a][d] * v64[a][d]
            nb += v64[b][d] * v64[b][d]
        cm = int(np.floor(dot / (np.sqrt(na) * np.sqrt(nb)) * 1e6 + 0.5))
        if cm >= threshold_micro:
            out[(a, b)] = cm
    return out


@pytest.mark.parametrize("max_bucket", [5, None])
def test_near_dup_collapse_matches_naive_per_copy(spark, max_bucket):
    """The round-5 exact-duplicate collapse must be invisible: identical
    output to bucketing/scoring every copy individually — including the
    degenerate-bucket cap crossing (expanded counts), a duplicate group
    LARGER than the cap (capped out of every bucket → zero pairs from
    it), singleton groups, and interleaved member ids."""
    import numpy as np

    from gpx2tiles_spark.operators import ann

    rng = np.random.default_rng(7)
    dim, n_tables, per = 16, 4, 3
    base = rng.normal(size=(12, dim)).astype(np.float32)
    slots = []
    for i in range(len(base)):
        copies = 6 if i == 0 else (i % 4) + 1   # one group > cap(5)
        slots += [i] * copies
    rng.shuffle(slots)                          # interleave ids across groups
    vectors = [(vid, [float(x) for x in base[g]])
               for vid, g in enumerate(slots)]

    df = spark.createDataFrame(vectors, "vec_id int, embedding array<float>")
    got = {(r.vec_a, r.vec_b): r.cos_micro
           for r in ann.embedding_near_dup(
               df, threshold_micro=100_000, n_tables=n_tables,
               planes_per_table=per, dim=dim, max_bucket=max_bucket)
           .collect()}
    want = _naive_near_dup(vectors, 100_000, n_tables, per, dim, max_bucket)
    assert got == want


def test_earth_distance_presincos_bit_identical(spark):
    """earth_distance_presincos_col must equal earth_distance_col
    BITWISE on random coordinates (same doubles through the same op
    tree), including near-identical and near-antipodal pairs."""
    import numpy as np
    from pyspark.sql import functions as F

    from gpx2tiles_spark import projection as P

    rng = np.random.default_rng(11)
    rows = [(float(a), float(b), float(c), float(d))
            for a, b, c, d in zip(rng.uniform(-85, 85, 200),
                                  rng.uniform(-180, 180, 200),
                                  rng.uniform(-85, 85, 200),
                                  rng.uniform(-180, 180, 200))]
    rows += [(48.9157, 8.5038, 48.9157, 8.5038),          # identical
             (45.0, 10.0, -45.0, -170.0)]                 # near-antipodal
    df = spark.createDataFrame(
        rows, "lat1 double, lon1 double, lat2 double, lon2 double")
    out = df.select(
        P.earth_distance_col(F.col("lat1"), F.col("lon1"),
                             F.col("lat2"), F.col("lon2")).alias("ref"),
        P.earth_distance_presincos_col(
            F.sin(F.radians("lat1")), F.cos(F.radians("lat1")),
            F.sin(F.radians("lat2")), F.cos(F.radians("lat2")),
            F.col("lon1"), F.col("lon2")).alias("pre"),
    ).collect()
    for r in out:
        assert r.ref == r.pre or (np.isnan(r.ref) and np.isnan(r.pre))


def _tools():
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for p in (repo, os.path.join(repo, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)


def test_sf10_pair_decade_prediction_identity_minhash(spark):
    """The sf10 decade gate (tools/bench_sf10_pairs.py) verifies the
    100x run against a closed-form copy-grid expansion of a x2 run with
    the cap scaled by the same expanded-size identity.  Prove that
    identity at toy scale with the REAL operator on both sides: a x5
    corpus with cap 5B must equal the expansion of the x2 corpus with
    cap 2B — including buckets the cap drops (an exact-dup group bigger
    than B caps out of every band)."""
    _tools()
    from bench_sf10_pairs import expand_pairs, lift_pairs, tile_copies

    from gpx2tiles_spark.operators import dedup

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = []
    for i in range(9):
        w = list(words)
        if i in (0, 1, 2):         # 3 exact copies -> dup group of 3 > B
            pass
        elif i == 3:
            w[4] = "lambda"        # near-dup of the group (shares shingles)
        else:
            w = [f"{x}{i}" for x in words]  # unique vocab
        texts.append((i, " ".join(w)))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    n = docs.count()

    def pairs(d, cap):
        sh = dedup.doc_shingles(d, n=2)
        sigs = dedup.minhash_signatures(sh, num_hashes=8)
        return dedup.lsh_candidate_pairs(sigs, num_hashes=8, band_size=2,
                                         max_bucket=cap)

    B = 2  # dup group of 3 > B -> its pure buckets cap out at every scale
    actual = pairs(tile_copies(docs, "doc_id", 5, n), 5 * B)
    cross, within = lift_pairs(pairs(tile_copies(docs, "doc_id", 2, n), 2 * B),
                               n, "doc_a", "doc_b")
    pred = expand_pairs(cross, within, n, 5, "doc_a", "doc_b")
    assert_same_multiset(actual, pred)
    got = actual.count()
    assert got > 0
    # the cap must actually have dropped something: uncapped x5 is bigger
    assert pairs(tile_copies(docs, "doc_id", 5, n), None).count() > got


def test_sf10_pair_decade_prediction_identity_near_dup(spark):
    """Same identity for embedding_near_dup, where the cap counts
    EXPANDED group sizes: x5/cap 5B == expand(x2/cap 2B), with crowded
    buckets (4 per table) so the degenerate-bucket guard fires."""
    _tools()
    from bench_sf10_pairs import expand_pairs, lift_pairs, tile_copies

    from gpx2tiles_spark.operators import ann

    rng = np.random.default_rng(17)
    dim = 8
    base = rng.normal(size=(11, dim)).astype(np.float32)
    base[3] = base[0] + rng.normal(scale=0.01, size=dim).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(len(base))],
        "vec_id long, embedding array<float>")
    n = vecs.count()

    def run(d, cap):
        return ann.embedding_near_dup(d, threshold_micro=100_000,
                                      n_tables=4, planes_per_table=2,
                                      dim=dim, max_bucket=cap)

    B = 3  # ~11 reps over 4 buckets/table -> some buckets exceed B
    actual = run(tile_copies(vecs, "vec_id", 5, n), 5 * B)
    cross, within = lift_pairs(run(tile_copies(vecs, "vec_id", 2, n), 2 * B),
                               n, "vec_a", "vec_b")
    pred = expand_pairs(cross, within, n, 5, "vec_a", "vec_b")
    assert_same_multiset(actual, pred)
    got = actual.count()
    assert got > 0
    assert run(tile_copies(vecs, "vec_id", 5, n), None).count() > got


def _uf_min_labels(edges):
    """Union-find reference: node -> component-min, nodes = edge endpoints."""
    nodes = sorted({x for e in edges for x in e})
    p = {x: x for x in nodes}

    def find(x):
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            p[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for x in nodes:
        comp.setdefault(find(x), []).append(x)
    return {x: min(mem) for mem in comp.values() for x in mem}


@pytest.mark.parametrize("n_edges,seed", [(6, 0), (25, 1), (80, 2), (300, 3)])
def test_connected_components_matches_union_find(spark, n_edges, seed):
    """Large-Star/Small-Star cluster formation == union-find min-label
    on random graphs across densities (forest -> single giant blob)."""
    from gpx2tiles_spark.operators import dedup

    rng = np.random.default_rng(seed)
    edges = set()
    while len(edges) < n_edges:
        a, b = (int(x) for x in rng.integers(0, 45, 2))
        if a != b:
            edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id
           for r in dedup.connected_components(df).collect()}
    assert got == _uf_min_labels(edges)


def test_connected_components_chain_converges_logarithmically(spark):
    """A 64-node path is the diameter worst case: naive min-propagation
    needs ~64 rounds; the alternating star algorithm must finish well
    inside its 30-round guard (O(log n)) and label everything 0."""
    from gpx2tiles_spark.operators import dedup

    df = spark.createDataFrame([(i, i + 1) for i in range(63)],
                               "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id
           for r in dedup.connected_components(df, max_iter=12).collect()}
    assert got == {i: 0 for i in range(64)}


def test_connected_components_outputs_one_row_per_doc(spark):
    """Exactly one label per distinct endpoint; self/duplicate pairs
    collapse; docs in no pair are absent by contract."""
    from gpx2tiles_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3), (5, 9), (9, 5), (5, 9)],
        "doc_a long, doc_b long")
    rows = dedup.connected_components(df).collect()
    got = {r.doc_id: r.cluster_id for r in rows}
    assert len(rows) == len(got) == 4          # 3 dropped (self), one row each
    assert got == {1: 1, 2: 1, 5: 5, 9: 5}


# ---------------------------------------------------------------------------
# DBSCAN + track-Hausdorff (round-5 spatial additions)
# ---------------------------------------------------------------------------

def _naive_dbscan(pts, eps, min_pts):
    """Textbook O(n²) DBSCAN with the operator's deterministic label
    rules: cluster id = min pid over the core-core component, border =
    min label among core neighbors, noise absent."""
    eps2 = eps * eps
    ids = [p[0] for p in pts]
    pos = {p[0]: (p[1], p[2]) for p in pts}

    def d2(a, b):
        (la, oa), (lb, ob) = pos[a], pos[b]
        return (la - lb) * (la - lb) + (oa - ob) * (oa - ob)

    neigh = {i: [j for j in ids if d2(i, j) <= eps2] for i in ids}
    core = {i for i in ids if len(neigh[i]) >= min_pts}
    parent = {i: i for i in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in core:
        for j in neigh[i]:
            if j in core and j != i:
                parent[find(i)] = find(j)
    comp = {}
    for i in core:
        comp.setdefault(find(i), []).append(i)
    label = {}
    for members in comp.values():
        m = min(members)
        for i in members:
            label[i] = m
    out = {i: (label[i], 1) for i in core}
    for i in ids:
        if i in core:
            continue
        cands = [label[j] for j in neigh[i] if j in core]
        if cands:
            out[i] = (min(cands), 0)
    return out


@pytest.mark.parametrize("seed,min_pts", [(7, 3), (11, 4)])
def test_dbscan_matches_naive(spark, seed, min_pts):
    from gpx2tiles_spark.operators import geo

    rng = np.random.default_rng(seed)
    pts = [(int(i), float(lat), float(lon)) for i, (lat, lon) in
           enumerate(zip(rng.uniform(-40, 40, 250), rng.uniform(-90, 90, 250)))]
    # a dense blob to guarantee cores + a border satellite
    pts += [(1000 + k, 10.0 + 0.01 * k, 20.0 + 0.01 * k) for k in range(6)]
    df = spark.createDataFrame(pts, "pid long, lat double, lon double")
    eps = 6.0
    got = {r.pid: (r.cluster_id, r.is_core)
           for r in geo.dbscan(df, eps=eps, min_pts=min_pts).collect()}
    want = _naive_dbscan(pts, eps, min_pts)
    assert got == want
    assert any(c == 0 for _, c in want.values()) or min_pts == 3
    assert sum(c for _, c in want.values()) > 0  # cores exist


def test_dbscan_all_noise_is_empty(spark):
    from gpx2tiles_spark.operators import geo

    pts = [(i, float(10 * i), float(-100 + 17 * i)) for i in range(8)]
    df = spark.createDataFrame(pts, "pid long, lat double, lon double")
    assert geo.dbscan(df, eps=0.5, min_pts=3).count() == 0


def test_dbscan_colocated_duplicates_form_core(spark):
    """Exact co-located duplicates are ε-neighbors at any ε — the
    degenerate shape sf10 tiling produces; they must clique into one
    cluster labeled by the minimum pid."""
    from gpx2tiles_spark.operators import geo

    pts = [(i, 5.0, 5.0) for i in (4, 9, 2)] + [(77, 60.0, 60.0)]
    df = spark.createDataFrame(pts, "pid long, lat double, lon double")
    got = {r.pid: (r.cluster_id, r.is_core)
           for r in geo.dbscan(df, eps=0.1, min_pts=3).collect()}
    assert got == {2: (2, 1), 4: (2, 1), 9: (2, 1)}


def _naive_hausdorff(tracks, z, min_shared):
    import math as _m

    from gpx2tiles_spark import projection as P

    cells = {u: {(int(P.lon_to_tilex(np.array([lon]), z)[0]),
                  int(P.lat_to_tiley(np.array([lat]), z)[0]))
                 for _, lat, lon in tps} for u, tps in tracks.items()}
    out = {}
    for ua in sorted(tracks):
        for ub in sorted(tracks):
            if ua >= ub:
                continue
            shared = len(cells[ua] & cells[ub])
            if shared < min_shared:
                continue

            def h(xs, ys):
                return max(min((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
                               for _, xb, yb in ys) for _, xa, ya in xs)

            hm = max(h(tracks[ua], tracks[ub]), h(tracks[ub], tracks[ua]))
            out[(ua, ub)] = (shared, int(_m.floor(hm * 1000000.0)))
    return out


def test_track_hausdorff_matches_naive(spark):
    from gpx2tiles_spark.operators import geo

    rng = np.random.default_rng(3)
    tracks = {}
    pid = 0
    for u in range(6):
        base_lat, base_lon = rng.uniform(-30, 30), rng.uniform(-60, 60)
        tps = []
        for _ in range(12):
            tps.append((pid, float(base_lat + rng.uniform(-2, 2)),
                        float(base_lon + rng.uniform(-2, 2))))
            pid += 1
        tracks[u] = tps
    # user 6 = a shifted near-copy of user 0 (the near-dup this exists for)
    tracks[6] = [(pid + k, lat + 0.05, lon + 0.05)
                 for k, (_, lat, lon) in enumerate(tracks[0])]
    rows = [(u, p, lat, lon) for u, tps in tracks.items()
            for p, lat, lon in tps]
    df = spark.createDataFrame(
        rows, "user_id long, pid long, lat double, lon double")
    got = {(r.ua, r.ub): (r.n_shared, r.hausdorff_micro)
           for r in geo.track_hausdorff(
               df, z=6, min_shared=1, max_pairs_per_track=100).collect()}
    want = _naive_hausdorff(tracks, z=6, min_shared=1)
    assert got == want
    assert (0, 6) in want and want[(0, 6)][1] <= 5000 + 1  # near-copy is close


def test_track_hausdorff_pair_budget_keeps_top_overlaps(spark):
    """The per-track verify budget keeps each ua's most-overlapping
    partners with the deterministic (n_shared desc, ub asc) order."""
    from gpx2tiles_spark.operators import geo

    # user 0 overlaps users 1..5 with decreasing overlap; cap 2 must
    # keep exactly the two largest (ub = 1, 2)
    rows = []
    pid = 0
    for u in range(6):
        n_cells = 12 if u == 0 else 12 - 2 * (u - 1)   # 12,12,10,8,6,4
        for c in range(n_cells):
            rows.append((u, pid, 10.0 + 5.0 * c, -60.0)); pid += 1
    df = spark.createDataFrame(
        rows, "user_id long, pid long, lat double, lon double")
    got = geo.track_hausdorff(df, z=4, min_shared=1,
                              max_pairs_per_track=2).collect()
    kept = sorted((r.ua, r.ub) for r in got)
    assert (0, 1) in kept and (0, 2) in kept
    assert all(ub in (1, 2) for ua, ub in kept if ua == 0)


# ---------------------------------------------------------------------------
# Deterministic HLL sketch
# ---------------------------------------------------------------------------

def _hll_est(spark, keys, group="g"):
    from pyspark.sql import functions as F

    from gpx2tiles_spark.operators import sketch

    df = spark.createDataFrame([(g, k) for g, k in keys], "g int, ck string")
    regs = sketch.hll_registers(df, F.col("ck"), [group])
    return {r.g: r.hll_micro / 1e6
            for r in sketch.hll_estimate(regs, [group]).collect()}


def test_hll_accuracy_within_standard_error(spark):
    """Relative error within 4·(1.04/√m) ≈ 26% for m=256 at three
    cardinalities (the standard-error bound; 4σ keeps the fixed seed
    deterministic-safe)."""
    keys = [(i, f"k{i}-{j}") for i, n in enumerate((500, 5000, 50000))
            for j in range(n)]
    got = _hll_est(spark, keys)
    for i, n in enumerate((500, 5000, 50000)):
        assert abs(got[i] - n) / n < 4 * 1.04 / 16, (i, n, got[i])


def test_hll_small_range_linear_counting(spark):
    got = _hll_est(spark, [(0, f"x{j}") for j in range(7)])
    assert abs(got[0] - 7) < 1.0  # linear counting is near-exact here


def test_hll_duplicate_insensitive(spark):
    base = [(0, f"d{j}") for j in range(3000)]
    assert _hll_est(spark, base) == _hll_est(spark, base * 3)


def test_hll_merge_equals_union_sketch(spark):
    from pyspark.sql import functions as F

    from gpx2tiles_spark.operators import sketch

    a = spark.createDataFrame([(0, f"a{j}") for j in range(4000)],
                              "g int, ck string")
    b = spark.createDataFrame([(0, f"a{j}") for j in range(2000, 6000)],
                              "g int, ck string")
    ra = sketch.hll_registers(a, F.col("ck"), ["g"])
    rb = sketch.hll_registers(b, F.col("ck"), ["g"])
    merged = sketch.hll_estimate(sketch.hll_merge(ra, rb, ["g"]), ["g"])
    union = sketch.hll_estimate(
        sketch.hll_registers(a.unionByName(b), F.col("ck"), ["g"]), ["g"])
    assert [tuple(r) for r in merged.collect()] == \
        [tuple(r) for r in union.collect()]


def test_streaming_hll_census_equals_batch(spark):
    """Register max commutes with union ⇒ the converged 2-file replay
    sketch equals the batch sketch BIT-FOR-BIT (same hll_micro), not
    just approximately."""
    from gpx2tiles_spark.queries import _REGISTRY

    batch = {r.z: (r.n_exact, r.hll_micro)
             for r in _REGISTRY["hll_zoom_census"][0](spark, SF_SMOKE).collect()}
    stream = {r.z: (r.n_exact, r.hll_micro)
              for r in _REGISTRY["streaming_hll_census"][0](spark, SF_SMOKE).collect()}
    assert stream == batch and len(batch) == 8


def test_tile_occupancy_quantiles_match_numpy_disc(spark):
    """DISC quantiles must equal numpy's inverted_cdf (selection at
    ceil(q·n)) on the real per-tile count distribution, and be
    monotone p50 ≤ p90 ≤ p99."""
    from gpx2tiles_spark.queries import _REGISTRY, q_tile_counts

    counts = {}
    for r in q_tile_counts(spark, SF_SMOKE).collect():
        counts.setdefault(r.z, []).append(r.point_cnt)
    got = {r.z: r for r in
           _REGISTRY["tile_occupancy_quantiles"][0](spark, SF_SMOKE).collect()}
    assert set(got) == set(counts)
    for z, vals in counts.items():
        v = np.sort(np.array(vals))
        r = got[z]
        assert r.n_tiles == len(v)
        for q, field in ((0.5, r.p50), (0.9, r.p90), (0.99, r.p99)):
            import math as _m
            assert field == v[max(int(_m.ceil(q * len(v))), 1) - 1]
        assert r.p50 <= r.p90 <= r.p99


def test_asof_join_semantics(spark):
    """Hand-built edges: event AT an alert position matches itself
    (gap 0, the >= convention); events before any alert are dropped
    (inner as-of); carry-forward picks the LATEST prior alert per key,
    never a later or other-key one."""
    from gpx2tiles_spark.operators import geo

    ev = spark.createDataFrame(
        [(1, 3), (1, 5), (1, 25), (1, 41), (2, 7), (2, 100), (3, 9)],
        "user_id long, event_id long")
    al = spark.createDataFrame(
        [(1, 5), (1, 40), (2, 100)], "user_id long, aeid long")
    got = sorted((r.user_id, r.event_id, r.aeid, r.gap)
                 for r in geo.asof_join(ev, al).collect())
    assert got == [
        (1, 5, 5, 0),      # at-position match, gap 0
        (1, 25, 5, 20),    # carries the earlier alert forward
        (1, 41, 40, 1),    # latest prior wins
        (2, 100, 100, 0),  # other key isolated
    ]                       # (1,3), (2,7), all of user 3: dropped


def test_range_join_buckets_equals_naive_theta(spark):
    """The bucketed equi-join must be LOSSLESS vs the naive theta join,
    including values exactly at interval boundaries (>= lo inclusive,
    < hi exclusive) and intervals narrower/wider than the bucket."""
    from pyspark.sql import functions as F

    from gpx2tiles_spark.operators import geo

    vals = [0.0, 7.5, 19.999, 20.0, 20.001, 39.9, 40.0, 55.25, 60.0, 99.0]
    facts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "event_id long, value double")
    iv = spark.createDataFrame(
        [(0, 0.0, 20.0), (1, 7.5, 27.5), (2, 20.0, 40.0), (3, 19.0, 21.0),
         (4, 0.0, 100.0), (5, 60.0, 60.0)],   # incl. empty interval
        "band_id int, lo double, hi double")
    got = sorted((r.event_id, r.band_id) for r in
                 geo.range_join_buckets(facts, iv, "value", "lo", "hi",
                                        bucket_width=20.0)
                 .select("event_id", "band_id").collect())
    want = sorted((r.event_id, r.band_id) for r in
                  facts.crossJoin(iv)
                  .filter((F.col("value") >= F.col("lo"))
                          & (F.col("value") < F.col("hi")))
                  .select("event_id", "band_id").collect())
    assert got == want and len(want) > 10


def test_streaming_hll_resumes_from_checkpoint(spark, tmp_path):
    """The north rule's resumability trait applied to the sketch: stop
    the streaming query after file 1, START A NEW QUERY on the same
    checkpoint with file 2 present — the restored register state must
    absorb the second batch and converge to the batch sketch exactly."""
    import time as _time

    from pyspark.sql import functions as F

    from gpx2tiles_spark.operators import sketch

    src = tmp_path / "in"
    src.mkdir()
    ck_dir = str(tmp_path / "ckpt")
    rows1 = [(0, f"k{i}") for i in range(3000)]
    rows2 = [(0, f"k{i}") for i in range(2000, 6000)]   # overlap + new
    spark.createDataFrame(rows1, "g int, ck string").coalesce(1) \
        .write.mode("overwrite").parquet(str(tmp_path / "s1"))
    import glob
    import shutil
    shutil.move(glob.glob(str(tmp_path / "s1" / "part-*.parquet"))[0],
                str(src / "0001.parquet"))

    def start():
        stream = (spark.readStream
                  .schema("g int, ck string")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        return (sketch.hll_registers(stream, F.col("ck"), ["g"])
                .writeStream.format("memory").queryName("shll_resume")
                .option("checkpointLocation", ck_dir)
                .outputMode("complete")
                .trigger(availableNow=True).start())

    q1 = start()
    q1.awaitTermination(120)
    n_after_1 = spark.table("shll_resume").count()
    assert 0 < n_after_1 <= 256

    _time.sleep(1.1)
    spark.createDataFrame(rows2, "g int, ck string").coalesce(1) \
        .write.mode("overwrite").parquet(str(tmp_path / "s2"))
    shutil.move(glob.glob(str(tmp_path / "s2" / "part-*.parquet"))[0],
                str(src / "0002.parquet"))
    q2 = start()                      # NEW query, SAME checkpoint
    q2.awaitTermination(120)

    got = {r.g: r.hll_micro for r in
           sketch.hll_estimate(spark.table("shll_resume"), ["g"]).collect()}
    batch = spark.createDataFrame(rows1 + rows2, "g int, ck string")
    want = {r.g: r.hll_micro for r in sketch.hll_estimate(
        sketch.hll_registers(batch, F.col("ck"), ["g"]), ["g"]).collect()}
    assert got == want               # bit-exact, not approximate
