"""Round-2 operator tests: heatmap no-lines + hit-count merge, PDOP
diagnostic ellipse (F8), A1/A2 waypoint zoom gate, LSH bucket cap,
banded simhash join, delta snapshots, multimodal hashable output."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import assert_same_multiset, render_tiles
from pyspark.sql import functions as F

from gpx2tiles_spark.config import EngineConfig, PDOP_ALPHA
from gpx2tiles_spark.corpus import SPANS_SCHEMA, generate_documents
from gpx2tiles_spark.operators import dedup
from gpx2tiles_spark.operators.events import (ET_LINE, ET_PDOP, ET_STAMP,
                                              build_events)
from gpx2tiles_spark.operators.parse import parse_documents
from gpx2tiles_spark.operators.raster import (_fold_arrays,
                                              _rasterize_partitions,
                                              rasterize)
from gpx2tiles_spark.operators.tiles import tile_point_counts
from gpx2tiles_spark.pngcodec import blank_tile, decode_png


# --- heatmap -----------------------------------------------------------------

def _event_cols(n, rng, z=5):
    return {
        "z": np.full(n, z, np.int32),
        "etype": np.full(n, ET_STAMP, np.int32),
        "x1": rng.integers(0, 256, n).astype(np.int32),
        "y1": rng.integers(0, 256, n).astype(np.int32),
        "x2": np.zeros(n, np.int32),
        "y2": np.zeros(n, np.int32),
        "color": np.full(n, -1, np.int64),
    }


def test_heatmap_hitcount_equals_sequential_fold():
    # base=None takes the hit-count path; base=blank_tile() is the same
    # starting canvas but forces the sequential read→intensify→write loop
    cfg = EngineConfig(heatmap=True)
    rng = np.random.default_rng(3)
    cols = _event_cols(4000, rng)  # heavy duplication on 256² pixels
    cols["x1"] = (cols["x1"] % 40).astype(np.int32)  # force >15 hits/pixel
    cols["y1"] = (cols["y1"] % 40).astype(np.int32)
    fast, n1 = _fold_arrays(cols, 0, 4000, cfg, None)
    slow, n2 = _fold_arrays(cols, 0, 4000, cfg, blank_tile())
    assert n1 == n2 == 4000
    assert fast.tobytes() == slow.tobytes()


def test_heatmap_never_draws_lines(spark):
    cfg = EngineConfig(zoom_min=1, zoom_max=8, heatmap=True)
    docs = generate_documents(spark, 6, partitions=2).cache()
    ev = build_events(parse_documents(docs), cfg)
    assert ev.filter(F.col("etype") == ET_LINE).count() == 0
    # and the relational counts renderer equals the mapInPandas fold
    tiles_split = {(r.z, r.tx, r.ty): r for r in rasterize(ev, cfg).collect()}
    tiles_fold = {(r.z, r.tx, r.ty): r
                  for r in _rasterize_partitions(ev, cfg).collect()}
    assert set(tiles_split) == set(tiles_fold)
    for k, r in tiles_split.items():
        o = tiles_fold[k]
        assert (r.point_cnt, r.n_events, r.n_docs) == \
            (o.point_cnt, o.n_events, o.n_docs), k
        assert decode_png(bytes(r.png)).tobytes() == \
            decode_png(bytes(o.png)).tobytes(), k
    # painted pixels == distinct stamp pixels (stamps only, no lines)
    anyk = next(iter(tiles_split))
    ev_rows = ev.filter((F.col("z") == anyk[0]) & (F.col("tx") == anyk[1])
                        & (F.col("ty") == anyk[2])).collect()
    img = decode_png(bytes(tiles_split[anyk].png))
    assert int((img[..., 3] != 0).sum()) == len({(r.x1, r.y1) for r in ev_rows})


# --- PDOP diagnostic ellipse (F8) ---------------------------------------------

PDOP_XML = """<gpx><trk><trkseg>
<trkpt lat="48.915" lon="8.503"><time>2016-06-25T10:00:00Z</time><pdop>2.5</pdop></trkpt>
<trkpt lat="48.9155" lon="8.5035"><time>2016-06-25T10:00:30Z</time><pdop>1.2</pdop></trkpt>
</trkseg></trk></gpx>"""


@pytest.fixture(scope="module")
def pdop_doc(spark):
    rows = [("pdop0", [{"kind": "gpx", "text": PDOP_XML, "media_ref": None,
                        "offset": 0}])]
    return spark.createDataFrame(rows, SPANS_SCHEMA)


def test_pdop_events_gated(spark, pdop_doc):
    cfg = EngineConfig(zoom_min=16, zoom_max=18)
    ev = build_events(parse_documents(pdop_doc), cfg)
    pd_ev = ev.filter(F.col("etype") == ET_PDOP).collect()
    # only the pdop=2.5 point, only at z >= 17 → exactly 2 events
    assert len(pd_ev) == 2
    assert sorted(r.z for r in pd_ev) == [17, 18]
    assert all(r.x2 == 7 for r in pd_ev)  # d = floor(2.5 * 3)


def test_pdop_ellipse_rendered(spark, pdop_doc):
    from gpx2tiles_spark import draw
    cfg = EngineConfig(zoom_min=17, zoom_max=17)
    tiles = render_tiles(pdop_doc, cfg).collect()
    ev = build_events(parse_documents(pdop_doc), cfg)
    r = ev.filter(F.col("etype") == ET_PDOP).collect()[0]
    tile = next(t for t in tiles if (t.z, t.tx, t.ty) == (r.z, r.tx, r.ty))
    img = decode_png(bytes(tile.png))
    # the ellipse's right extreme pixel (cx + d>>1, cy): blended once onto
    # untouched (gd-opaque-black) canvas with alpha 20
    ex, ey = r.x1 + (r.x2 >> 1), r.y1
    expect = int(draw.gd_alpha_blend(np.asarray(0), int(r.color), PDOP_ALPHA))
    if 0 <= ex < 256 and 0 <= ey < 256:
        got = img[ey, ex]
        assert (int(got[0]), int(got[1]), int(got[2])) == \
            ((expect >> 16) & 0xFF, (expect >> 8) & 0xFF, expect & 0xFF)


def _per_kind_union_events(points, cfg):
    """The reference for build_events: one relation per event kind,
    unioned — track stamps, same-tile lines, PDOP / -d1 shadow ellipses
    and cross-tile lines off a track-only pair relation; waypoint
    stamps, circles and PDOP ellipses off a separate waypoint relation;
    the -d4 text over both."""
    from gpx2tiles_spark.config import (HIGHLIGHT_COLOR, PDOP_MIN_Z,
                                        PDOP_THRESHOLD, SHADOW_COLOR,
                                        TILE_H, TILE_W)
    from gpx2tiles_spark.operators.events import (
        _KEY, _speed_text_events, _wpt_circles, crossing_tile_col,
        paired_points, point_color_col, with_pair_tiles)
    from gpx2tiles_spark.operators.tiles import (with_pixel, with_tile_pixel,
                                                 with_zooms)

    def _stamps(pix, color):
        return pix.select(*_KEY, F.lit(ET_STAMP).alias("etype"),
                          F.col("px").alias("x1"), F.col("py").alias("y1"),
                          F.lit(0).alias("x2"), F.lit(0).alias("y2"), color)

    def _pdop_events(pts, cfg, color):
        pdop_cond = (
            (F.col("z") >= F.lit(PDOP_MIN_Z))
            & (F.col("flags").bitwiseAND(F.lit(64)) != 0)
            & (F.col("pdop") > F.lit(PDOP_THRESHOLD))
        )
        key = [*_KEY, F.lit(ET_PDOP).alias("etype"),
               F.col("px").alias("x1"), F.col("py").alias("y1")]
        out = pts.filter(pdop_cond).select(
            *key,
            F.floor(F.col("pdop") * F.lit(3.0)).cast("int").alias("x2"),
            F.lit(0).alias("y2"), color,
        )
        if cfg.diag_shadows:
            shadows = pts.filter(~pdop_cond).select(
                *key, F.lit(5).alias("x2"), F.lit(0).alias("y2"),
                F.lit(SHADOW_COLOR).alias("color"),
            )
            out = out.unionByName(shadows)
        return out

    zmax = max(cfg.zooms())
    lines_possible = (not cfg.heatmap) and zmax >= cfg.z_no_lines
    wpts_possible = zmax > cfg.z_no_wpts
    pdop_possible = zmax >= PDOP_MIN_Z or cfg.diag_shadows
    trk = with_pair_tiles(
        paired_points(points.filter(F.col("kind") == "trkpt")), cfg)
    color = (F.lit(-1) if cfg.heatmap else point_color_col(cfg)).alias("color")
    can_line = (
        F.lit(not cfg.heatmap)
        & F.col("prev_lat").isNotNull()
        & (F.col("z") >= F.lit(cfg.z_no_lines))
        & ~((F.col("flags").bitwiseAND(F.lit(8)) != 0)
            & (F.col("speed") * F.lit(3.6) < F.lit(cfg.no_lines_speed_kph)))
    )
    same_tile = (F.col("tx") == F.col("p_tx")) & (F.col("ty") == F.col("p_ty"))

    out = _stamps(with_pixel(trk), color)
    if lines_possible:
        same = with_pixel(with_pixel(trk.filter(can_line & same_tile)),
                          lat="prev_lat", lon="prev_lon", prefix="p_")
        out = out.unionByName(same.filter(
            (F.col("px") != F.col("p_px")) | (F.col("py") != F.col("p_py"))
        ).select(*_KEY, F.lit(ET_LINE).alias("etype"),
                 F.col("px").alias("x1"), F.col("py").alias("y1"),
                 F.col("p_px").alias("x2"), F.col("p_py").alias("y2"), color))
        cross = (
            with_pixel(with_pixel(trk.filter(can_line & ~same_tile)),
                       lat="prev_lat", lon="prev_lon", prefix="p_")
            .withColumn("cx", F.explode(F.sequence(F.col("p_tx"), F.col("tx"))))
            .withColumn("cy", F.explode(F.sequence(F.col("p_ty"), F.col("ty"))))
            .withColumn("lx1", F.col("p_px") - F.lit(TILE_W) * (F.col("cx") - F.col("p_tx")))
            .withColumn("ly1", F.col("p_py") - F.lit(TILE_H) * (F.col("cy") - F.col("p_ty")))
            .withColumn("lx2", F.col("px") - F.lit(TILE_W) * (F.col("cx") - F.col("tx")))
            .withColumn("ly2", F.col("py") - F.lit(TILE_H) * (F.col("cy") - F.col("ty")))
            .filter(crossing_tile_col(F.col("lx1"), F.col("ly1"),
                                      F.col("lx2"), F.col("ly2")))
        )
        cl_color = (F.lit(HIGHLIGHT_COLOR).alias("color")
                    if cfg.diag_highlight_cross else color)
        out = out.unionByName(cross.select(
            F.col("z"), F.col("cx").alias("tx"), F.col("cy").alias("ty"),
            F.col("doc_id"), F.col("seg_order"), F.col("pt_idx"),
            F.lit(ET_LINE).alias("etype"),
            F.col("lx1").alias("x1"), F.col("ly1").alias("y1"),
            F.col("lx2").alias("x2"), F.col("ly2").alias("y2"), cl_color,
        ))
    if pdop_possible:
        out = out.unionByName(_pdop_events(with_pixel(trk), cfg, color)
                              .select(*out.columns))

    wpts = points.filter(F.col("kind") == "wpt")
    wz = with_tile_pixel(with_zooms(wpts, cfg)).filter(
        F.col("z") > F.lit(cfg.z_no_wpts)
    )
    if wpts_possible:
        out = out.unionByName(_stamps(wz, color).select(*out.columns)) \
                 .unionByName(_wpt_circles(wz, cfg).select(*out.columns))
        if pdop_possible:
            out = out.unionByName(
                _pdop_events(wz, cfg, color).select(*out.columns))
    if cfg.diag_speed_text:
        cols = [*_KEY, "px", "py", "speed"]
        out = out.unionByName(_speed_text_events(
            with_pixel(trk).select(*cols).unionByName(wz.select(*cols)))
            .select(*out.columns))
    return out


WPT_PDOP_XML = """<gpx>
<wpt lat="48.915" lon="8.503"><pdop>2.5</pdop></wpt>
<wpt lat="48.9153" lon="8.5034"><speed>4.0</speed></wpt>
<wpt lat="48.95" lon="8.61"><pdop>3.4</pdop></wpt>
<wpt lat="48.93" lon="8.55"></wpt>
<trk><trkseg>
<trkpt lat="48.915" lon="8.503"><time>2016-06-25T10:00:00Z</time><pdop>2.5</pdop></trkpt>
<trkpt lat="48.9155" lon="8.5035"><time>2016-06-25T10:00:30Z</time><pdop>1.2</pdop></trkpt>
<trkpt lat="48.921" lon="8.512"><time>2016-06-25T10:01:30Z</time><pdop>4.0</pdop></trkpt>
</trkseg></trk></gpx>"""


@pytest.fixture(scope="module")
def wpt_pdop_points(spark):
    """Generated documents plus one whose four waypoints chain across
    tiles, with PDOP-flagged track points and waypoints."""
    doc = spark.createDataFrame(
        [("wptpdop", [{"kind": "gpx", "text": WPT_PDOP_XML,
                       "media_ref": None, "offset": 0}])], SPANS_SCHEMA)
    points = parse_documents(
        generate_documents(spark, 6, partitions=2).unionByName(doc)).persist()
    yield points
    points.unpersist()


@pytest.mark.parametrize("argv", [
    [], ["-H"], ["-d", "1"], ["-d", "7"],
    ["-H", "-d", "4", "-z", "12", "-Z", "18"],
    ["-z", "1", "-Z", "6"], ["-z", "5", "-Z", "8"], ["-z", "16", "-Z", "18"],
    ["-P", "10", "-c", "ff8000"], ["-S", "30", "-L", "3"],
    ["-d", "1", "-z", "1", "-Z", "4"],
], ids=lambda argv: "".join(argv) or "default")
def test_build_events_equal_per_kind_union(spark, wpt_pdop_points, argv):
    """build_events' one point pass over the shared draw relation holds
    the same event rows as the per-kind union, for track points and
    waypoints, in every mode."""
    from gpx2tiles_spark.cli import parse_args

    cfg = parse_args(argv)[0]
    points = wpt_pdop_points
    kinds = {(r.kind, r.pdop_flag) for r in points.select(
        "kind", ((F.col("flags").bitwiseAND(F.lit(64)) != 0)
                 & (F.col("pdop") > 1.8)).alias("pdop_flag"))
        .distinct().collect()}
    assert kinds == {(k, f) for k in ("trkpt", "wpt") for f in (False, True)}
    assert_same_multiset(build_events(points, cfg),
                         _per_kind_union_events(points, cfg))


# --- A1/A2 waypoint zoom gate --------------------------------------------------

def test_tile_point_counts_match_render(spark):
    cfg = EngineConfig(zoom_min=14, zoom_max=18)
    docs = generate_documents(spark, 9, partitions=2).cache()
    points = parse_documents(docs)
    assert points.filter(F.col("kind") == "wpt").count() > 0
    a1 = {(r.z, r.tx, r.ty): r.point_cnt
          for r in tile_point_counts(points, cfg).collect()}
    rendered = {(r.z, r.tx, r.ty): r.point_cnt
                for r in render_tiles(docs, cfg).collect()}
    # every A1 tile matches the render's point_cnt; render-only tiles are
    # line-crossing neighbors with zero stamps
    for k, v in a1.items():
        assert rendered[k] == v, k
    for k in set(rendered) - set(a1):
        assert rendered[k] == 0, k


# --- LSH bucket cap -------------------------------------------------------------

def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    # 600 identical empty docs + 8 distinct docs: without the cap the empty
    # cluster alone emits ~180k candidate pairs; with it, only the healthy
    # buckets join
    rows = [(i, "") for i in range(600)] + \
           [(1000 + i, f"unique text number {i} with words {i * 7}")
            for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup.doc_shingles(docs, n=3)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    capped = dedup.lsh_candidate_pairs(sigs, 8, 2, max_bucket=100)
    assert capped.count() < 100


def test_simhash_banded_equals_bruteforce(spark):
    docs = spark.createDataFrame(
        [(i, f"word{i % 5} common tokens here plus word{i % 3}")
         for i in range(60)], ["doc_id", "text"])
    sims = dedup.simhash16(docs).cache()
    banded = {(r.doc_a, r.doc_b, r.hamming)
              for r in dedup.simhash_hamming_pairs(sims, 4).collect()}
    a, b = sims.alias("a"), sims.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {(r.doc_a, r.doc_b, r.hamming) for r in
             a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     ham.cast("int").alias("hamming"))
             .filter(F.col("hamming") <= 4).collect()}
    assert banded == brute and len(brute) > 0


def test_simhash_banded_plan_has_no_theta_join(spark):
    docs = spark.createDataFrame([(i, f"t {i}") for i in range(10)],
                                 ["doc_id", "text"])
    plan = dedup.simhash_hamming_pairs(dedup.simhash16(docs), 4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- delta snapshots -------------------------------------------------------------

def test_delta_snapshots_write_only_touched_tiles(spark, tmp_path):
    from gpx2tiles_spark.streaming.incremental import TileStore
    cfg = EngineConfig(zoom_min=1, zoom_max=6)
    store = TileStore(spark, str(tmp_path / "delta_store"))
    docs = generate_documents(spark, 8, partitions=2).cache()
    half1 = docs.filter(F.col("doc_id") < "doc00000004")
    half2 = docs.filter(F.col("doc_id") >= "doc00000004")
    store.apply_batch("b0", half1, cfg)
    store.apply_batch("b1", half2, cfg)
    m = store.manifest()
    # per-batch write volume ∝ tiles TOUCHED by that batch, not the store:
    # snapshot 1 must not contain batch-0-only tiles
    ev2 = build_events(parse_documents(half2), cfg)
    touched2 = ev2.select("z", "tx", "ty").distinct().count()
    assert m["snapshots"][1]["n_tiles"] == touched2
    total = store.current().count()
    assert total > touched2  # batch-0-only tiles live only in snapshot 0
    # current() == one-shot render
    full = {(r.z, r.tx, r.ty): (r.point_cnt, bytes(r.png))
            for r in render_tiles(docs, cfg).collect()}
    got = {(r.z, r.tx, r.ty): (r.point_cnt, bytes(r.png))
           for r in store.current().collect()}
    assert set(got) == set(full)
    for k in full:
        assert got[k][0] == full[k][0]
        assert decode_png(got[k][1]).tobytes() == decode_png(full[k][1]).tobytes()


def test_compaction_folds_snapshots(spark, tmp_path):
    from gpx2tiles_spark.streaming.incremental import TileStore
    cfg = EngineConfig(zoom_min=1, zoom_max=5)
    store = TileStore(spark, str(tmp_path / "compact_store"))
    docs = generate_documents(spark, 6, partitions=2).cache()
    for i in range(3):
        batch = docs.filter(
            (F.xxhash64("doc_id") % 3 == i) | (F.col("doc_id") == f"doc0000000{2 * i}"))
        store.apply_batch(f"c{i}", batch, cfg)
    before = {(r.z, r.tx, r.ty): r.point_cnt for r in store.current().collect()}
    entry = store.compact()
    assert entry is not None and entry["kind"] == "compact"
    assert len(store._live()) == 1  # reads now touch one snapshot
    after = {(r.z, r.tx, r.ty): r.point_cnt for r in store.current().collect()}
    assert before == after


# --- multimodal ------------------------------------------------------------------

def test_multimodal_queries_hashable_and_green(spark):
    from gpx2tiles_spark.queries import oracle_sql, queries
    import duckdb

    q = queries()
    feats = q["multimodal_features"](spark, "/root/testdata/sf0.001").toPandas()
    assert len(feats) > 0
    # every column hashable (driver canonicalizer sorts all columns)
    feats.sort_values(list(sorted(feats.columns)))
    assert feats["feature_csv"].str.contains(",").all()

    meta = q["multimodal_meta"](spark, "/root/testdata/sf0.001")
    got = meta.toPandas().sort_values(["doc_id"]).reset_index(drop=True)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                "'/root/testdata/sf0.001/documents.parquet')")
    want = con.execute(oracle_sql()["multimodal_meta"]).df() \
        .sort_values(["doc_id"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    for c in ["doc_id", "media_ref", "n_bytes", "width", "height"]:
        assert got[c].tolist() == want[c].tolist(), c


# --- S8 text dump -----------------------------------------------------------------

def test_dump_text_format(spark, tmp_path, pdop_doc):
    from gpx2tiles_spark.operators.dump import write_dump, zoom_census_lines
    points = parse_documents(pdop_doc)
    out = str(tmp_path / "dump.txt")
    write_dump(points, EngineConfig(), out, zoom_max=18)
    text = open(out).read()
    # header: From <doc> (<cnt>); 2 parsed points
    assert text.startswith("From pdop0 (2)\n")
    # point line: " <seg> (<src>): %f,%f <time>"
    assert " 0 (): 48.915000,8.503000 2016-06-25T10:00:00Z\n" in text
    # 18-zoom tile list with the 60-col wrap: z1..z18 all present
    assert " 1/1/0" in text and " 18/" in text
    # the wrap breaks the tile list into multiple lines (total ~170 chars)
    tile_section = text.split("2016-06-25T10:00:00Z\n")[1].split(" spd")[0]
    assert tile_section.count("\n") >= 2
    # pdop diagnostic line on the first point (flags keep PDOP there;
    # speed synthesis overwrites the SECOND point's flags to SPEED-only)
    assert " pdop 2.500000" in text
    assert "  spd " in text  # synthesized speed printed for point 2
    census = {r.z: r.census for r in
              zoom_census_lines(points, EngineConfig(zoom_min=1, zoom_max=3)).collect()}
    assert set(census) == {1, 2, 3}
    assert census[1].startswith(" ") and "(2)" in census[1]
