"""CLI parity tests: the reference's option surface + the GPX file
source, driven with the reference repo's own test GPX file."""

from __future__ import annotations

import glob
import os

import pytest

from gpx2tiles_spark.cli import main, parse_args, parse_thickness

from conftest import REFERENCE_GPX, needs_reference_gpx


def test_thickness_parse_extends():
    th: dict[int, int] = {}
    parse_thickness("12:3+", th)
    assert th == {z: 3 for z in range(12, 20)}
    th2: dict[int, int] = {}
    parse_thickness("5:0", th2)  # 0 → 1, like the reference (:948-949)
    assert th2 == {5: 1}
    with pytest.raises(SystemExit):
        parse_thickness("25:2", {})


def test_flag_mapping():
    cfg, run, files = parse_args(
        ["-z", "3", "-Z", "12", "-H", "-d", "7", "-c", "ff8800",
         "-S", "25", "-p", "11", "-L", "9", "-P", "14", "-T", "64",
         "-v", "a.gpx", "b.gpx"])
    assert (cfg.zoom_min, cfg.zoom_max) == (3, 12)
    assert cfg.heatmap
    assert cfg.diag_shadows and cfg.diag_highlight_cross and cfg.diag_speed_text
    # -c then -S: both write the reference's single set_speed variable,
    # so the LAST one (-S 25) wins (gpx2tiles.c:936-937,962)
    assert cfg.speed_mode == "data" and cfg.forced_speed_kph == 25.0
    assert cfg.fixed_color == 0xFF8800  # fixclr stays stored, inactive
    assert cfg.point_circle_diameter == 11
    assert (cfg.z_no_lines, cfg.z_no_wpts) == (9, 14)
    assert run["verbose"] == 1
    assert files == ["a.gpx", "b.gpx"]
    with pytest.raises(SystemExit):
        parse_args(["-Z", "25"])  # beyond ZOOM_MAX_HARD, like :983-987


def test_c_after_S_wins():
    """Reverse order: -S 30 then -c ff0000 → fixed color active."""
    cfg, _, _ = parse_args(["-S", "30", "-c", "ff0000", "a.gpx"])
    assert cfg.speed_mode == "fixed" and cfg.fixed_color == 0xFF0000
    assert cfg.forced_speed_kph is None


def test_gpx_file_source_relative_paths(spark, tmp_path, monkeypatch):
    """Relative argv paths (the documented drop-in usage run from a data
    dir) must resolve against binaryFile's absolute URIs — no NULL
    doc_ids, painter order preserved."""
    from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list

    xml = ('<gpx><trk><trkseg><trkpt lat="48.0" lon="8.0">'
           "<time>2016-06-25T10:00:01Z</time></trkpt></trkseg></trk></gpx>")
    (tmp_path / "rel.gpx").write_text(xml)
    monkeypatch.chdir(tmp_path)
    rows = read_gpx_file_list(spark, ["rel.gpx"]).collect()
    assert len(rows) == 1
    assert rows[0].doc_id is not None
    assert rows[0].doc_id.startswith("00000000:")
    assert rows[0].doc_id.endswith("rel.gpx")


def test_gpx_file_source_duplicate_path_draws_twice(spark, tmp_path):
    """The reference accepts the same file twice on argv and draws it
    twice; the source replicates the doc with both list indices."""
    from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list

    xml = ('<gpx><trk><trkseg><trkpt lat="48.0" lon="8.0">'
           "<time>2016-06-25T10:00:01Z</time></trkpt></trkseg></trk></gpx>")
    p = tmp_path / "dup.gpx"
    p.write_text(xml)
    rows = read_gpx_file_list(spark, [str(p), str(p)]).collect()
    ids = sorted(r.doc_id for r in rows)
    assert len(ids) == 2
    assert ids[0].startswith("00000000:") and ids[1].startswith("00000001:")
    assert ids[0].endswith("dup.gpx") and ids[1].endswith("dup.gpx")


@needs_reference_gpx
def test_gpx_file_source_matches_spans_table(spark):
    """Reading the reference's own test .gpx through the FILE source
    parses identically to wrapping the same text in the spans table."""
    from gpx2tiles_spark.corpus import SPANS_SCHEMA
    from gpx2tiles_spark.operators.parse import parse_documents
    from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list

    docs_file = read_gpx_file_list(spark, [REFERENCE_GPX])
    row = docs_file.collect()[0]
    assert row.doc_id == f"00000000:{REFERENCE_GPX}"
    assert row.spans[0].kind == "gpx" and "<gpx" in row.spans[0].text

    via_file = parse_documents(docs_file).drop("doc_id") \
        .orderBy("seg_order", "pt_idx").collect()
    text = open(REFERENCE_GPX, encoding="utf-8").read()
    spans_doc = spark.createDataFrame(
        [("x", [{"kind": "gpx", "text": text, "media_ref": None,
                 "offset": 0}])], SPANS_SCHEMA)
    via_spans = parse_documents(spans_doc).drop("doc_id") \
        .orderBy("seg_order", "pt_idx").collect()
    assert via_file == via_spans


@needs_reference_gpx
def test_cli_end_to_end(spark, tmp_path):
    out = str(tmp_path)
    rc = main(["-z", "4", "-Z", "7", "-C", out, REFERENCE_GPX], spark=spark)
    assert rc == 0
    pngs = glob.glob(os.path.join(out, "*", "*", "*.png"))
    assert pngs, "no tiles written"
    zooms = {int(p.split(os.sep)[-3]) for p in pngs}
    assert zooms <= {4, 5, 6, 7} and zooms

    # -I truncates the zoom dirs before re-rendering
    marker = os.path.join(out, "5", "_marker")
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    open(marker, "w").close()
    rc = main(["-z", "4", "-Z", "7", "-C", out, "-I", REFERENCE_GPX],
              spark=spark)
    assert rc == 0 and not os.path.exists(marker)


def test_cli_file_order_sets_painter_order(spark, tmp_path):
    """Two files given in argv order must paint in that order: doc_ids
    are index-prefixed so file-list order == doc-sort order."""
    from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list

    a = tmp_path / "zz_first.gpx"   # lexicographically LAST on purpose
    b = tmp_path / "aa_second.gpx"
    xml = ('<gpx><trk><trkseg><trkpt lat="48.0" lon="8.0">'
           "<time>2016-06-25T10:00:0{i}Z</time></trkpt></trkseg></trk></gpx>")
    a.write_text(xml.format(i=1))
    b.write_text(xml.format(i=2))
    docs = read_gpx_file_list(spark, [str(a), str(b)])
    ids = sorted(r.doc_id for r in docs.collect())
    assert ids[0].endswith("zz_first.gpx") and ids[0].startswith("00000000:")
    assert ids[1].endswith("aa_second.gpx") and ids[1].startswith("00000001:")


def test_stdin_nul_list_appends_after_argv(spark, tmp_path, monkeypatch):
    """-0: NUL-terminated file list on stdin appends AFTER argv files
    (gpx2tiles.c:1040-1045), preserving painter order across both."""
    import io

    from gpx2tiles_spark.cli import main

    xml = ('<gpx><trk><trkseg><trkpt lat="48.0" lon="8.0">'
           "<time>2016-06-25T10:00:01Z</time></trkpt></trkseg></trk></gpx>")
    a, b = tmp_path / "a.gpx", tmp_path / "b.gpx"
    a.write_text(xml)
    b.write_text(xml)
    out = tmp_path / "tiles"
    out.mkdir()

    class FakeStdin:
        buffer = io.BytesIO(f"{b}\0".encode())

    monkeypatch.setattr("sys.stdin", FakeStdin())
    rc = main(["-z", "5", "-Z", "6", "-C", str(out), "-0", str(a)],
              spark=spark)
    assert rc == 0
    import glob as g
    assert g.glob(str(out / "*" / "*" / "*.png"))


def test_gpx_directory_glob_source(spark, tmp_path):
    """Directory/glob input: recursive *.gpx pickup, doc_id = path."""
    from gpx2tiles_spark.sources.gpxfiles import read_gpx_documents

    xml = ('<gpx><trk><trkseg><trkpt lat="48.0" lon="8.0">'
           "<time>2016-06-25T10:00:01Z</time></trkpt></trkseg></trk></gpx>")
    (tmp_path / "sub").mkdir()
    (tmp_path / "one.gpx").write_text(xml)
    (tmp_path / "sub" / "two.gpx").write_text(xml)
    (tmp_path / "ignored.txt").write_text("nope")
    rows = read_gpx_documents(spark, str(tmp_path)).collect()
    names = sorted(r.doc_id.rsplit("/", 1)[-1] for r in rows)
    assert names == ["one.gpx", "two.gpx"]


def _one_point_gpx(path, lat: float, lon: float) -> str:
    path.write_text(f'<gpx><trk><trkseg><trkpt lat="{lat}" lon="{lon}">'
                    "<time>2016-06-25T10:00:01Z</time></trkpt></trkseg>"
                    "</trk></gpx>")
    return str(path)


def _painted(out) -> int:
    from gpx2tiles_spark.pngcodec import decode_png

    return sum(int((decode_png(open(p, "rb").read())[..., 3] != 0).sum())
               for p in glob.glob(os.path.join(str(out), "*", "*", "*.png")))


def test_cli_draws_over_existing_tiles(spark, tmp_path):
    """Without -I a second run draws over the tiles already under -C, as
    the reference does: two one-point files in one z3 tile, rendered by
    two runs into one directory, paint what one run with both paints."""
    from gpx2tiles_spark.cli import existing_tiles

    a = _one_point_gpx(tmp_path / "a.gpx", 48.0, 8.0)
    b = _one_point_gpx(tmp_path / "b.gpx", 48.0, 9.0)
    two, one = tmp_path / "two_runs", tmp_path / "one_run"
    two.mkdir()
    one.mkdir()
    cfg = parse_args(["-z", "3", "-Z", "3", "-C", str(two), a])[0]
    assert existing_tiles(spark, str(two), cfg) is None  # no job, no store
    assert main(["-z", "3", "-Z", "3", "-C", str(two), a], spark=spark) == 0
    assert main(["-z", "3", "-Z", "3", "-C", str(two), b], spark=spark) == 0
    assert main(["-z", "3", "-Z", "3", "-C", str(one), a, b],
                spark=spark) == 0
    assert len(glob.glob(str(two / "3" / "*" / "*.png"))) == 1
    assert _painted(two) == _painted(one) == 2


def test_cli_leaves_no_cache(spark, tmp_path):
    """A CLI render inside a caller's session releases what it cached."""
    a = _one_point_gpx(tmp_path / "a.gpx", 48.0, 8.0)
    out = tmp_path / "tiles"
    out.mkdir()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    assert main(["-z", "3", "-Z", "6", "-v", "-C", str(out), a],
                spark=spark) == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(jsc.getPersistentRDDs().keys()) == before
