"""The render's fixed costs: the Python workers' zip-importer cache, the
driver-side listing of a CLI-sized file list, and the one-pass tile
sink (fold → files, nothing cached or read back)."""

from __future__ import annotations

import importlib
import os
import re
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gpx2tiles_spark import _zipcache
from gpx2tiles_spark.cli import main
from gpx2tiles_spark.config import EngineConfig
from gpx2tiles_spark.corpus import generate_documents
from gpx2tiles_spark.operators.events import build_events
from gpx2tiles_spark.operators.parse import parse_documents
from gpx2tiles_spark.operators.raster import rasterize
from gpx2tiles_spark.plans.pipeline import render_pyramid
from gpx2tiles_spark.pngcodec import decode_png
from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list
from gpx2tiles_spark.sources.tilestore import read_tile_pyramid

_ZIP_MODULES = ("zc_mod_a", "zc_mod_b", "zc_pkg", "zc_pkg.sub", "zc_pkg.extra")


def _write_zip(path, names) -> None:
    with zipfile.ZipFile(path, "w") as z:  # truncates in place: same inode
        for name in names:
            z.writestr(name, f"VALUE = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip of modules on sys.path, imported through two zipimporters
    (the archive root and its package directory), with the cache patch
    installed for this test only."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["zc_mod_a.py", "zc_pkg/__init__.py", "zc_pkg/sub.py"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zc_mod_a")
    importlib.import_module("zc_pkg.sub")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for m in _ZIP_MODULES:
        sys.modules.pop(m, None)


def test_zip_cache_skips_unchanged_archive(zip_on_path):
    path, reads = zip_on_path
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):  # the cost the patch removes
        assert reads.count(path) >= 2  # once per zipimporter
    _zipcache.install()
    assert _zipcache.installed()
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(path) <= 1  # first call records the archive's stat


def test_zip_cache_rereads_rewritten_archive(zip_on_path):
    path, reads = zip_on_path
    _zipcache.install()
    importlib.invalidate_caches()
    _write_zip(path, ["zc_mod_a.py", "zc_mod_b.py", "zc_pkg/__init__.py",
                      "zc_pkg/sub.py", "zc_pkg/extra.py"])
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_b").VALUE == "zc_mod_b.py"
    assert importlib.import_module("zc_pkg.extra").VALUE == "zc_pkg/extra.py"


def test_zip_cache_installed_in_python_workers(spark):
    def probe(batches):
        import sys

        import gpx2tiles_spark._zipcache as zc

        for _ in batches:
            pass
        yield pd.DataFrame({"installed": [zc.installed()],
                            "old_python": [sys.version_info < (3, 13)]})

    (row,) = (spark.range(1, numPartitions=1)
              .mapInPandas(probe, "installed boolean, old_python boolean")
              .collect())
    assert row.installed == row.old_python
    assert not _zipcache.on_spark_worker()  # the driver keeps the default


def _gpx(path, i: int) -> str:
    pts = "".join(
        f'<trkpt lat="{48.0 + 0.01 * i + 0.002 * k}" lon="{8.0 + 0.003 * k}">'
        f"<time>2016-06-25T10:00:{k:02d}Z</time></trkpt>" for k in range(5))
    path.write_text(f"<gpx><trk><trkseg>{pts}</trkseg></trk></gpx>")
    return str(path)


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_file_list_read_lists_on_driver(spark, tmp_path):
    """40 explicit paths exceed Spark's default parallel-listing threshold
    (32); the session lists them on the driver, without a job."""
    paths = [_gpx(tmp_path / f"f{i:02d}.gpx", i) for i in range(40)]
    n_jobs, docs = _jobs_in(spark, "read-40",
                            lambda: read_gpx_file_list(spark, paths))
    assert n_jobs == 0
    assert docs.count() == 40


def test_cli_render_job_count(spark, tmp_path):
    """Pins the jobs of a CLI render into an empty directory: the shuffle
    map stages AQE runs as jobs and one final job whose tasks fold,
    encode and write the tiles — no listing job, no second pass."""
    paths = [_gpx(tmp_path / f"f{i:02d}.gpx", i) for i in range(40)]
    out = tmp_path / "tiles"
    out.mkdir()
    n_jobs, rc = _jobs_in(spark, "cli-render", lambda: main(
        ["-z", "3", "-Z", "10", "-C", str(out), *paths], spark=spark))
    assert rc == 0
    assert n_jobs == 6


def _run_arrow_nodes(spark, fn):
    """fn()'s result and the number of MapInArrow nodes in the executed
    physical plan of the last SQL execution it ran."""
    out = fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = execs.apply(execs.size() - 1).physicalPlanDescription()
    # the node tree ends at the first blank line; AQE prints the plan it
    # ran first and its initial plan after
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    return out, len(re.findall(r"\bMapInArrow \(\d+\)", tree))


def _read_tree(root) -> dict:
    got = {}
    for d, _, files in os.walk(root):
        for f in files:
            assert f.endswith(".png"), f  # no temporary file left behind
            z, tx = (int(p) for p in os.path.relpath(d, root).split(os.sep))
            with open(os.path.join(d, f), "rb") as fh:
                got[(z, tx, int(f[:-4]))] = fh.read()
    return got


def test_render_out_dir_one_pass(spark, tmp_path):
    """render_pyramid(out_dir=…) writes exactly rasterize()'s tiles from
    the fold's own worker on every route — the sink adds no MapInArrow
    to the executed plan — keeps nothing cached, and returns per-zoom
    stats equal to a groupBy."""
    docs = generate_documents(spark, 12, partitions=3)
    first = docs.filter(F.col("doc_id") < "doc00000006")
    rest = docs.filter(F.col("doc_id") >= "doc00000006")
    base = str(tmp_path / "base")
    render_pyramid(first, EngineConfig(zoom_min=3, zoom_max=9), out_dir=base)
    # route → (config, documents, store, MapInArrow nodes of rasterize())
    routes = {
        "default": (EngineConfig(zoom_min=3, zoom_max=9), docs, None, 1),
        # hit counts below _canvas_read_z (15 here), the fold above it
        "heatmap": (EngineConfig(zoom_min=13, zoom_max=16, heatmap=True),
                    docs, None, 2),
        # hot tiles: salt partials, their merge, and the cold fold
        "salted": (EngineConfig(zoom_min=1, zoom_max=6, salt_buckets=4,
                                hot_tile_threshold=50,
                                hot_detect_fraction=1.0), docs, None, 3),
        "store": (EngineConfig(zoom_min=3, zoom_max=9), rest,
                  read_tile_pyramid(spark, base), 1),
    }
    jsc = spark.sparkContext._jsc
    for name, (cfg, src, store, nodes) in routes.items():
        tiles = rasterize(build_events(parse_documents(src), cfg), cfg, store)
        rows, ref_nodes = _run_arrow_nodes(spark, tiles.collect)
        assert ref_nodes == nodes, (name, ref_nodes)
        out = str(tmp_path / name)
        spark.catalog.clearCache()
        before = set(jsc.getPersistentRDDs().keys())
        res, out_nodes = _run_arrow_nodes(spark, lambda: render_pyramid(
            src, cfg, out_dir=out, store=store))
        assert out_nodes <= ref_nodes, (name, out_nodes, ref_nodes)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert set(jsc.getPersistentRDDs().keys()) == before, name

        got = _read_tree(out)
        assert set(got) == {(r.z, r.tx, r.ty) for r in rows}, name
        for r in rows:
            assert decode_png(got[(r.z, r.tx, r.ty)]).tobytes() == \
                decode_png(bytes(r.png)).tobytes(), (name, r.z, r.tx, r.ty)

        by_zoom = (spark.createDataFrame(rows).groupBy("z")
                   .agg(F.count("*").alias("tiles"),
                        F.sum("point_cnt").alias("points"))
                   .orderBy("z").collect())
        assert [tuple(s) for s in res.zoom_stats] == \
            [(r.z, r.tiles, r.points) for r in by_zoom], name
