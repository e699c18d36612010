"""The benchmark's workloads.

Each workload is a closed loop: one client runs one operation after
another in a single Spark session.  ``round()`` runs one fixed sequence
of operations and returns an :class:`Op` per operation with its time
and the faults its checks found; ``traced=True`` adds per-layer figures.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import check
import gen
import tracing

ZOOMS = list(range(1, 19))
Z_WPT = 17  # waypoints are drawn at z > 16 (the CLI's default -P)
SAMPLE = 24  # generated points whose pixels are checked, per operation


@dataclass
class Op:
    seconds: float  # wall time
    cpu_s: float  # CPU time of the benchmark's process tree
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] | None = None


def stamps(docs: list[gen.Doc]) -> int:
    """(point × zoom) stamps the render makes for ``docs``."""
    trk, wpt = gen.n_points(docs)
    return trk * len(ZOOMS) + wpt * sum(z >= Z_WPT for z in ZOOMS)


def zoom_counts(docs: list[gen.Doc]) -> dict[int, int]:
    trk, wpt = gen.n_points(docs)
    return {z: trk + (wpt if z >= Z_WPT else 0) for z in ZOOMS}


def points_of(docs: list[gen.Doc]) -> tuple[np.ndarray, np.ndarray]:
    return (np.concatenate([d.trk for d in docs]),
            np.concatenate([d.wpt for d in docs]))


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def _guarded(fn) -> tuple[Op, object]:
    """Run and time ``fn``; an exception becomes a fault, not the end of
    the run."""
    cpu0, t0 = tracing.tree_cpu_s(), time.perf_counter()
    out, errs = None, []
    try:
        out = fn()
    except Exception as e:  # an operation that raises counts as failed
        errs = [f"raised {type(e).__name__}: {e}"]
    return Op(time.perf_counter() - t0, tracing.tree_cpu_s() - cpu0, errs), out


class RenderBulk:
    """A fresh z1-18 pyramid of GPX files on disk through the CLI entry
    point, into an empty tile tree."""

    N_DOCS = 100
    N_PTS = 300

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.tr = tracing.Spark(spark)
        self.work = work
        self.docs = gen.make_docs(seed, "bulk", self.N_DOCS, self.N_PTS)
        self.paths = gen.write_docs(self.docs, os.path.join(work, "gpx"))
        self.trk, self.wpt = points_of(self.docs)
        self.rng = np.random.default_rng(seed)
        self.out_bytes: list[int] = []
        self._n = 0

    def warm(self) -> None:
        out = self._out()
        op = self._render(out)
        shutil.rmtree(out)
        if op.errors:
            raise RuntimeError(f"warm-up render failed: {op.errors}")

    def _out(self) -> str:
        self._n += 1
        out = os.path.join(self.work, f"tiles-{self._n}")
        os.makedirs(out)
        return out

    def _render(self, out: str) -> Op:
        from gpx2tiles_spark import cli
        op, rc = _guarded(lambda: cli.main(["-C", out, *self.paths],
                                           spark=self.spark))
        # cli.main leaves the rendered tiles cached; the next render of
        # the same files would only re-write them from that cache
        self.spark.catalog.clearCache()
        if not op.errors and rc != 0:
            op.errors = [f"cli exit code {rc}"]
        return op

    def _check(self, out: str) -> list[str]:
        sample = self.rng.choice(len(self.trk), SAMPLE, replace=False)
        errs = check.check_pyramid(out, self.trk, self.wpt, ZOOMS, sample, Z_WPT)
        self.out_bytes.append(dir_bytes(out))
        return errs

    def round(self, traced: bool) -> list[Op]:
        out = self._out()
        try:
            op = self._traced(out) if traced else self._render(out)
            op.errors = op.errors or self._check(out)
            return [op]
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _traced(self, out: str) -> Op:
        from gpx2tiles_spark import cli
        cfg = cli.parse_args(["-C", out, *self.paths])[0]
        layers = tracing.render_prefixes(self.tr, self.paths, cfg)
        render_s = layers.pop("_render_s")
        with self.tr.group("render") as gid:
            op = self._render(out)
        layers.update(self.tr.counters(gid, op.seconds))
        layers["sink.s"] = op.seconds - render_s
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        layers["sink.files"] = len(files)
        pngs = []
        for p in files[:200]:
            with open(p, "rb") as f:
                pngs.append(f.read())
        layers.update(tracing.png_metrics(pngs, [check.read_png(b) for b in pngs]))
        layers.update({"store.merge_s": 0, "store.overhead_s": 0,
                       "store.live_snapshots": 0, "store.delta_mb": 0,
                       "store.tiles_touched": 0})
        op.layers = layers
        return op

    def e2e(self, op_cpu: float) -> dict[str, tuple[float, str]]:
        return {
            "tile_assignments_per_cpu_s": (stamps(self.docs) / op_cpu, "1/s"),
            "output_mb": (float(np.median(self.out_bytes)) / 1e6, "MB"),
        }


class UpdateSmall:
    """A tile store seeded with a base render takes a fixed sequence of
    small batches, each drawn over the current store."""

    N_BASE = 40
    N_BATCH = 4
    N_BATCHES = 2
    N_PTS = 300

    def __init__(self, spark, work: str, seed: int):
        from gpx2tiles_spark.config import EngineConfig

        self.spark = spark
        self.tr = tracing.Spark(spark)
        self.work = work
        self.cfg = EngineConfig()
        self.base = gen.make_docs(seed, "base", self.N_BASE, self.N_PTS)
        self.base_paths = gen.write_docs(self.base, os.path.join(work, "base"))
        self.batches = [gen.make_docs(seed, f"batch{b}", self.N_BATCH, self.N_PTS)
                        for b in range(self.N_BATCHES)]
        self.batch_paths = [gen.write_docs(d, os.path.join(work, f"batch{b}"))
                            for b, d in enumerate(self.batches)]
        self.rng = np.random.default_rng(seed)
        self.base_root = os.path.join(work, "base_store")
        self.root = os.path.join(work, "store")
        self.out_bytes: list[int] = []

    def _docs(self, paths: list[str]):
        from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list
        return read_gpx_file_list(self.spark, paths)

    def warm(self) -> None:
        """Seeds the base store (which also warms the session up)."""
        from gpx2tiles_spark.streaming.incremental import TileStore
        TileStore(self.spark, self.base_root).apply_batch(
            "base", self._docs(self.base_paths), self.cfg)

    def round(self, traced: bool) -> list[Op]:
        from gpx2tiles_spark.streaming.incremental import TileStore

        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.base_root, self.root)
        store = TileStore(self.spark, self.root)
        want = zoom_counts(self.base)
        ops = []
        for b, (docs, paths) in enumerate(zip(self.batches, self.batch_paths)):
            prev = store.manifest()["snapshots"][-1]["id"]
            layers = None
            if traced:
                layers = tracing.render_prefixes(self.tr, paths, self.cfg)
                render_s = layers.pop("_render_s")
                layers["store.merge_s"] = tracing.timed(
                    lambda: tracing.run_noop(store.current()))[0]
                with self.tr.group("apply_batch") as gid:
                    op, entry = _guarded(lambda: store.apply_batch(
                        f"batch{b}", self._docs(paths), self.cfg))
                layers.update(self.tr.counters(gid, op.seconds))
            else:
                op, entry = _guarded(lambda: store.apply_batch(
                    f"batch{b}", self._docs(paths), self.cfg))
            for z, n in zoom_counts(docs).items():
                want[z] += n
            if not op.errors:
                op.errors, pngs, images = self._check(store, entry, prev, docs, want)
                if layers is not None:
                    self._store_layers(layers, store, entry,
                                       op.seconds - render_s, pngs, images)
            op.layers = layers
            ops.append(op)
        self.out_bytes.append(dir_bytes(self.root))
        return ops

    def _store_layers(self, layers, store, entry, overhead_s, pngs, images) -> None:
        snaps = store.manifest()["snapshots"]
        last_compact = max((i for i, s in enumerate(snaps)
                            if s.get("kind") == "compact"), default=0)
        layers.update({
            "store.overhead_s": overhead_s,
            "store.live_snapshots": len(snaps) - last_compact,
            "store.delta_mb": dir_bytes(os.path.join(self.root, entry["path"])) / 1e6,
            "store.tiles_touched": entry["n_tiles"],
            "sink.s": 0, "sink.files": 0,
        })
        layers.update(tracing.png_metrics(pngs[:200], images[:200]))

    def _check(self, store, entry, prev: int, docs, want: dict[int, int]):
        """Counts in the merged store, sampled pixels of the batch, and no
        pixel of a touched tile cleared by the batch."""
        from pyspark.sql import functions as F

        if entry is None:
            return ["apply_batch committed nothing"], [], []
        errs = []
        got = {r[0]: r[1] for r in store.current().groupBy("z")
               .agg(F.sum("point_cnt")).collect()}
        if got != want:
            bad = {z: (got.get(z), n) for z, n in want.items() if got.get(z) != n}
            errs.append(f"per-zoom point_cnt (store, generated) differ: {bad}")
        key = ["z", "tx", "ty"]
        after = self.spark.read.parquet(os.path.join(self.root, entry["path"]))
        before = store.as_of(prev).select(*key, F.col("png").alias("before"))
        rows = after.select(*key, "png").join(before, key, "left").collect()
        tiles, pngs, images = {}, [], []
        for r in rows:
            try:
                img = check.read_png(bytes(r.png))
                old = None if r.before is None else check.read_png(bytes(r.before))
            except ValueError as e:
                errs.append(f"tile {(r.z, r.tx, r.ty)}: {e}")
                continue
            tiles[(r.z, r.tx, r.ty)] = img
            pngs.append(bytes(r.png))
            images.append(img)
            if old is not None and ((old[..., 3] > 0) & (img[..., 3] == 0)).any():
                errs.append(f"tile {(r.z, r.tx, r.ty)}: painted pixel cleared")
        trk, wpt = points_of(docs)
        sample = self.rng.choice(len(trk), SAMPLE, replace=False)
        for z in ZOOMS:
            tx, ty, px, py = check.tile_pixel(trk[:, 0], trk[:, 1], z)
            missing = set(zip(tx.tolist(), ty.tolist())) - {
                k[1:] for k in tiles if k[0] == z}
            if missing:
                errs.append(f"z{z}: {len(missing)} tiles of the batch not in its delta")
            for i in sample:
                img = tiles.get((z, int(tx[i]), int(ty[i])))
                if img is not None and img[py[i], px[i], 3] == 0:
                    errs.append(f"z{z} pixel {(int(px[i]), int(py[i]))} not painted")
        return errs, pngs, images

    def e2e(self, op_cpu: float) -> dict[str, tuple[float, str]]:
        return {
            "tile_assignments_per_cpu_s": (stamps(self.batches[0]) / op_cpu, "1/s"),
            "output_mb": (float(np.median(self.out_bytes)) / 1e6, "MB"),
        }


WORKLOADS = {"render_bulk": RenderBulk, "update_small": UpdateSmall}
