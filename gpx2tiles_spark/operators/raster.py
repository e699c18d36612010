"""Per-tile rasterization: sorted event fold → 256×256 RGBA → PNG bytes.

A4, the "render aggregate" (SURVEY.md §2.4): an order-sensitive fold of
draw events into a canvas after one shuffle keyed by tile — each tile is
rendered exactly once (the reference's open/evict/reload dance,
gpx2tiles.c:277-381, disappears).  Every fold here — the speed fold
(:func:`partition_folder`), the heatmap hit-count fold, the salted
route's per-salt fold and merge, and ``simplify.simplify_tracks`` — is
a ``mapInArrow`` over key-sorted record batches that takes its runs of
equal key from one helper, :func:`key_runs` (numpy views of the Arrow
columns, no pandas, no call per tile).  A render into a directory writes
each tile from the worker that folds it (:func:`_fold_stage`), so the
PNG bytes never return to the JVM.

Incremental mode (S5/J3) sends the store's rows through each route's
own tile shuffle: within a tile the base rows sort first (newest
snapshot first) and the fold draws over the newest base — a tile the
batch does not touch is never decoded or re-emitted.

Heatmap mode is a faithful sequential fold (intensify reads canvas
state — gpx2tiles.c:627-636); speed mode batches consecutive stamp runs
vectorized (last-writer-wins preserved by numpy assignment order).
"""

from __future__ import annotations

import os
from functools import partial
from typing import Iterable, Iterator, NamedTuple, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import draw
from ..colors import intensify
from ..config import HEATMAP_BASE_COLOR, PDOP_ALPHA, EngineConfig
from ..pngcodec import blank_tile, decode_png, encode_png
from .events import ET_CIRCLE, ET_LINE, ET_PDOP, ET_STAMP, ET_TEXT

_TILE_KEY = ["z", "tx", "ty"]
# the store column that orders a tile's rows from several snapshots:
# the highest id is the tile's current base
SNAPSHOT_COL = "snapshot_id"

TILES_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType(), False),
    T.StructField("tx", T.IntegerType(), False),
    T.StructField("ty", T.IntegerType(), False),
    T.StructField("point_cnt", T.LongType(), False),
    T.StructField("n_events", T.LongType(), False),
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("png", T.BinaryType(), False),
])


def key_runs(batches: Iterable[pa.RecordBatch], names: Sequence[str],
             key: Sequence[str]
             ) -> Iterator[tuple[dict, np.ndarray, np.ndarray]]:
    """Complete runs of equal ``key`` out of key-sorted Arrow record
    batches: the one run-and-carry loop of every partition-sliced fold.

    Yields ``(cols, starts, ends)`` per batch: ``cols`` maps each of
    ``names`` (which include ``key``) to a numpy view of its column, and
    each ``[starts[i], ends[i])`` is one whole run.  A run ends wherever
    any key column changes; the columns are compared themselves, never
    packed into one integer, so no key value can alias another.  A
    batch's trailing run may go on in the next batch, so it is carried
    and joined to that batch; the last one comes out when the input
    ends."""
    carry = None
    for b in batches:
        cols = {c: b.column(c).to_numpy(zero_copy_only=False) for c in names}
        if carry is not None:
            cols = {c: np.concatenate([carry[c], cols[c]]) for c in names}
        m = len(cols[key[0]])
        if not m:
            continue
        change = np.zeros(m - 1, bool)
        for k in key:
            change |= cols[k][1:] != cols[k][:-1]
        starts = np.concatenate(([0], np.flatnonzero(change) + 1))
        ends = np.append(starts[1:], m)
        carry = {c: v[starts[-1]:] for c, v in cols.items()}
        if len(starts) > 1:
            yield cols, starts[:-1], ends[:-1]
    if carry is not None:
        yield carry, np.array([0]), np.array([len(carry[key[0]])])


def _base_canvas(cfg: EngineConfig) -> np.ndarray:
    """Canvas for a tile with no store base.  With -d1 (diag_shadows) a
    freshly CREATED tile gets the two SHADOW edge lines before any
    drawing (open_tile, gpx2tiles.c:301-304) — drawn at gd's default
    thickness 1 (gdImageSetThickness runs after them, c:308)."""
    canvas = blank_tile()
    if cfg.diag_shadows:
        from ..config import SHADOW_COLOR, TILE_H, TILE_W
        draw.draw_line(canvas, 0, TILE_H - 1, TILE_W - 1, TILE_H - 1,
                       SHADOW_COLOR)
        draw.draw_line(canvas, TILE_W - 1, 0, TILE_W - 1, TILE_H - 1,
                       SHADOW_COLOR)
    return canvas


def _fold_opaque(canvas: np.ndarray, et, x1, y1, x2, y2, color,
                 thick: int) -> None:
    """Vectorized fold of OPAQUE events (stamp/line/circle): compute every
    event's pixel list in batch (stamps = 1 px, lines = batched gd
    Bresenham, circles = gd midpoint spans), tag each pixel with its event
    index, stable-sort by it, and make ONE ordered fancy assignment —
    numpy assigns duplicate indices in array order, so last-writer-wins
    equals the sequential fold."""
    segs: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = []

    stamp_m = et == ET_STAMP
    if stamp_m.any():
        idx = np.flatnonzero(stamp_m)
        segs.append((x1[idx], y1[idx], color[idx], idx))

    line_m = et == ET_LINE
    if line_m.any():
        idx = np.flatnonzero(line_m)
        h, w = canvas.shape[:2]
        # gd clip + endpoint swap + wid brush all inside the batch
        xs, ys, reps = draw.lines_points_batch(
            x1[idx], y1[idx], x2[idx], y2[idx], thick, w, h)
        lc = np.repeat(color[idx], reps)
        eidx = np.repeat(idx, reps)
        segs.append((xs, ys, lc, eidx))

    circ_m = et == ET_CIRCLE
    if circ_m.any():
        for i in np.flatnonzero(circ_m):
            cxs, cys = draw.ellipse_pixels(int(x1[i]), int(y1[i]),
                                           int(x2[i]), int(x2[i]))
            segs.append((cxs, cys,
                         np.full(len(cxs), color[i], np.int64),
                         np.full(len(cxs), i, np.int64)))

    text_m = et == ET_TEXT
    if text_m.any():
        # -d4 speed text: ≤1 per tile (string + underline + pointer)
        for i in np.flatnonzero(text_m):
            txs, tys = draw.speed_text_points(int(x2[i]), int(x1[i]),
                                              int(y1[i]), thick)
            segs.append((txs, tys,
                         np.full(len(txs), color[i], np.int64),
                         np.full(len(txs), i, np.int64)))

    if segs:
        xs = np.concatenate([s[0] for s in segs])
        ys = np.concatenate([s[1] for s in segs])
        cs = np.concatenate([s[2] for s in segs])
        eidx = np.concatenate([s[3] for s in segs])
        order = np.argsort(eidx, kind="stable")
        draw.stamp_pixels(canvas, xs[order], ys[order], cs[order])


def _fold_arrays(cols: dict, s: int, e: int, cfg: EngineConfig,
                 base: np.ndarray | None) -> tuple[np.ndarray, int]:
    """Numpy-only event fold over cols[s:e] — no pandas in the loop."""
    canvas = base if base is not None else _base_canvas(cfg)
    z = int(cols["z"][s])
    thick = max(1, cfg.thickness.get(z, 0))
    et = cols["etype"][s:e]
    x1 = cols["x1"][s:e]
    y1 = cols["y1"][s:e]
    x2 = cols["x2"][s:e]
    y2 = cols["y2"][s:e]
    color = cols["color"][s:e]
    n = e - s

    if not cfg.heatmap:
        # PDOP ellipses alpha-blend (read canvas state), so the vectorized
        # opaque fold runs in segments between them; PDOP events are rare
        # (z >= 17 & pdop > 1.8), so the common case is one full-range call
        pdop_idx = np.flatnonzero(et == ET_PDOP)
        prev = 0
        for pi in pdop_idx:
            if pi > prev:
                _fold_opaque(canvas, et[prev:pi], x1[prev:pi], y1[prev:pi],
                             x2[prev:pi], y2[prev:pi], color[prev:pi], thick)
            draw.blend_ellipse_outline(canvas, int(x1[pi]), int(y1[pi]),
                                       int(x2[pi]), int(color[pi]), PDOP_ALPHA)
            prev = pi + 1
        if prev < n:
            _fold_opaque(canvas, et[prev:n], x1[prev:n], y1[prev:n],
                         x2[prev:n], y2[prev:n], color[prev:n], thick)
    else:
        # heatmap mode: stamps (+ wpt circles at z > z_no_wpts, + PDOP at
        # z >= 17) — NEVER lines (z_no_lines == INT_MAX, gpx2tiles.c:976)
        big = z >= cfg.z_heatmap_bigdots
        h, w = canvas.shape[:2]
        if (not big and base is None and not cfg.diag_shadows
                and (et == ET_STAMP).all()):
            # pure single-pixel stamp tile: the sequential
            # read→intensify→write chain per pixel is a function of the
            # hit count alone — count hits and colorize once (the
            # commutative reformulation; byte-exact vs the loop)
            m = (x1 >= 0) & (x1 < w) & (y1 >= 0) & (y1 < h)
            uniq, hits = np.unique(y1[m].astype(np.int64) * w + x1[m],
                                   return_counts=True)
            _heat_continue(canvas, uniq % w, uniq // w, hits)
        else:
            cur_color = HEATMAP_BASE_COLOR
            for i in range(n):
                if et[i] == ET_STAMP:
                    xx, yy = int(x1[i]), int(y1[i])
                    if not (0 <= xx < w and 0 <= yy < h):
                        # gd's out-of-range read returns 0 → base color
                        cur_color = HEATMAP_BASE_COLOR
                    else:
                        px = canvas[yy, xx]
                        # gd returns 0 for never-touched truecolor pixels;
                        # our alpha==0 marker plays that role (c:628-629)
                        if px[3] == 0:
                            cur_color = HEATMAP_BASE_COLOR
                        else:
                            packed = (int(px[0]) << 16) | (int(px[1]) << 8) | int(px[2])
                            cur_color = int(intensify(np.array([packed]))[0])
                    if big:
                        draw.fill_rect(canvas, xx - 1, yy - 1, xx + 1, yy + 1,
                                       cur_color)
                    else:
                        draw.set_pixel(canvas, xx, yy, cur_color)
                elif et[i] == ET_PDOP:
                    # PDOP uses the running heat color (sentinel -1,
                    # c:660); -d1 shadow events carry SHADOW explicitly
                    c = int(color[i])
                    draw.blend_ellipse_outline(canvas, int(x1[i]), int(y1[i]),
                                               int(x2[i]),
                                               c if c >= 0 else cur_color,
                                               PDOP_ALPHA)
                elif et[i] == ET_TEXT:
                    # -d4 speed text draws opaquely in heatmap mode too
                    txs, tys = draw.speed_text_points(int(x2[i]), int(x1[i]),
                                                      int(y1[i]), thick)
                    draw.stamp_pixels(canvas, txs, tys,
                                      np.full(len(txs), color[i], np.int64))
                else:  # ET_CIRCLE
                    draw.fill_ellipse(canvas, int(x1[i]), int(y1[i]),
                                      int(x2[i]), int(x2[i]), int(color[i]))
    point_cnt = int((et == ET_STAMP).sum())
    return canvas, point_cnt


_HEAT_CHAIN: np.ndarray | None = None


def _heat_chain() -> np.ndarray:
    """intensify^k(heatmapclr) until its fixed point (18 steps for the
    default 0x061A5B): the color a pixel shows after k+1 hits."""
    global _HEAT_CHAIN
    if _HEAT_CHAIN is None:
        vals = [HEATMAP_BASE_COLOR]
        while True:
            nxt = int(intensify(np.array([vals[-1]]))[0])
            if nxt == vals[-1]:
                break
            vals.append(nxt)
        _HEAT_CHAIN = np.asarray(vals, np.int64)
    return _HEAT_CHAIN


def _heat_continue(canvas: np.ndarray, xs: np.ndarray, ys: np.ndarray,
                   hits: np.ndarray) -> None:
    """Paint per-pixel hit counts by continuing each pixel's intensify
    chain from the color it shows.  chain[i] is strictly brighter until
    its fixed point, so a pixel's chain position is recoverable and
    chain[min(pos + hits, sat)] == folding its stamps sequentially over
    it — byte-exact, with per-tile work bounded by 65536 aggregated
    pixels however many events hit the tile.  An untouched pixel (alpha
    0, gd's never-set truecolor pixel) sits at position −1, so a blank
    canvas gets chain[min(hits − 1, sat)].  Counts commute across any
    event split, so the salted/partitioned heatmap folds merge by
    ADDING them."""
    chain = _heat_chain()
    sat = len(chain) - 1
    h, w = canvas.shape[:2]
    m = (xs >= 0) & (xs < w) & (ys >= 0) & (ys < h)
    xs, ys, hits = xs[m], ys[m], hits[m].astype(np.int64)
    prior = canvas[ys, xs]
    packed = ((prior[:, 0].astype(np.int64) << 16)
              | (prior[:, 1].astype(np.int64) << 8)
              | prior[:, 2].astype(np.int64))
    order = np.argsort(chain, kind="stable")
    pos = np.clip(np.searchsorted(chain[order], packed), 0, sat)
    known = chain[order][pos] == packed
    idx = np.where(prior[:, 3] == 0, np.int64(-1), order[pos])
    colors = chain[np.minimum(idx + hits, sat)]
    # alpha != 0 pixels whose color is outside the chain (store tile
    # from a different mode): step intensify from the stored color
    for i in np.flatnonzero((prior[:, 3] != 0) & ~known):
        c = int(packed[i])
        for _ in range(int(hits[i])):
            c = int(intensify(np.array([c]))[0])
        colors[i] = c
    draw.stamp_pixels(canvas, xs, ys, colors)


def _canvas_read_z(cfg: EngineConfig) -> int:
    """First zoom at which a draw op can READ canvas state (PDOP alpha
    blends at z >= 17 in speed mode; the sequential heatmap zone —
    bigdots / circles / PDOP — in heatmap mode).  Below it every draw is
    an opaque write, so partial canvases compose by overlay."""
    from ..config import PDOP_MIN_Z
    if cfg.heatmap:
        return min(cfg.z_heatmap_bigdots, cfg.z_no_wpts + 1, PDOP_MIN_Z)
    return PDOP_MIN_Z


def rasterize(events: DataFrame, cfg: EngineConfig,
              store: DataFrame | None = None,
              out_dir: str | None = None) -> DataFrame:
    """events (+ optional existing tile store) → tiles.

    ``store`` holds (z, tx, ty, png) and optionally ``point_cnt`` (added
    to the new stamps) and :data:`SNAPSHOT_COL` (several rows of a tile
    → the highest snapshot id is the base; without it the store is one
    snapshot).  With a store only the tiles the events touch come out:
    on every route the store's rows ride that route's own tile shuffle
    and its fold draws over each tile's newest base.

    Routes, by config:

    - default (speed mode, ``salt_buckets == 0``), and every ``-d1``
      shadow / heatmap ``-d4`` text render: one shuffle keyed by tile and
      the partition-sliced fold (:func:`_rasterize_partitions`);
    - heatmap mode splits at :func:`_canvas_read_z`: below it the
      relational per-pixel hit-count aggregate and its fold
      (:func:`_rasterize_heatmap_counts`), at or above it the fold;
    - ``salt_buckets > 0`` (speed mode): below the split the salted
      two-phase render for hot tiles (:func:`rasterize_salted`), at or
      above it the fold.

    With ``out_dir`` each route's final fold worker writes its tiles
    (:func:`_fold_stage`) and the result is per-zoom stats rows.
    """
    # -d1 shadows alpha-blend an ellipse on EVERY point (reads canvas at
    # every zoom) and -d4 text breaks the heatmap pure-stamp premise —
    # diagnostics force the sequential fold (the reference itself is
    # single-threaded; diagnostics are not the 100 TB path)
    diag_sequential = cfg.diag_shadows or (cfg.heatmap and cfg.diag_speed_text)
    split = _canvas_read_z(cfg)
    zooms = cfg.zooms()
    # the low-zoom routes exist only for heatmap and salted renders; and
    # static branch pruning: don't put an (empty-by-construction) branch
    # into the plan when the configured zoom range sits entirely on one
    # side of the canvas-reading split
    if (diag_sequential or min(zooms) >= split
            or not (cfg.heatmap or cfg.salt_buckets > 0)):
        return _rasterize_partitions(events, cfg, store, out_dir)
    low_ev, high_ev = events, None
    low_store = high_store = store
    if max(zooms) >= split:
        below, above = F.col("z") < F.lit(split), F.col("z") >= F.lit(split)
        low_ev, high_ev = events.filter(below), events.filter(above)
        if store is not None:
            low_store, high_store = store.filter(below), store.filter(above)
    low = (_rasterize_heatmap_counts if cfg.heatmap else rasterize_salted)(
        low_ev, cfg, low_store, out_dir)
    if high_ev is None:
        return low
    return low.unionByName(
        _rasterize_partitions(high_ev, cfg, high_store, out_dir))


def latest_tiles(store: DataFrame) -> DataFrame:
    """Per tile, the row of the newest snapshot (:data:`SNAPSHOT_COL`) —
    the merge-on-read aggregate (one hash aggregate keyed (z,tx,ty) with
    ``max_by`` on the snapshot id).  A store without the column is one
    snapshot and passes through."""
    if SNAPSHOT_COL not in store.columns:
        return store
    vals = [c for c in store.columns if c not in _TILE_KEY + [SNAPSHOT_COL]]
    merged = store.groupBy(*_TILE_KEY).agg(
        F.max_by(F.struct(*vals), F.col(SNAPSHOT_COL)).alias("_t"))
    return merged.select(*_TILE_KEY,
                         *[F.col(f"_t.{c}").alias(c) for c in vals])


def _rasterize_cogroup(events: DataFrame, cfg: EngineConfig,
                       store: DataFrame) -> DataFrame:
    """Per-tile sequential fold over the store base as a pandas cogroup
    (one pandas call per store tile).  No route of :func:`rasterize`
    takes it: it is the plain reference the incremental routes are
    byte-compared against in tests, on any zoom range."""

    def fold_cogroup(ev: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
        if not len(ev):
            return pd.DataFrame(columns=[f.name for f in TILES_SCHEMA.fields])
        ev = ev.sort_values(_EVENT_ORDER, kind="stable")
        base = decode_png(bytes(old["png"].iloc[0])) if len(old) else None
        cols = {c: ev[c].to_numpy() for c in ("z", "etype", "x1", "y1", "x2",
                                              "y2", "color")}
        canvas, point_cnt = _fold_arrays(cols, 0, len(ev), cfg, base)
        if len(old) and "point_cnt" in old.columns:
            point_cnt += int(old["point_cnt"].iloc[0])
        return pd.DataFrame([{
            "z": int(ev["z"].iloc[0]), "tx": int(ev["tx"].iloc[0]),
            "ty": int(ev["ty"].iloc[0]), "point_cnt": point_cnt,
            "n_events": len(ev), "n_docs": ev["doc_id"].nunique(),
            "png": encode_png(canvas),
        }])

    return (
        events.groupBy("z", "tx", "ty")
        .cogroup(store.groupBy("z", "tx", "ty"))
        .applyInPandas(lambda ev, old: fold_cogroup(ev, old), TILES_SCHEMA)
    )


def _rasterize_heatmap_counts(events: DataFrame, cfg: EngineConfig,
                              store: DataFrame | None = None,
                              out_dir: str | None = None) -> DataFrame:
    """Relational heatmap render for the pure-stamp zoom zone.

    Plan: hash aggregate on (z,tx,ty,x1,y1) with map-side partial
    aggregation — per-pixel keys are fine-grained, so a hot tile's events
    combine locally instead of converging on one task (the salting story
    for heatmap mode; the opaque-mode equivalent is rasterize_salted).
    The aggregated relation is bounded at 65536 rows per tile, so the
    per-tile paint that follows cannot skew.  Byte-exact vs the
    sequential fold (:func:`_heat_continue`; test_pipeline_e2e).  With a
    ``store`` its rows ride the same tile shuffle and each tile's counts
    continue from its newest base."""
    counts = events.groupBy("z", "tx", "ty", "x1", "y1").agg(
        F.count("*").alias("hits"))
    docs = events.groupBy("z", "tx", "ty").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    rel = counts.join(docs, _TILE_KEY)  # co-partitioned after the aggs
    names = ("z", "tx", "ty", "x1", "y1", "hits", "n_docs")
    order = list(_TILE_KEY)
    if store is not None:
        rel = _with_base_rows(rel, store)
        names += _BASE_COLS
        order += _base_first()

    def fold_run(cols: dict, s: int, e: int) -> tuple | None:
        s, base, base_pc = _run_base(cols, s, e)
        if s == e:
            return None
        canvas = blank_tile() if base is None else base
        hits = cols["hits"][s:e]
        _heat_continue(canvas, cols["x1"][s:e], cols["y1"][s:e], hits)
        total = int(hits.sum())
        return (int(cols["z"][s]), int(cols["tx"][s]), int(cols["ty"][s]),
                base_pc + total, total, int(cols["n_docs"][s]),
                encode_png(canvas))

    return _fold_stage(
        rel.repartition(_fold_partitions(counts, cfg), *_TILE_KEY)
        .sortWithinPartitions(*order),
        partial(_fold_runs, names=names, key=_TILE_KEY, fold_run=fold_run,
                schema=TILES_SCHEMA), out_dir)


# Target rows per Python-fold task (the incremental store's measured
# "~20k events/task" sweet spot): big enough to amortize the per-task
# Arrow/worker round trip, small enough that a task is sub-second.
# TileStore.apply_batch, which counts its batch, sizes the fold with it.
_FOLD_TARGET_ROWS = 20_000


def _fold_partitions(df: DataFrame, cfg: EngineConfig | None = None) -> int:
    """Partition count for shuffles feeding the Python fold — EXPLICIT,
    so AQE cannot coalesce them.  AQE's byte-based advisory (64 MB)
    is calibrated for JVM operators; a 64 MB event partition is ~1.5M
    rows ≈ a minute of single-core Python fold — at 4N cores the
    coalesced hot-corridor partitions become the wall-time floor
    (measured: top partitions 8× the mean on the skewed corpus).
    ``cfg.fold_partitions`` when set (a caller that counted its rows,
    see EngineConfig); otherwise the session's
    ``spark.sql.shuffle.partitions``."""
    if cfg is not None and cfg.fold_partitions:
        return int(cfg.fold_partitions)
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


_FOLD_COLS = ("z", "tx", "ty", "etype", "x1", "y1", "x2", "y2", "color",
              "doc_key")
# extra columns when the store rides the shuffle: _src 0 = base row,
# 1 = the tile's own row; base_pc / png are the base row's (0 / null on
# the other rows)
_BASE_COLS = ("_src", "base_pc", "png")
# the reference's draw order: file → segment → point → stamp/circle/line
_EVENT_ORDER = ["doc_id", "seg_order", "pt_idx", "etype"]


def _base_first() -> list:
    """Sort keys after the tile key for a relation from
    :func:`_with_base_rows`: a tile's store rows ahead of its own rows,
    the newest snapshot first."""
    return ["_src", F.col("_snap").desc()]


def _with_base_rows(rows: DataFrame, store: DataFrame) -> DataFrame:
    """rows ∪ store rows in one relation, tagged by :data:`_BASE_COLS`
    and ``_snap`` (the base row's snapshot id).  The other columns of a
    base row are 0 (null when not numeric), so the Arrow→numpy columns
    stay integer."""
    pc = (F.coalesce(F.col("point_cnt"), F.lit(0))
          if "point_cnt" in store.columns else F.lit(0))
    snap = F.col(SNAPSHOT_COL) if SNAPSHOT_COL in store.columns else F.lit(0)
    own = [f for f in rows.schema.fields if f.name not in _TILE_KEY]
    base = store.select(
        *_TILE_KEY, F.lit(0).alias("_src"), snap.cast("long").alias("_snap"),
        *[F.lit(0 if isinstance(f.dataType, T.NumericType) else None)
          .cast(f.dataType).alias(f.name) for f in own],
        pc.cast("long").alias("base_pc"), "png")
    tagged = rows.select(
        *_TILE_KEY, F.lit(1).alias("_src"), F.lit(0).cast("long").alias("_snap"),
        *[f.name for f in own], F.lit(0).cast("long").alias("base_pc"),
        F.lit(None).cast("binary").alias("png"))
    return tagged.unionByName(base)


def _run_base(cols: dict, s: int, e: int
              ) -> tuple[int, np.ndarray | None, int]:
    """Split one tile run of a :func:`_with_base_rows` relation sorted by
    :func:`_base_first` into (its first own row, the newest base canvas
    or None, the base's point count).  The first own row is ``e`` when
    the tile has store rows only: it stays in the store, undecoded."""
    if "_src" not in cols or cols["_src"][s] != 0:
        return s, None, 0
    first = s + int(np.searchsorted(cols["_src"][s:e], 1))
    if first == e:
        return e, None, 0
    return first, decode_png(bytes(cols["png"][s])), int(cols["base_pc"][s])


def _fold_runs(batches: Iterable[pa.RecordBatch], names: Sequence[str],
               key: Sequence[str], fold_run, schema: T.StructType
               ) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: ``fold_run(cols, s, e)`` turns each run of
    :func:`key_runs` into one output row (a tuple in ``schema`` order)
    or None; each input batch's rows go out as one record batch."""
    arrow = to_arrow_schema(schema)
    for cols, starts, ends in key_runs(batches, names, key):
        rows = [r for r in map(partial(fold_run, cols), starts, ends)
                if r is not None]
        if rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, t) for c, t in zip(zip(*rows), arrow.types)],
                schema=arrow)


def prepared_events(events: DataFrame, cfg: EngineConfig | None = None,
                    store: DataFrame | None = None) -> DataFrame:
    """The rasterizer's physical input: one shuffle keyed (z,tx,ty) +
    in-partition painter sort + string-free projection.

    The JVM sort fixes the painter order; python only needs numeric
    columns — the doc_id string is replaced by a hash AFTER the sort
    (projection preserves row order) so the Arrow payload is
    string-free.

    With a ``store`` its rows join the same shuffle: within a tile the
    base rows come first, newest snapshot first, then the events in
    painter order."""
    order: list = list(_TILE_KEY)
    cols = list(_FOLD_COLS[:-1])
    rel = events
    if store is not None:
        rel = _with_base_rows(events.select(*cols, *_EVENT_ORDER[:-1]), store)
        order += _base_first()
        cols += _BASE_COLS
    return (
        rel.repartition(_fold_partitions(events, cfg), *_TILE_KEY)
        .sortWithinPartitions(*order, *_EVENT_ORDER)
        .select(*cols, F.xxhash64("doc_id").alias("doc_key"))
    )


def partition_folder(cfg: EngineConfig, with_base: bool = False,
                     schema: T.StructType = TILES_SCHEMA):
    """mapInArrow body over :func:`prepared_events` output: each tile's
    run of rows (:func:`key_runs`) is one numpy slice folded by
    :func:`_fold_arrays` and encoded.

    ``with_base``: the input carries store rows (``prepared_events(...,
    store=...)``).  A tile with no events is skipped without a decode
    (it stays in the store); otherwise the events fold over the tile's
    first — newest — base and its ``point_cnt`` adds on.  Fields of
    ``schema`` past :data:`TILES_SCHEMA`'s (the salted route's ``salt``)
    are further key columns, copied to each output row."""
    extra = schema.fieldNames()[len(TILES_SCHEMA.fields):]
    names = _FOLD_COLS + tuple(extra) + (_BASE_COLS if with_base else ())

    def fold_run(cols: dict, s: int, e: int) -> tuple | None:
        s, base, base_pc = _run_base(cols, s, e)
        if s == e:
            return None
        canvas, point_cnt = _fold_arrays(cols, s, e, cfg, base)
        return (int(cols["z"][s]), int(cols["tx"][s]), int(cols["ty"][s]),
                base_pc + point_cnt, int(e - s),
                len(np.unique(cols["doc_key"][s:e])), encode_png(canvas),
                *(int(cols[c][s]) for c in extra))

    return partial(_fold_runs, names=names, key=_TILE_KEY + extra,
                   fold_run=fold_run, schema=schema)


def _rasterize_partitions(events: DataFrame, cfg: EngineConfig,
                          store: DataFrame | None = None,
                          out_dir: str | None = None) -> DataFrame:
    """Shuffle + painter sort (prepared_events) → partition-sliced fold
    (partition_folder), over the store's newest base per tile when one
    is given.  Same result as a per-tile cogroup (:func:`_rasterize_cogroup`)
    without a pandas call per tile."""
    return _fold_stage(prepared_events(events, cfg, store),
                       partition_folder(cfg, with_base=store is not None),
                       out_dir)


PIXELS_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType(), False),
    T.StructField("tx", T.IntegerType(), False),
    T.StructField("ty", T.IntegerType(), False),
    T.StructField("px", T.IntegerType(), False),
    T.StructField("py", T.IntegerType(), False),
    T.StructField("rgb", T.IntegerType(), False),
    T.StructField("lat", T.DoubleType(), False),
    T.StructField("lon", T.DoubleType(), False),
])


def tiles_to_pixels(tiles: DataFrame) -> DataFrame:
    """Raster→vector: decode tile PNGs back to painted pixels with their
    inverse-projected geographic pixel-center coordinates (J4's
    round-trip direction; inverse of R5/R6 — slippy-map.h:23-32)."""
    from .. import projection as P

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                img = decode_png(bytes(r.png))
                ys, xs = np.nonzero(img[..., 3])
                if not len(xs):
                    continue
                rgb = ((img[ys, xs, 0].astype(np.int64) << 16)
                       | (img[ys, xs, 1].astype(np.int64) << 8)
                       | img[ys, xs, 2].astype(np.int64))
                s, w, n, e = P.tile_bbox(np.int64(r.tx), np.int64(r.ty), int(r.z))
                lon = w + (xs + 0.5) * (e - w) / img.shape[1]
                lat = n + (ys + 0.5) * (s - n) / img.shape[0]
                out.append(pd.DataFrame({
                    "z": np.full(len(xs), r.z, np.int32),
                    "tx": np.full(len(xs), r.tx, np.int32),
                    "ty": np.full(len(xs), r.ty, np.int32),
                    "px": xs.astype(np.int32), "py": ys.astype(np.int32),
                    "rgb": rgb.astype(np.int32),
                    "lat": lat, "lon": lon,
                }))
            yield (pd.concat(out, ignore_index=True) if out
                   else pd.DataFrame(columns=[f.name for f in PIXELS_SCHEMA.fields]))

    return tiles.select("z", "tx", "ty", "png").mapInPandas(extract, PIXELS_SCHEMA)


# ---------------------------------------------------------------------------
# Skew handling: range-salted two-phase render for hot tiles
# ---------------------------------------------------------------------------

def doc_range_bounds(df: DataFrame, n_ranges: int, sample_rows: int = 10_000,
                     seed: int = 11, count: float | None = None) -> list[str]:
    """Contiguous, ascending doc_id boundaries cutting ``df`` into
    ``n_ranges`` ranges, from a BOUNDED pure Bernoulli sample: count →
    sample of ~``sample_rows`` rows → driver-side sort of the distinct
    ids → every step-th id.  No distinct shuffle, no unbounded collect —
    at 10^12 docs the driver sees ~``sample_rows`` strings.  Every
    partition contributes proportionally, so the bounds reflect the whole
    doc_id range (a sample().limit() variant satisfied the LIMIT from the
    first partitions, drawing every bound from a partition-order prefix).
    Row-frequency weighting is a feature — bounds land where the rows
    are, balancing range LOAD; contiguous ranges are correct either way.
    Empty when there are fewer sampled ids than ranges.

    ``count``: a caller-supplied row-count estimate (e.g. scaled up from
    a detection sample) — sizing the Bernoulli fraction is its only use,
    so an estimate is as good as the exact figure and skips a full pass."""
    if n_ranges <= 1:
        return []
    cnt = float(df.count() if count is None else count)
    if cnt <= 0:
        return []
    frac = min(1.0, sample_rows / cnt)
    ids = sorted({r.doc_id for r in
                  df.select("doc_id").sample(False, frac, seed=seed).collect()})
    if len(ids) < n_ranges:
        return []
    step = max(1, len(ids) // n_ranges)
    return ids[step::step][: n_ranges - 1]


_PARTIAL_SCHEMA = T.StructType(TILES_SCHEMA.fields + [
    T.StructField("salt", T.IntegerType(), False)])


def rasterize_salted(events: DataFrame, cfg: EngineConfig,
                     store: DataFrame | None = None,
                     out_dir: str | None = None) -> DataFrame:
    """Two-phase skew-safe render (speed-color mode only).

    Urban-corridor skew makes a handful of (z,tx,ty) groups carry most
    events (at z=1 the whole world is 4 tiles) — a plain per-tile group
    is maximally skewed and AQE cannot split a single pandas group.

    Phase A salts *hot* tiles by contiguous doc_id ranges (order-
    preserving boundaries) and renders partial canvases per (tile, salt).
    Phase B overlays the partials per tile in salt order.  Because salt
    ranges are contiguous in doc order and all draw ops are opaque
    writes, overlay-in-salt-order == the unsalted painter fold exactly.
    Cold tiles take the unsalted fold.  With a ``store`` its rows ride
    both routes' shuffles: the cold fold draws over each tile's newest
    base, and phase B lays a hot tile's partials over it.  With
    ``out_dir`` the cold fold and phase B write the tiles.
    Heatmap mode's skew path is _rasterize_heatmap_counts (hit-count
    merge) inside rasterize() — its low-zoom tiles commute, and its
    big-dot/circle zone sits at high zooms where tiles are small.
    """
    assert not cfg.heatmap, "heatmap skew is handled by rasterize()'s count merge"
    assert not cfg.diag_shadows, \
        "-d1 shadow blends read canvas state; rasterize() routes them sequentially"
    buckets = max(2, cfg.salt_buckets)

    # hot tiles are by definition few — detect them FIRST on a 1% sample
    # (the threshold is ≥ 200k events, so a 1% sample still sees ≥ ~2k
    # per hot tile; sub-hot tiles misclassified hot just pay a harmless
    # extra merge) and collect only keys above the scaled threshold:
    # bounded output, and the detection pass scans 1% of the exploded
    # relation instead of all of it.  No hot tiles (the common case) →
    # the boundary sampling pass is skipped entirely.
    det_frac = min(1.0, max(cfg.hot_detect_fraction, 1e-6))
    sampled = events if det_frac >= 1.0 else events.sample(False, det_frac, seed=13)
    # rollup instead of groupBy: the grand-total row rides along in the
    # SAME aggregation pass, giving the event-count estimate the salt
    # boundary sampler needs — the r03 plan paid a third full pass
    # (events.count()) for that number.  The filter keeps only full
    # (z,tx,ty) rows over the threshold plus the all-null total row, so
    # the collect stays bounded.
    det = (sampled.rollup("z", "tx", "ty").count()
           .filter(((F.col("count") > cfg.hot_tile_threshold * det_frac)
                    & F.col("ty").isNotNull())
                   | F.col("z").isNull()).collect())
    total_sampled = next((r["count"] for r in det if r["z"] is None), 0)
    hot_rows = [r for r in det if r["z"] is not None and r["ty"] is not None]
    bounds = hot_rows and doc_range_bounds(
        events, buckets, sample_rows=10_000 * buckets, seed=7,
        count=total_sampled / det_frac)
    if not bounds:
        return _rasterize_partitions(events, cfg, store, out_dir)

    salt = F.lit(0)
    for b in bounds:
        salt = salt + F.when(F.col("doc_id") >= F.lit(b), 1).otherwise(0)
    key_col = (F.col("z").cast("long") * F.lit(1 << 48)
               + F.col("tx").cast("long") * F.lit(1 << 24)
               + F.col("ty").cast("long"))
    hot = key_col.isin([(r.z << 48) + (r.tx << 24) + r.ty for r in hot_rows])
    # ONLY hot tiles pay the two-phase cost (partial canvases + overlay
    # merge); the cold majority keeps the single-pass fold with no extra
    # PNG decode/encode round-trip
    cold = _rasterize_partitions(events.filter(~hot), cfg,
                                 None if store is None else store.filter(~hot),
                                 out_dir)
    ev = events.filter(hot).withColumn("salt", salt)
    partials = (
        ev.repartition(_fold_partitions(ev, cfg), "z", "tx", "ty", "salt")
        .sortWithinPartitions("z", "tx", "ty", "salt", *_EVENT_ORDER)
        .select(*_FOLD_COLS[:-1], "salt", F.xxhash64("doc_id").alias("doc_key"))
        .mapInArrow(partition_folder(cfg, schema=_PARTIAL_SCHEMA),
                    _PARTIAL_SCHEMA)
    )
    hot_store = None if store is None else store.filter(hot)
    return _merge_partials(partials, hot_store, out_dir).unionByName(cold)


def _merge_partials(partials: DataFrame, store: DataFrame | None,
                    out_dir: str | None = None) -> DataFrame:
    """Phase B of :func:`rasterize_salted`: one shuffle keyed by tile,
    each tile's partial canvases in salt order, overlaid where painted —
    over the tile's newest store base when ``store`` rows ride along.
    point_cnt, n_events and n_docs add up over the salts (the salt
    ranges hold disjoint docs); the base adds its point_cnt only."""
    rel = partials.withColumnRenamed("png", "part_png")
    names = ("z", "tx", "ty", "point_cnt", "n_events", "n_docs", "part_png")
    order = list(_TILE_KEY)
    if store is not None:
        rel = _with_base_rows(rel, store)
        names += _BASE_COLS
        order += _base_first()

    def merge_run(cols: dict, s: int, e: int) -> tuple | None:
        s, base, base_pc = _run_base(cols, s, e)
        if s == e:
            return None
        pngs = cols["part_png"]
        canvas = decode_png(bytes(pngs[s])) if base is None else base
        for i in range(s + (base is None), e):
            overlay = decode_png(bytes(pngs[i]))
            mask = overlay[..., 3] != 0
            canvas[mask] = overlay[mask]
        return (int(cols["z"][s]), int(cols["tx"][s]), int(cols["ty"][s]),
                base_pc + int(cols["point_cnt"][s:e].sum()),
                int(cols["n_events"][s:e].sum()),
                int(cols["n_docs"][s:e].sum()), encode_png(canvas))

    return _fold_stage(
        rel.repartition(*_TILE_KEY).sortWithinPartitions(*order, "salt"),
        partial(_fold_runs, names=names, key=_TILE_KEY, fold_run=merge_run,
                schema=TILES_SCHEMA), out_dir)


class ZoomStats(NamedTuple):
    z: int
    tiles: int
    points: int


def _fold_stage(rel: DataFrame, fold, out_dir: str | None) -> DataFrame:
    """``rel.mapInArrow(fold)`` for a :func:`_fold_runs` body yielding
    tiles.  With ``out_dir`` the same Python worker writes each tile it
    folds and the stage yields per-zoom stats: no PNG goes to the JVM."""
    if out_dir is None:
        return rel.mapInArrow(fold, TILES_SCHEMA)
    return rel.mapInArrow(lambda batches: _write_tiles(out_dir, fold(batches)),
                          "z int, tiles long, points long")


def _write_tiles(out_dir: str, batches: Iterable[pa.RecordBatch]):
    """Tile batches → ``{out_dir}/{z}/{tx}/{ty}.png`` with tmp+rename
    (atomic per tile, like flush_tile gpx2tiles.c:312-348), each
    directory made once per task → the task's per-zoom counts."""
    made: set[str] = set()
    stats: dict[int, list[int]] = {}
    for b in batches:
        cols = (b.column(c).to_pylist()
                for c in ("z", "tx", "ty", "point_cnt", "png"))
        for z, tx, ty, pc, png in zip(*cols):
            d = os.path.join(out_dir, str(z), str(tx))
            if d not in made:
                os.makedirs(d, exist_ok=True)
                made.add(d)
            tmp = os.path.join(d, f"{ty}.png.tmp")
            with open(tmp, "wb") as f:
                f.write(png)
            os.replace(tmp, os.path.join(d, f"{ty}.png"))
            s = stats.setdefault(z, [0, 0])
            s[0] += 1
            s[1] += pc
    if stats:
        yield pa.record_batch({"z": pa.array(list(stats), pa.int32()),
                               "tiles": [t for t, _ in stats.values()],
                               "points": [p for _, p in stats.values()]})
