"""Douglas–Peucker polyline simplification — per-track, distributed.

The classic map-rendering reduction (keep a point iff it deviates more
than eps from the chord of its enclosing kept span): exactly what a
tile engine runs before drawing tracks at low zooms, where thousands
of raw GPS points collapse to a handful of drawn vertices (the
reference draws every point at every zoom, gpx2tiles.c:602-712 — at
10^12 documents that is the first thing a real deployment would cap).

Spark shape: one shuffle on the track key, then a `mapInArrow` that
takes each track's run of rows with the raster fold's run helper
(`raster.key_runs`) — DP is sequential WITHIN a track (the split
recursion), but tracks are independent, so the operator parallelizes
over the track key with O(track length) memory per track — the same
per-group-sequential pattern as the parse stage's speed synthesis
(SURVEY.md §2 R3).

Exactness: all geometry in IEEE doubles with ONE op tree — cross =
dx·(py−ay) − dy·(px−ax), compared as cross² > eps²·len2 (no sqrt, no
division) — mirrored character-for-character by the DuckDB oracle's
recursive CTE (queries.py), argmax ties broken by smallest index on
both sides (np.argmax returns the first maximum).  Degenerate chords
(len2 == 0) fall back to point distance vs eps².
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .raster import key_runs

OUT_SCHEMA = "user_id long, pid long"


def _dp_keep(x: np.ndarray, y: np.ndarray, eps2: float) -> np.ndarray:
    """Boolean keep-mask for one track (iterative stack, no recursion
    depth limit; float ops mirror the SQL oracle's op tree)."""
    n = x.shape[0]
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    if n < 3:
        return keep
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        x0, y0, x1, y1 = x[i0], y[i0], x[i1], y[i1]
        dx = x1 - x0
        dy = y1 - y0
        len2 = dx * dx + dy * dy
        xs = x[i0 + 1:i1]
        ys = y[i0 + 1:i1]
        if len2 == 0.0:
            mag = (xs - x0) * (xs - x0) + (ys - y0) * (ys - y0)
            th = eps2
        else:
            cr = dx * (ys - y0) - dy * (xs - x0)
            mag = cr * cr
            th = eps2 * len2
        m = int(np.argmax(mag))  # first max == smallest index
        if mag[m] > th:
            split = i0 + 1 + m
            keep[split] = True
            stack.append((i0, split))
            stack.append((split, i1))
    return keep


def simplify_tracks(points: DataFrame, eps: float,
                    key_col: str = "user_id", id_col: str = "pid",
                    x_col: str = "lon", y_col: str = "lat",
                    order_cols: tuple[str, ...] = ("ts", "pid"),
                    ) -> DataFrame:
    """→ (user_id, pid) of the points Douglas–Peucker keeps at `eps`
    (planar degrees).  One shuffle on the track key; each track is one
    numpy DP pass.

    Physical shape: repartition on the key + in-partition (key, order)
    sort + a `mapInArrow` over each track's run of rows
    (`raster.key_runs`: numpy views of the Arrow columns, a track split
    across batches carried into the next) instead of
    groupBy().applyInPandas — per-group pandas/UDF invocation overhead
    was the whole cost at many small tracks (~15k groups × ~0.3 ms at
    sf1), while a run is just a numpy slice."""
    eps2 = float(eps) * float(eps)
    names = list(dict.fromkeys([key_col, id_col, x_col, y_col]))
    part = (points.select(*dict.fromkeys([*names, *order_cols]))
            .repartition(key_col)
            .sortWithinPartitions(key_col, *order_cols))

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for c, starts, ends in key_runs(batches, names, [key_col]):
            x = np.asarray(c[x_col], np.float64)
            y = np.asarray(c[y_col], np.float64)
            keep = np.concatenate([_dp_keep(x[s:e], y[s:e], eps2)
                                   for s, e in zip(starts, ends)])
            idx = np.flatnonzero(keep)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.asarray(c[key_col][idx], np.int64)),
                 pa.array(np.asarray(c[id_col][idx], np.int64))],
                ["user_id", "pid"])

    return part.mapInArrow(fold, OUT_SCHEMA)
