"""Seeded GPX input generator for the benchmark.

Independent of the program's own corpus generator, so a change there
never changes a workload.  Everything is a pure function of the seed.

Each document is one GPX file with a track of one or more ``<trkseg>``
(points with a mix of ``<src>`` values, so the parser splits them into
several segments), optional waypoints, and the input faults the parser
must handle: a garbled latitude (the point is dropped), an exact
consecutive duplicate (merged and dropped), and points without
``<time>`` or ``<speed>``.  Tracks cluster around a few hot spots, so a
few low-zoom tiles receive most of the points.

For every document the generator also returns the coordinates of the
points that survive parsing, exactly as the parser reads them (the
formatted strings parsed back), so checkers can count and project them
without running the program.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np

# (lat, lon, share of documents); the rest spread uniformly
HOTSPOTS = [
    (48.9157, 8.5038, 0.40),
    (45.7640, 4.8357, 0.20),
    (-33.8688, 151.2093, 0.10),
]
UNIFORM_LAT = 60.0
SRCS = ["gps", "network", "", "logger"]
SRC_P = [0.6, 0.2, 0.15, 0.05]
_T0 = 1_600_000_000


@dataclass
class Doc:
    name: str
    gpx: str
    trk: np.ndarray  # (n, 2) lat, lon of track points that survive parsing
    wpt: np.ndarray  # (m, 2) lat, lon of waypoints


def _iso(t: int) -> str:
    s = np.datetime64(int(t), "s").astype(str)
    return s + "Z"


def _fmt(v: float) -> str:
    return f"{v:.7f}"


def _walk(rng: np.random.Generator, lat0: float, lon0: float,
          n: int) -> tuple[np.ndarray, np.ndarray]:
    """Random walk whose consecutive points always differ after
    formatting, so no point is dropped as an accidental duplicate."""
    step = rng.normal(0.0, 1e-4, size=(n, 2))
    step += np.where(step >= 0, 2e-6, -2e-6)
    lat = np.clip(lat0 + np.cumsum(step[:, 0]), -80.0, 80.0)
    lon = lon0 + np.cumsum(step[:, 1])
    lon = (lon + 180.0) % 360.0 - 180.0
    return lat, lon


def _start(rng: np.random.Generator, spot: int) -> tuple[float, float]:
    if spot >= 0:
        lat, lon, _ = HOTSPOTS[spot]
        return lat + rng.normal(0, 0.03), lon + rng.normal(0, 0.03)
    return (float(rng.uniform(-UNIFORM_LAT, UNIFORM_LAT)),
            float(rng.uniform(-179.0, 179.0)))


def _spots(rng: np.random.Generator, n_docs: int) -> np.ndarray:
    """Hot-spot index per document (-1 = uniform), in exact shares so
    the make-up of a workload does not change with the seed."""
    spots = np.full(n_docs, -1)
    at = 0
    for i, (_, _, w) in enumerate(HOTSPOTS):
        k = round(w * n_docs)
        spots[at:at + k] = i
        at += k
    return rng.permutation(spots)


def make_doc(rng: np.random.Generator, name: str, n_pts: int, n_wpt: int,
             spot: int) -> Doc:
    """One GPX document with exactly ``n_pts`` track points and ``n_wpt``
    waypoints surviving the parse, split over one to three segments."""
    lat0, lon0 = _start(rng, spot)
    t = _T0 + int(rng.integers(0, 86400 * 365))
    faulty = rng.random() < 0.25
    n_seg = int(rng.integers(1, 4))
    cuts = np.sort(rng.choice(np.arange(8, n_pts - 7), n_seg - 1, replace=False))
    parts: list[str] = []
    kept: list[tuple[float, float]] = []
    for s, n in enumerate(np.diff(np.concatenate(([0], cuts, [n_pts])))):
        n = int(n)
        lat, lon = _walk(rng, lat0 + 5e-4 * s, lon0 + 5e-4 * s, n)
        has_time = rng.random(n) < 0.9
        has_speed = rng.random(n) < 0.6
        srcs = rng.choice(len(SRCS), size=n, p=SRC_P)
        speed = np.abs(rng.normal(5.0, 4.0, size=n))
        ele = 200 + 50 * rng.random(n)
        seg: list[str] = []
        for i in range(n):
            t += int(rng.integers(2, 30))
            la, lo = _fmt(lat[i]), _fmt(lon[i])
            body = []
            if has_time[i]:
                body.append(f"<time>{_iso(t)}</time>")
            if SRCS[srcs[i]]:
                body.append(f"<src>{SRCS[srcs[i]]}</src>")
            if has_speed[i]:
                body.append(f"<speed>{speed[i]:.3f}</speed>")
            body.append(f"<ele>{ele[i]:.1f}</ele>")
            if i % 5 == 0:
                body.append(f"<sat>{4 + i % 9}</sat><hdop>0.9</hdop>"
                            f"<pdop>{1.2 + (i % 3) * 0.5:.1f}</pdop>")
            pt = f'<trkpt lat="{la}" lon="{lo}">{"".join(body)}</trkpt>'
            seg.append(pt)
            kept.append((float(la), float(lo)))
            if faulty and i == 3:
                seg.append(pt)  # exact duplicate: merged and dropped
            if faulty and i == 6:
                seg.append(f'<trkpt lat="garbled" lon="{lo}">'
                           f"<time>{_iso(t)}</time></trkpt>")
        parts.append("<trkseg>" + "".join(seg) + "</trkseg>")
    wpts: list[tuple[float, float]] = []
    wxml = []
    for _ in range(n_wpt):
        la = _fmt(lat0 + rng.normal(0, 0.002))
        lo = _fmt(lon0 + rng.normal(0, 0.002))
        wxml.append(f'<wpt lat="{la}" lon="{lo}"><name>w</name></wpt>')
        wpts.append((float(la), float(lo)))
    gpx = ('<?xml version="1.0" encoding="UTF-8"?>\n<gpx version="1.1">'
           f"<time>{_iso(_T0)}</time>{''.join(wxml)}"
           f"<trk>{''.join(parts)}</trk></gpx>\n")
    return Doc(name, gpx, np.asarray(kept, np.float64).reshape(-1, 2),
               np.asarray(wpts, np.float64).reshape(-1, 2))


def make_docs(seed: int, stream: str, n_docs: int, n_pts: int) -> list[Doc]:
    """``n_docs`` documents of ``n_pts`` track points from (seed, stream);
    streams are independent.  Document i has i % 3 waypoints."""
    rng = np.random.default_rng([seed & 0xFFFFFFFF, zlib.crc32(stream.encode())])
    spots = _spots(rng, n_docs)
    return [make_doc(rng, f"{stream}-{i:05d}", n_pts, i % 3, int(spots[i]))
            for i in range(n_docs)]


def write_docs(docs: list[Doc], out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for d in docs:
        p = os.path.join(out_dir, d.name + ".gpx")
        with open(p, "w") as f:
            f.write(d.gpx)
        paths.append(p)
    return paths


def n_points(docs: list[Doc]) -> tuple[int, int]:
    """(track points, waypoints) that survive parsing."""
    return sum(len(d.trk) for d in docs), sum(len(d.wpt) for d in docs)
