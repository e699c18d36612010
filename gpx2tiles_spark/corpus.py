"""Deterministic synthetic corpus of interleaved text+media+GPX documents.

Produces the engine's canonical input table (BASELINE.json input_hint):

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Fully deterministic per doc_id (seeded numpy Philox) and generated
*distributedly* — ``spark.range(n).mapInPandas(...)`` — so the same
generator scales from the 60-doc test corpus to a 10^12-doc bench corpus
without a driver-side loop.

Content exercises every reference parse path (FIXTURES.md §1): mixed
``<src>`` values incl. custom ones, TIME-without-SPEED runs (speed
synthesis), exact consecutive duplicates (merge+drop), garbled lat/lon
(drop), multi-trkseg docs, waypoints, file times; plus an urban-corridor
hot-spot cluster so low-zoom tiles are heavily skewed (the north_rule's
skew scenario).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SPANS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ])), False),
])

# Urban corridor hot spots (lat, lon, weight): most tracks cluster here so
# the corresponding z10-z14 tiles are orders of magnitude hotter than the
# world average — deliberate skew for the salting/AQE story.
_HOTSPOTS = [
    (48.9157, 8.5038, 0.45),   # Karlsruhe (the reference fixture's area)
    (52.5200, 13.4050, 0.20),  # Berlin
    (40.7128, -74.0060, 0.15),
]

_WORDS = ("track point tile zoom speed route hill forest river city road"
          " morning evening ride walk fast slow north south east west").split()


def _iso(t: int) -> str:
    """Deterministic ISO stamp from an offset off 2016-06-25T00:00:00Z."""
    from datetime import datetime, timezone

    d = datetime.fromtimestamp(1466812800 + int(t), tz=timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%SZ")


def _gen_trkseg(rng: np.random.Generator, lat0: float, lon0: float,
                t0: int, hard: bool) -> tuple[str, int]:
    """One <trkseg> XML + end time. `hard` mixes in every edge case."""
    n = int(rng.integers(5, 28))
    step = rng.normal(0.0, 2.5e-4, size=(n, 2))
    lats = lat0 + np.cumsum(step[:, 0])
    lons = lon0 + np.cumsum(step[:, 1])
    dts = rng.integers(5, 60, size=n)
    times = np.cumsum(dts) + t0
    srcs = rng.choice(["gps", "network", "", "fused"], size=n,
                      p=[0.55, 0.25, 0.15, 0.05])
    has_speed = rng.random(n) < 0.6
    has_time = rng.random(n) < (0.9 if hard else 1.0)
    speeds = np.abs(rng.normal(6.0, 5.0, size=n))
    parts = []
    for i in range(n):
        attrs = f'lat="{lats[i]:.8f}" lon="{lons[i]:.8f}"'
        if hard and i == 2:
            attrs = f'lat="garbled" lon="{lons[i]:.8f}"'  # dropped (S3)
        body = []
        if has_time[i]:
            body.append(f"<time>{_iso(times[i])}</time>")
        if srcs[i]:
            body.append(f"<src>{srcs[i]}</src>")
        if has_speed[i]:
            body.append(f"<speed>{speeds[i]:.6f}</speed>")
        if rng.random() < 0.5:
            body.append(f"<ele>{300 + 20 * rng.random():.1f}</ele>")
        if rng.random() < 0.3:
            body.append(f"<sat>{int(rng.integers(4, 15))}</sat>")
            body.append(f"<hdop>{0.7 + rng.random():.1f}</hdop>")
            body.append(f"<vdop>{0.7 + rng.random():.1f}</vdop>")
            body.append(f"<pdop>{1.0 + rng.random():.1f}</pdop>")
        parts.append(f'<trkpt {attrs}>{"".join(body)}</trkpt>')
        if hard and i == 4:
            parts.append(parts[-1])  # exact consecutive duplicate (R2)
    return "<trkseg>" + "".join(parts) + "</trkseg>", int(times[-1])


def generate_document(doc_id: int) -> list[dict]:
    """Spans of one document — pure function of doc_id."""
    rng = np.random.default_rng(np.random.Philox(key=0xC0FFEE ^ doc_id))
    r = rng.random()
    acc = 0.0
    lat0, lon0 = None, None
    for la, lo, w in _HOTSPOTS:
        acc += w
        if r < acc:
            lat0 = la + rng.normal(0, 0.02)
            lon0 = lo + rng.normal(0, 0.02)
            break
    if lat0 is None:
        lat0 = float(rng.uniform(-70, 70))
        lon0 = float(rng.uniform(-179, 179))

    hard = doc_id % 7 == 0
    t0 = int(rng.integers(0, 86400 * 10))
    spans: list[dict] = []
    offset = 0

    def add(kind, text=None, media_ref=None):
        nonlocal offset
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": offset})
        offset += len(text) if text else 16

    n_text = int(rng.integers(1, 4))
    n_gpx = int(rng.integers(1, 3))
    add("text", " ".join(rng.choice(_WORDS, size=int(rng.integers(5, 30)))))
    for g in range(n_gpx):
        n_seg = int(rng.integers(1, 3))
        segs = []
        tt = t0
        for s in range(n_seg):
            xml, tt = _gen_trkseg(rng, lat0 + 0.001 * s, lon0 + 0.001 * s, tt, hard and s == 0)
            segs.append(xml)
        wpt = ""
        if rng.random() < 0.3:
            wpt = (f'<wpt lat="{lat0:.8f}" lon="{lon0:.8f}">'
                   f"<time>{_iso(t0)}</time><name>w</name></wpt>")
        gpx = (f"<gpx><time>{_iso(t0)}</time>{wpt}"
               f"<trk>{''.join(segs)}</trk></gpx>")
        add("gpx", gpx)
        if rng.random() < 0.5:
            add("media", media_ref=f"media://{abs(hash((doc_id, g))) % 10**12:012d}")
        if g + 1 < n_gpx or rng.random() < 0.5:
            add("text", " ".join(rng.choice(_WORDS, size=int(rng.integers(3, 15)))))
    return spans


def generate_documents(spark: SparkSession, n_docs: int,
                       partitions: int | None = None,
                       start: int = 0) -> DataFrame:
    """Distributed deterministic corpus as a DataFrame (doc ids
    [start, start + n_docs) — a doc's content depends only on its id, so
    disjoint ranges from different processes tile the same corpus)."""

    def gen(batches):
        for pdf in batches:
            rows = [{"doc_id": f"doc{int(i):08d}",
                     "spans": generate_document(int(i))}
                    for i in pdf["id"]]
            yield pd.DataFrame(rows)

    # partition count scales with BOTH the corpus and the cluster: the
    # old max(8, n/2048) floor left a bench-sized corpus on 8 of 32
    # cores for generation, parse and every downstream stage that reads
    # the persisted parse (persist pins the partitioning), while a
    # cluster-parallelism floor wasted ~0.3 s of empty-task overhead on
    # tiny (≤ 100-doc) corpora — so target ~3 docs/task up to the
    # cluster's parallelism, and beyond that ~2048 docs/task
    n_parts = partitions or max(
        1, min(spark.sparkContext.defaultParallelism, n_docs // 3),
        n_docs // 2048)
    rng = spark.range(start, start + n_docs, numPartitions=n_parts)
    return rng.mapInPandas(gen, SPANS_SCHEMA)
