"""Parse stage: documents(doc_id, spans) → canonical points DataFrame.

Spark-first design: every input row already carries ALL of its spans
(nested array column), and the reference's parse unit is one document
(gpx.c:444-492) — so the parse is **embarrassingly parallel** and runs as
``mapInPandas`` with *zero shuffle*: no groupBy, no repartition, straight
Arrow batches through the reference-faithful pure-Python core
(gpx2tiles_spark.gpxparse).  At 10^12 documents this is a map-only stage
whose parallelism equals the input split count.

Output schema = FIXTURES.md §2 (one row per track point / waypoint,
NULL-free numeric columns + explicit `flags` bitmask, since the reference
reads/writes flags explicitly — SURVEY.md §1.1).  The one exception is
the chain predecessor ``prev_lat, prev_lon`` (the draw loop's ppt,
gpx2tiles.c:607, 704-710): NULL at the first point of each chain, where
a chain is one track segment or the document's waypoint list.  The
parse emits every chain in order, so pairing here needs no window.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..gpxparse import SRC_WAYPOINT, parse_gpx_document

POINTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("seg_order", T.IntegerType(), False),
    T.StructField("src", T.StringType(), False),
    T.StructField("pt_idx", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),  # 'trkpt' | 'wpt'
    T.StructField("lat", T.DoubleType(), False),
    T.StructField("lon", T.DoubleType(), False),
    T.StructField("time", T.StringType(), False),
    T.StructField("speed", T.DoubleType(), False),
    T.StructField("sat", T.IntegerType(), False),
    T.StructField("ele", T.FloatType(), False),
    T.StructField("geoidheight", T.FloatType(), False),
    T.StructField("course", T.FloatType(), False),
    T.StructField("hdop", T.FloatType(), False),
    T.StructField("vdop", T.FloatType(), False),
    T.StructField("pdop", T.FloatType(), False),
    T.StructField("flags", T.IntegerType(), False),
    T.StructField("file_time", T.StringType(), False),
    T.StructField("prev_lat", T.DoubleType(), True),
    T.StructField("prev_lon", T.DoubleType(), True),
])

# waypoints draw after all of a file's segments (gpx2tiles.c:733-735);
# give them a seg_order above any real segment's
WPT_SEG_ORDER = 1 << 20


def _doc_rows(doc_id: str, spans, local_time: bool = False) -> list[tuple]:
    gpx_texts = [s["text"] for s in spans
                 if s["kind"] == "gpx" and s["text"]]
    if not gpx_texts:
        return []
    file_time, segments, wpts, _cnt = parse_gpx_document(gpx_texts, local_time)
    chains = [(seg_order, seg.src, "trkpt", seg.points)
              for seg_order, seg in enumerate(segments)]
    chains.append((WPT_SEG_ORDER, SRC_WAYPOINT, "wpt", wpts))
    rows = []
    for seg_order, src, kind, pts in chains:
        prev_lat = prev_lon = None  # each chain starts unpaired
        for pt_idx, p in enumerate(pts):
            rows.append((doc_id, seg_order, src, pt_idx, kind,
                         p.lat, p.lon, p.time, p.speed, p.sat, p.ele,
                         p.geoidheight, p.course, p.hdop, p.vdop, p.pdop,
                         p.flags, file_time, prev_lat, prev_lon))
            prev_lat, prev_lon = p.lat, p.lon
    return rows


def _make_parse_batches(local_time: bool = False):
    def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = list(POINTS_SCHEMA.fieldNames())
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                rows.extend(_doc_rows(doc_id, spans, local_time))
            out = pd.DataFrame(rows, columns=cols)
            if len(out):
                out = out.astype({
                    "seg_order": np.int32, "pt_idx": np.int32, "sat": np.int32,
                    "flags": np.int32, "lat": np.float64, "lon": np.float64,
                    "speed": np.float64, "ele": np.float32,
                    "geoidheight": np.float32, "course": np.float32,
                    "hdop": np.float32, "vdop": np.float32, "pdop": np.float32,
                    "prev_lat": np.float64, "prev_lon": np.float64,
                })
            yield out
    return _parse_batches


def parse_documents(documents: DataFrame, local_time: bool = False) -> DataFrame:
    """documents(doc_id, spans) → points (map-only, no shuffle).

    Column pruning: only doc_id + spans are read from the scan; the
    filter to gpx spans happens inside the Arrow batch (the spans of one
    doc live in one cell — a relational pre-filter would need posexplode
    + re-group, i.e. a shuffle the reference's per-file parse never pays).
    ``local_time=True`` reproduces the reference's mktime local-time
    quirk (K6) for deltas; default pins UTC.
    """
    return documents.select("doc_id", "spans").mapInPandas(
        _make_parse_batches(local_time), POINTS_SCHEMA
    )


def explode_spans(documents: DataFrame) -> DataFrame:
    """Relational view of spans (posexplode) for span-level operators and
    the span-sequence invariant check — order preserved via span_idx."""
    return documents.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id", "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_spans(exploded: DataFrame) -> DataFrame:
    """Inverse of explode_spans — proves the span-sequence invariant
    (kind, text, media_ref, order) survives the relational round-trip."""
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_idx", "kind", "text",
                                        "media_ref", "offset"))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"), s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )
