"""Structured Streaming operators over the live event stream.

Two shapes the 100 TB pipeline needs beyond the foreachBatch tile
updater (incremental.py):

- ``windowed_tile_counts`` — event-time tumbling-window per-tile counts
  with a WATERMARK: late points inside the watermark still land in
  their window; state for closed windows is dropped, so the operator
  runs forever on bounded memory (the streaming twin of A1).
- ``sessionize_stateful`` — a CUSTOM stateful operator via
  ``applyInPandasWithState``: per-user gap sessionization whose state
  (last event time, running session/event counters) persists across
  micro-batches.  This is the engine's template for reference-style
  sequential semantics on an unbounded stream (the batch twin is
  operators/geo.sessionize; the oracle is the same SQL).

Both are pure event-time operators: determinism comes from the data,
not arrival wall-clock, so a replay yields identical results.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import projection as P


def windowed_tile_counts(stream_points: DataFrame, z: int = 12,
                         window: str = "10 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Streaming A1: per-(event-time window, tile) point counts.

    ``stream_points`` needs (ts: timestamp, lat, lon).  The watermark
    bounds state: a window closes once the event-time high-water mark
    passes window_end + watermark, after which its count is final and
    its state evicted."""
    tx = P.tilex_col(F.col("lon"), z)
    ty = P.tiley_col(F.col("lat"), z)
    return (
        stream_points.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"),
                 tx.alias("tx"), ty.alias("ty"))
        .agg(F.count("*").alias("point_cnt"))
        .select(F.col("w.start").alias("window_start"), "tx", "ty",
                "point_cnt")
    )


def dedup_events_stream(stream_events: DataFrame,
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once dedup — the streaming twin of the batch
    ``dedup_exact``: each event_id is emitted ONCE no matter how many
    times it arrives across micro-batches.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``)
    bounds the key state to the watermark horizon — unbounded streaming
    dedup state grows O(distinct keys ever seen), which is exactly the
    thing that falls over at 100 TB; within-watermark state is
    O(keys per watermark window).  Duplicates later than the watermark
    are dropped by the watermark filter itself, so the CONVERGED output
    still equals the batch DISTINCT either way.

    ``stream_events`` needs (event_id, ts)."""
    return (stream_events
            .select("event_id", F.col("ts").cast("timestamp").alias("ts"))
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def interval_join_stream(points: DataFrame, alerts: DataFrame,
                         lookback_minutes: int = 10,
                         watermark: str = "2 hours") -> DataFrame:
    """Stream-STREAM event-time interval join: each point picks up the
    alerts of the same user whose event time falls in
    ``[point.ts - lookback, point.ts]``.

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so Spark can size and EVICT the buffered state
    (the stream-stream join state would otherwise grow without bound —
    the 100 TB failure mode).  With an in-order replay the converged
    inner-join output equals the batch interval join exactly.

    ``points`` needs (event_id, user_id, ts); ``alerts`` needs
    (alert_id, a_user_id, a_ts) — pre-renamed, because stream-stream
    joins forbid ambiguous column references across sides."""
    p = points.select("event_id", "user_id",
                      F.col("ts").cast("timestamp").alias("ts")) \
        .withWatermark("ts", watermark)
    a = alerts.select("alert_id", "a_user_id",
                      F.col("a_ts").cast("timestamp").alias("a_ts")) \
        .withWatermark("a_ts", watermark)
    cond = F.expr(
        f"user_id = a_user_id AND "
        f"a_ts >= ts - INTERVAL {int(lookback_minutes)} MINUTES AND "
        f"a_ts <= ts")
    return p.join(a, cond, "inner").select("event_id", "alert_id")


SESSION_OUTPUT = T.StructType([
    T.StructField("user_id", T.LongType(), False),
    T.StructField("n_events", T.LongType(), False),
    T.StructField("n_sessions", T.LongType(), False),
])

SESSION_STATE = T.StructType([
    T.StructField("last_es", T.DoubleType(), True),
    T.StructField("n_events", T.LongType(), True),
    T.StructField("n_sessions", T.LongType(), True),
])


def _session_fn(gap_sec: float):
    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_es, n_events, n_sessions = state.get
        else:
            last_es, n_events, n_sessions = None, 0, 0
        # materialize the group's micro-batch before sorting: the
        # iterator delivers a group as MULTIPLE Arrow chunks (split at
        # arrow.maxRecordsPerBatch) with no cross-chunk time order, so a
        # per-chunk sort would process >10k-event batches out of
        # event-time order and corrupt the carried state
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = (pd.concat(chunks, ignore_index=True)
                 if chunks else pd.DataFrame(columns=["es", "event_id"]))
        for pdf in (batch,):
            pdf = pdf.sort_values(["es", "event_id"], kind="stable")
            for es in pdf["es"]:
                es = float(es)
                if last_es is None or es - last_es > gap_sec:
                    n_sessions += 1
                last_es = es
                n_events += 1
        state.update((last_es, n_events, n_sessions))
        yield pd.DataFrame([{
            "user_id": int(key[0]), "n_events": n_events,
            "n_sessions": n_sessions,
        }])

    return fn


def sessionize_stateful(stream_events: DataFrame,
                        gap_minutes: float = 30.0) -> DataFrame:
    """Custom stateful streaming sessionizer (applyInPandasWithState).

    Per user, a new session starts when the gap to the previous event
    exceeds ``gap_minutes``; per-user state carries (last event time,
    cumulative event/session counts) across micro-batches, so replaying
    the stream in event-time order converges to the batch sessionizer
    (oracle: the `sessionize` SQL; pytest: exact equality after an
    ordered two-batch replay).

    ``stream_events`` needs (user_id, event_id, ts: timestamp)."""
    src = stream_events.select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("es"))
    return src.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_minutes * 60.0),
        SESSION_OUTPUT, SESSION_STATE,
        "update", GroupStateTimeout.NoTimeout)


GEOFENCE_OUTPUT = T.StructType([
    T.StructField("user_id", T.LongType(), False),
    T.StructField("pid", T.LongType(), False),
    T.StructField("from_region", T.LongType(), False),
    T.StructField("to_region", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
])

GEOFENCE_STATE = T.StructType([
    T.StructField("last_region", T.LongType(), True),
])


def _geofence_fn():
    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        out = []
        # same chunk-materialization as _session_fn: a group's
        # micro-batch arrives as multiple unordered Arrow chunks, and
        # transitions computed per chunk would interleave out of
        # event-time order for >10k-event batches
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = (pd.concat(chunks, ignore_index=True) if chunks
                 else pd.DataFrame(columns=["es", "pid", "region"]))
        for pdf in (batch,):
            pdf = pdf.sort_values(["es", "pid"], kind="stable")
            for pid, region in zip(pdf["pid"], pdf["region"]):
                region = int(region)
                if last is not None and last != region:
                    out.append({
                        "user_id": int(key[0]), "pid": int(pid),
                        "from_region": int(last), "to_region": region,
                        "kind": ("enter" if last == -1
                                 else "exit" if region == -1 else "switch"),
                    })
                last = region
        state.update((last,))
        yield pd.DataFrame(out, columns=[f.name for f in GEOFENCE_OUTPUT])

    return fn


def geofence_stateful(stream_points: DataFrame,
                      rects: DataFrame) -> DataFrame:
    """Streaming geofence transitions (applyInPandasWithState): the
    batch geofence operator (operators/trajectory.py) lifted onto an
    unbounded stream.

    The containing region is attached BEFORE the stateful step by the
    same LEFT broadcast stream-static containment join the batch plan
    uses (outside = -1); per-user state is ONE long — the last region —
    so state is permanently bounded at |users| rows regardless of
    stream length, and each transition is emitted exactly once, in the
    micro-batch whose events complete the pair.  Replaying the stream
    in event-time order therefore converges to the batch operator
    row-for-row (the oracle row checks exactly this).

    ``stream_points`` needs (pid, user_id, ts, lon, lat)."""
    p, r = stream_points.alias("p"), rects.alias("r")
    tagged = p.join(
        F.broadcast(r),
        (F.col("p.lat") >= F.col("r.lat_min"))
        & (F.col("p.lat") < F.col("r.lat_max"))
        & (F.col("p.lon") >= F.col("r.lon_min"))
        & (F.col("p.lon") < F.col("r.lon_max")),
        "left",
    ).select(
        "p.pid", "p.user_id",
        F.col("p.ts").cast("timestamp").cast("double").alias("es"),
        F.coalesce(F.col("r.region_id"), F.lit(-1)).cast("long")
        .alias("region"))
    return tagged.groupBy("user_id").applyInPandasWithState(
        _geofence_fn(), GEOFENCE_OUTPUT, GEOFENCE_STATE,
        "update", GroupStateTimeout.NoTimeout)
