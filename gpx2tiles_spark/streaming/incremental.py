"""Incremental tile updates with delta-snapshot/manifest checkpointing.

The reference updates tiles in place by drawing over existing PNGs
(open_tile loads `{z}/{x}/{y}.png` as the base — gpx2tiles.c:277-310,
README.md:20-22).  The engine's equivalent is an Iceberg-style
merge-on-read **TileStore**:

- each batch writes a DELTA snapshot containing ONLY the tiles it
  touched (per-batch write volume ∝ touched tiles, never O(store) — the
  round-1 copy-on-write full-store rewrite is gone);
- the write path does not merge: ``apply_batch`` hands the live
  snapshots' rows, each tagged with its snapshot id, to ``rasterize``,
  whose one tile shuffle puts a tile's base rows (newest first) ahead of
  its new events; the fold draws over the newest base and skips the
  tiles the batch does not touch;
- readers merge: ``current()`` / ``as_of()`` / ``diff()`` see the
  manifest-ordered latest-wins union of the live snapshots (one hash
  aggregate keyed (z,tx,ty) with ``max_by`` on the snapshot id — the
  Iceberg MERGE read shape);
- ``compact()`` folds the live snapshots into one and marks it in the
  manifest, bounding read amplification; ``apply_batch`` auto-compacts
  every ``compact_every`` deltas.

Snapshots are read with the known tile schema, so a read starts no
footer-inference job, as one scan whatever their number (the snapshot
id comes from the file's directory), so every batch runs the same plan
and reuses its generated code; a commit takes its per-zoom manifest stats
from an ``Observation`` on the snapshot write — no re-read.

Resume = skip batch keys already in the manifest — re-running a killed
job is idempotent.  No Iceberg jar is guaranteed in this environment, so
the substrate is plain parquet + JSON with the same semantics (atomic
manifest replace, immutable snapshot dirs, monotonic ids).

``run_streaming`` wraps the same batch update as a Structured Streaming
``foreachBatch`` sink over a documents directory — micro-batch arrival
of new document files incrementally updates the store.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import ZOOM_MAX_HARD, EngineConfig
from ..operators.events import build_events
from ..operators.parse import parse_documents
from ..operators.raster import (_FOLD_TARGET_ROWS, SNAPSHOT_COL,
                                TILES_SCHEMA, doc_range_bounds,
                                latest_tiles, rasterize)

# a snapshot's directory under the store root; its number is the id
_SNAPSHOT_DIR = "snapshot-{:05d}"
_SNAPSHOT_DIR_RE = r"/snapshot-(\d+)/[^/]*$"


@dataclass
class TileStore:
    spark: SparkSession
    root: str
    compact_every: int = 8  # auto-compact after this many live deltas

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"snapshots": []}

    def committed_batches(self) -> set[str]:
        return {s["batch_key"] for s in self.manifest()["snapshots"]}

    @staticmethod
    def _live_upto(snaps: list[dict]) -> list[dict]:
        """Of the given snapshot prefix, the ones that contribute to its
        end state: everything since (and including) the last compaction."""
        start = 0
        for i, s in enumerate(snaps):
            if s.get("kind") == "compact":
                start = i
        return snaps[start:]

    def _live(self) -> list[dict]:
        return self._live_upto(self.manifest()["snapshots"])

    def as_of(self, snapshot_id: int) -> DataFrame | None:
        """Time travel: the table state as of `snapshot_id` (inclusive) —
        the Iceberg-checkpoint read path.  A compaction at or before the
        id bounds how many deltas the merge touches, exactly like
        current(); later snapshots never contribute."""
        snaps = [s for s in self.manifest()["snapshots"]
                 if s["id"] <= snapshot_id]
        return self._merge(self._live_upto(snaps))

    def current(self) -> DataFrame | None:
        """Latest-wins merge of the live delta snapshots (merge-on-read)."""
        return self._merge(self._live())

    def diff(self, a_id: int, b_id: int | None = None) -> DataFrame | None:
        """Changed-tile detection between two snapshots: the partial
        re-render driver of an incremental pipeline (at 10^12 docs you
        re-render the tiles a new batch TOUCHED, not the pyramid).

        Full outer join of as_of(a) with as_of(b) (b defaults to the
        current state) on the tile key; per changed tile the point_cnt
        delta.  Both sides are per-tile-bounded stores, the join key is
        the store's own partition key, and counters are ADDITIVE, so the
        delta of two snapshots equals the stamp pyramid of the batches
        between them — the property the store_diff oracle row checks."""
        a = self.as_of(a_id)
        b = self.current() if b_id is None else self.as_of(b_id)
        if b is None:
            return None
        cols = ["z", "tx", "ty"]
        av = a.select(*cols, F.col("point_cnt").alias("_a")) if a is not None \
            else None
        bv = b.select(*cols, F.col("point_cnt").alias("_b"))
        j = bv if av is None else av.join(bv, cols, "full_outer")
        if av is None:
            j = j.withColumn("_a", F.lit(None).cast("long"))
        delta = F.coalesce(F.col("_b"), F.lit(0)) - F.coalesce(F.col("_a"),
                                                               F.lit(0))
        return (j.withColumn("delta", delta.cast("long"))
                .filter(F.col("delta") != 0)
                .select(*cols, "delta"))

    def _snapshots(self, live: list[dict]) -> DataFrame:
        """The rows of the given snapshots (none: an empty scan), each
        tagged with its id in :data:`SNAPSHOT_COL`.  Read with the known
        tile schema (schema inference would run one footer job per
        snapshot) as ONE scan, the id parsed from the file's snapshot
        directory: the plan, and so the code Spark generates for it, is
        the same however many snapshots are live (a union of scans
        tagged with literal ids compiles new code for every snapshot)."""
        df = self.spark.read.schema(TILES_SCHEMA).parquet(
            *[os.path.join(self.root, s["path"]) for s in live])
        sid = F.regexp_extract(F.col("_metadata.file_path"),
                               _SNAPSHOT_DIR_RE, 1).cast("long")
        return df.withColumn(SNAPSHOT_COL, sid)

    def _merge(self, live: list[dict]) -> DataFrame | None:
        if not live:
            return None
        df = self._snapshots(live)
        if len(live) == 1:
            return df.drop(SNAPSHOT_COL)
        return latest_tiles(df)

    def _commit(self, batch_key: str, tiles: DataFrame,
                kind: str = "delta") -> dict:
        m = self.manifest()
        sid = len(m["snapshots"])
        rel = _SNAPSHOT_DIR.format(sid)
        path = os.path.join(self.root, rel)
        # per-partition (zoom) lineage + metrics — the north rule's
        # per-partition accounting, derived from the rasterizer's
        # n_events/n_docs columns — observed on the write itself: no
        # re-read of the snapshot, no extra job
        aggs = []
        for z in range(ZOOM_MAX_HARD + 1):
            at = F.col("z") == z
            aggs += [
                F.count(F.when(at, 1)).alias(f"tiles_{z}"),
                F.sum(F.when(at, F.col("point_cnt"))).alias(f"points_{z}"),
                F.sum(F.when(at, F.col("n_events"))).alias(f"events_{z}"),
                F.max(F.when(at, F.col("n_docs"))).alias(f"docs_{z}"),
            ]
        obs = Observation()
        tiles.observe(obs, *aggs).write.mode("overwrite").parquet(path)
        got = obs.get
        stats = [{"z": z, "tiles": got[f"tiles_{z}"],
                  "points": got[f"points_{z}"], "events": got[f"events_{z}"],
                  "max_docs_per_tile": got[f"docs_{z}"]}
                 for z in range(ZOOM_MAX_HARD + 1) if got[f"tiles_{z}"]]
        entry = {
            "id": sid, "batch_key": batch_key, "path": rel, "kind": kind,
            "committed_at": time.time(),
            "n_tiles": sum(s["tiles"] for s in stats),
            "partitions": stats,
        }
        m["snapshots"].append(entry)
        os.makedirs(self.root, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic manifest swap
        return entry

    def compact(self) -> dict | None:
        """Fold the live snapshots into a single one (bounds the number of
        files current() must merge).  A no-op with <2 live snapshots."""
        if len(self._live()) < 2:
            return None
        cur = self.current()
        return self._commit(f"compact-{len(self.manifest()['snapshots']):05d}",
                            cur, kind="compact")

    def apply_batch(self, batch_key: str, documents: DataFrame,
                    cfg: EngineConfig) -> dict | None:
        """Render one batch of documents over the current store state and
        commit a DELTA snapshot of only the touched tiles.  Idempotent:
        committed keys are skipped."""
        if batch_key in self.committed_batches():
            return None
        # persist: the event union's branches each re-derive from the
        # scan otherwise (see plans/pipeline.py render_pyramid); released
        # in the finally once _commit has materialized the snapshot, so
        # long incremental runs don't accumulate cached batches
        points = parse_documents(documents).persist()
        try:
            # the persisted batch's size is known (one cheap job over the
            # cache), so size the raster-fold shuffles ∝ the batch instead
            # of the session's full-render partition count: a small delta
            # batch otherwise pays hundreds of near-empty Python tasks
            # per rasterize/write stage (events ≈ points × zooms).  This
            # is the engine's one row-derived fold-sizing rule; it floors
            # at 1, not at the core count, which would double a small
            # batch's fold tasks and its CPU
            if cfg.fold_partitions is None:
                conf_parts = int(self.spark.conf.get(
                    "spark.sql.shuffle.partitions"))
                est_events = points.count() * max(1, len(cfg.zooms()))
                cfg = dataclasses.replace(cfg, fold_partitions=max(1, min(
                    conf_parts, math.ceil(est_events / _FOLD_TARGET_ROWS))))
            events = build_events(points, cfg)
            # the live snapshots go in unmerged: rasterize takes each
            # touched tile's newest base inside its tile shuffle (the
            # first batch draws over an empty scan: one route, one plan)
            live = self._snapshots(self._live()).select(
                "z", "tx", "ty", "point_cnt", "png", SNAPSHOT_COL)
            entry = self._commit(batch_key, rasterize(events, cfg, store=live))
        finally:
            points.unpersist()
        if len(self._live()) > self.compact_every:
            self.compact()
        return entry


def _range_predicate(lo: str | None, hi: str | None):
    p = F.lit(True)
    if lo is not None:
        p = p & (F.col("doc_id") >= F.lit(lo))
    if hi is not None:
        p = p & (F.col("doc_id") < F.lit(hi))
    return p


def process_batches(spark: SparkSession, documents: DataFrame,
                    store_dir: str, cfg: EngineConfig | None = None,
                    n_batches: int = 4) -> TileStore:
    """Batch the corpus by contiguous doc_id RANGES (boundaries from a
    bounded sample — no driver-side id list) and apply each batch in
    order, resuming from the manifest.  Ascending contiguous ranges
    preserve the painter ordering across batches; the range predicates
    are plan literals of size O(n_batches), not an isin() of every id."""
    cfg = cfg or EngineConfig()
    store = TileStore(spark, store_dir)
    bounds = doc_range_bounds(documents, n_batches)
    edges: list[tuple[str | None, str | None]] = []
    cuts: list[str | None] = [None] + list(bounds) + [None]
    for i in range(len(cuts) - 1):
        edges.append((cuts[i], cuts[i + 1]))
    for b, (lo, hi) in enumerate(edges):
        batch = documents.filter(_range_predicate(lo, hi))
        store.apply_batch(f"batch-{b:04d}", batch, cfg)
    return store


def _stream_to_store(spark: SparkSession, stream: DataFrame, store_dir: str,
                     cfg: EngineConfig | None, key_prefix: str, to_documents,
                     checkpoint_dir: str | None, available_now: bool = True):
    """Start ``stream`` into the tile store at ``store_dir``: each
    non-empty micro-batch goes through ``to_documents`` and
    ``TileStore.apply_batch`` keyed ``{key_prefix}-{epoch:06d}``
    (exactly-once through manifest idempotence + Spark's streaming
    checkpoint, by default under the store root)."""
    cfg = cfg or EngineConfig()
    store = TileStore(spark, store_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.apply_batch(f"{key_prefix}-{epoch_id:06d}",
                          to_documents(batch_df), cfg)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation",
                checkpoint_dir or os.path.join(store_dir,
                                               "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_streaming(spark: SparkSession, docs_dir: str, store_dir: str,
                  cfg: EngineConfig | None = None,
                  checkpoint_dir: str | None = None):
    """Structured Streaming wrapper: new parquet files of documents
    arriving in docs_dir incrementally update the tile store via
    foreachBatch (exactly-once through manifest idempotence + Spark's
    streaming checkpoint)."""
    from ..corpus import SPANS_SCHEMA

    stream = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(docs_dir)
    )
    return _stream_to_store(spark, stream, store_dir, cfg, "epoch",
                            lambda df: df, checkpoint_dir)


def run_gpx_streaming(spark: SparkSession, gpx_dir: str, store_dir: str,
                      cfg: EngineConfig | None = None,
                      max_files_per_trigger: int = 4,
                      checkpoint_dir: str | None = None,
                      available_now: bool = True):
    """The reference's ``-0`` stdin arrival loop as Structured Streaming.

    gpx2tiles reads NUL-terminated file names from stdin and processes
    each as it arrives, the pipe buffer providing natural backpressure
    (gpx2tiles.c:1098-1108).  The Spark-native equivalent is a
    ``binaryFile`` FILE-ARRIVAL source over a drop directory:

    - arrival        = the file appearing in ``gpx_dir`` (the streaming
      source lists new files per trigger, exactly-once via the
      checkpoint's seen-files log);
    - backpressure   = ``maxFilesPerTrigger`` bounds each micro-batch
      like the pipe buffer bounds the reference's read loop;
    - processing     = each micro-batch runs the SAME batch pipeline
      (decode → parse → events → rasterize over the current store) via
      foreachBatch into the incremental :class:`TileStore`, whose
      manifest idempotence makes replays after a crash no-ops.

    With ``available_now`` the query drains the directory and stops
    (the reference's stdin-EOF exit); pass False for a continuous
    micro-batch trigger."""
    from ..sources.gpxfiles import binary_rows_to_documents

    stream = (
        spark.readStream.format("binaryFile")
        # the binaryFile source's fixed schema, stated explicitly
        # (streaming sources don't infer)
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", "*.gpx")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(gpx_dir)
    )
    return _stream_to_store(spark, stream, store_dir, cfg, "gpx-epoch",
                            binary_rows_to_documents, checkpoint_dir,
                            available_now)
