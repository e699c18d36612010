"""gpx2tiles_spark — a PySpark-native slippy-map tiling + spatial analytics engine.

A from-scratch re-expression of the capabilities of raalkml/gpx2tiles
(reference: /root/reference, C, ~2.2k LoC) on the Spark DataFrame engine:

- parse GPX track points out of interleaved text+media document spans
  (``documents(doc_id, spans)``) with vectorized Arrow/pandas UDFs,
- project lat/lon to Web Mercator slippy tiles (z/x/y) and in-tile pixels
  with native Column expressions (JVM whole-stage codegen),
- expand track segments across tile boundaries with an integer CCW
  intersection clip, rasterize speed-colored polylines into 256x256 RGBA
  PNG tiles via partition-level Arrow folds,
- plus kNN lookup, point-in-polygon joins, dedup (exact/MinHash/SimHash),
  ANN cosine search, and text-quality operators for large corpus curation.

Design center: declare logical plans with the DataFrame API, let Catalyst
pick physical strategies; Python only in Arrow-batched kernels.
"""

__version__ = "0.1.0"

import sys as _sys

from . import _zipcache

# A Spark Python worker re-reads every zip on its import path at the start
# of each task on Python < 3.13 (measured ~0.2 CPU-s per task; see
# _zipcache); 3.13 already re-reads lazily.
if _sys.version_info < (3, 13) and _zipcache.on_spark_worker():
    _zipcache.install()
