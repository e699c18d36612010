"""Filesystem tile-pyramid source/sink utilities.

The reference's native store is the ``{z}/{x}/{y}.png`` directory tree
(gpx2tiles.c:223-227).  These helpers let the engine resume from / merge
into such a tree directly:

- ``read_tile_pyramid``: binaryFile scan + path parse → (z, tx, ty, png)
  DataFrame, usable as the ``store=`` side of ``rasterize`` (S5/J3).
- ``remove_tiles``: the ``-I`` truncate (S7, gpx2tiles.c:770-801).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_tile_pyramid(spark: SparkSession, root: str,
                      zooms: list[int] | None = None) -> DataFrame:
    """Load an existing ``{root}/{z}/{x}/{y}.png`` tree as a DataFrame;
    with ``zooms``, only those ``{root}/{z}`` subtrees (each must exist)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .option("recursiveFileLookup", "true")
        .load(root if zooms is None
              else [os.path.join(root, str(z)) for z in zooms])
    )
    path = F.col("path")
    return df.select(
        F.regexp_extract(path, r"/(\d+)/(\d+)/(\d+)\.png$", 1).cast("int").alias("z"),
        F.regexp_extract(path, r"/(\d+)/(\d+)/(\d+)\.png$", 2).cast("int").alias("tx"),
        F.regexp_extract(path, r"/(\d+)/(\d+)/(\d+)\.png$", 3).cast("int").alias("ty"),
        F.col("content").alias("png"),
    )


def remove_tiles(root: str, zoom_min: int, zoom_max: int) -> int:
    """Delete ``{root}/{z}`` trees for z in [zoom_min, zoom_max] — the
    reference's -I mode.  Returns the number of zoom dirs removed."""
    n = 0
    for z in range(zoom_min, zoom_max + 1):
        d = os.path.join(root, str(z))
        if os.path.isdir(d):
            shutil.rmtree(d)
            n += 1
    return n
