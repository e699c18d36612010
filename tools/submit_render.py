"""spark-submit entry point: the tile-pyramid render as a submitted job.

The north rule's literal deployment shape — ``spark-submit --py-files``
on a multi-executor cluster:

    python tools/make_pyfiles_zip.py /tmp/gpx2tiles_spark.zip
    /opt/spark/bin/spark-submit \\
        --master local-cluster[2,2,2048] \\
        --py-files /tmp/gpx2tiles_spark.zip \\
        tools/submit_render.py <docs_parquet_or_n_docs> <out_dir> \\
        [zoom_min] [zoom_max]

The package arrives on every executor via --py-files (NOT the driver's
sys.path — this file imports gpx2tiles_spark only after SparkSession
picks up the shipped zip), which is exactly how the job deploys on a
real YARN/K8s cluster; local-cluster gives separate executor JVMs with
a cross-JVM shuffle in this sandbox.  Prints one JSON line with the
per-zoom tile/point counts.  Exercised end to end by
tests/test_spark_submit.py.
"""

from __future__ import annotations

import json
import sys


def main() -> int:
    from pyspark.sql import SparkSession

    import os

    src = sys.argv[1]
    # absolutize on the driver: local-cluster executor JVMs run in their
    # own working directories
    out_dir = os.path.abspath(sys.argv[2])
    zmin = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    zmax = int(sys.argv[4]) if len(sys.argv) > 4 else 6

    spark = SparkSession.builder.appName("gpx2tiles-submit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # imports AFTER the session exists: the package comes from the
    # --py-files zip, on the driver and every executor alike
    from gpx2tiles_spark.config import EngineConfig
    from gpx2tiles_spark.corpus import generate_documents
    from gpx2tiles_spark.plans.pipeline import render_pyramid

    if src.isdigit():
        docs = generate_documents(spark, int(src))
    else:
        docs = spark.read.parquet(src)
    cfg = EngineConfig(zoom_min=zmin, zoom_max=zmax)
    res = render_pyramid(docs, cfg, out_dir=out_dir)
    print(json.dumps({
        "zooms": {r.z: {"tiles": r.tiles, "points": r.points}
                  for r in res.zoom_stats},
        "executors": spark.sparkContext.getConf().get("spark.master"),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
