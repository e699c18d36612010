"""Registry rows leave nothing behind in a long-lived session: no
persisted RDD, temp view, active stream or staged temp dir outlives the
call that built and collected the row (the reference bounds its
resident state the same way: -T caps the tiles held per zoom)."""
from __future__ import annotations

import glob
import os
import tempfile

import pytest

from conftest import SF_SMOKE, STATEFUL_ROWS


def _resident(spark) -> dict:
    jtmp = spark.sparkContext._jvm.System.getProperty("java.io.tmpdir")
    return {
        "persisted_rdds": set(spark.sparkContext._jsc.getPersistentRDDs()
                              .keys()),
        "temp_views": {t.name for t in spark.catalog.listTables()
                       if t.isTemporary},
        "active_streams": {str(q.id) for q in spark.streams.active},
        "staged_dirs": set(glob.glob(os.path.join(tempfile.gettempdir(),
                                                  "stream_*"))),
        # Spark's own checkpoint of a query started without one; a
        # failed query leaves it until the JVM exits
        "temp_checkpoints": set(glob.glob(os.path.join(jtmp,
                                                       "temporary-*"))),
    }


def test_stateful_rows_leave_nothing_behind(spark):
    from gpx2tiles_spark.queries import _REGISTRY

    before = _resident(spark)
    for name in STATEFUL_ROWS:
        _REGISTRY[name][0](spark, SF_SMOKE).collect()
        assert _resident(spark) == before, name


def test_drain_raises_on_a_failed_stream_and_cleans_up(spark):
    """A failed stream raises instead of returning the rows it got to,
    and still leaves no view, stream or staged dir behind."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from gpx2tiles_spark.queries import _drain, _replay, _stage_event_stream

    before = _resident(spark)
    ev = spark.createDataFrame([(i,) for i in range(4)], "x int")
    tmp = _stage_event_stream(ev, [F.col("x") < 2, F.col("x") >= 2])
    # the second file fails the query after the first batch landed
    stream = _replay(spark, ev, tmp).select(
        "x", F.assert_true(F.col("x") < 2).alias("ok"))
    with pytest.raises(StreamingQueryException):
        _drain(stream, tmp, "append")
    assert _resident(spark) == before
