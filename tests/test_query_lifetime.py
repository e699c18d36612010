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


def _changed(spark, before: dict) -> dict:
    """What differs from ``before``, per key: entries added or removed.
    Under ``persisted_rdds`` only additions count: Spark's ContextCleaner
    frees an earlier test's unreferenced checkpoint RDDs
    (dedup.connected_components' localCheckpoint rounds) after some
    later JVM GC, so ids may vanish at any time during a row."""
    now = _resident(spark)
    diff = {k: now[k] ^ before[k] for k in now}
    diff["persisted_rdds"] = now["persisted_rdds"] - before["persisted_rdds"]
    return {k: v for k, v in diff.items() if v}


def test_stateful_rows_leave_nothing_behind(spark):
    from gpx2tiles_spark.queries import _REGISTRY

    before = _resident(spark)
    for name in STATEFUL_ROWS:
        _REGISTRY[name][0](spark, SF_SMOKE).collect()
        assert _changed(spark, before) == {}, name


def test_drain_raises_on_a_failed_stream_and_cleans_up(spark):
    """A failed stream raises instead of returning the rows it got to,
    and still leaves no view, stream or staged dir behind."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from gpx2tiles_spark.queries import _drain

    before = _resident(spark)
    ev = spark.createDataFrame([(i,) for i in range(4)], "x int")
    # the second file fails the query after the first batch landed
    with pytest.raises(StreamingQueryException):
        _drain(ev, [F.col("x") < 2, F.col("x") >= 2],
               lambda replay: replay().select(
                   "x", F.assert_true(F.col("x") < 2).alias("ok")),
               "append")
    assert _resident(spark) == before


def test_failed_staging_raises_and_cleans_up(spark):
    """A slice write or a stream build that fails re-raises its own
    error and removes the staged dir with whatever slices were already
    written."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from gpx2tiles_spark.queries import _drain

    before = _resident(spark)
    ev = spark.createDataFrame([(i,) for i in range(4)], "x int")
    halves = [F.col("x") < 2, F.col("x") >= 2]
    # the second slice's write fails after the first file was staged
    fails = F.assert_true(F.col("x") < 2, "second slice").isNull()
    with pytest.raises(Exception, match="second slice"):
        _drain(ev, [halves[0], fails], lambda replay: replay(), "append")
    assert _changed(spark, before) == {}
    # every slice is staged, then the stream's plan fails to resolve
    with pytest.raises(AnalysisException, match="no_such_col"):
        _drain(ev, halves, lambda replay: replay().select("no_such_col"),
               "append")
    assert _changed(spark, before) == {}
