"""Measurement helpers: CPU time and peak memory of the benchmark's
process tree, the host's steal share, Spark job groups and stage
counters, and layer timing by cumulative plan prefixes.

Layers are timed from outside the program, by calling each module's
public functions: every prefix of the render plan (read, +parse,
+events, +shuffle and sort, +fold and encode) is built afresh and run
to Spark's ``noop`` sink, and a layer's time is the difference between
consecutive prefixes.  Stage counters come from the JVM status store.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


def _tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def _tree_hwm(root: int) -> dict[int, int]:
    """Peak resident bytes (VmHWM) of ``root`` and its live descendants."""
    hwm = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return hwm


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its live
    descendants and the descendants they have reaped.  Time the
    hypervisor gives to other machines (steal) is not in it, so it
    holds steady where wall time does not."""
    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17
        ticks += sum(int(v) for v in stat[stat.rindex(")") + 2:].split()[11:15])
    return ticks / _TICK


class RssSampler:
    """Peak resident set of this process tree (this Python process, the
    JVM, the Python workers): the sum over its processes of each one's
    own high-water mark, polled every ``period`` seconds on a thread so
    that processes which exit early still count."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return sum(self._hwm.values())

    def _poll(self) -> None:
        for pid, v in _tree_hwm(os.getpid()).items():
            self._hwm[pid] = max(v, self._hwm.get(pid, 0))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``:
    steal is time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(since: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(1, total - since[1])


class Spark:
    """Job groups and stage counters of one session."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Run the body's jobs under a fresh job group; yields its id."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stages(self, gid: str) -> list:
        """StageData of the group's jobs that ran (skipped ones left out)."""
        tracker = self.sc.statusTracker()
        ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is not None:
                ids.update(info.stageIds)
        jvm = self.sc._jvm
        # the five-argument form: py4j cannot fill Scala default arguments
        stages = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())
        out, it = [], stages.iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() in ids and s.status().toString() != "SKIPPED":
                out.append(s)
        return out

    def counters(self, gid: str, wall_s: float) -> dict[str, float]:
        st = self.stages(gid)
        run_s = sum(s.executorRunTime() for s in st) / 1e3
        return {
            "spark.jobs": len(self.sc.statusTracker().getJobIdsForGroup(gid)),
            "spark.stages": len(st),
            "spark.tasks": sum(s.numCompleteTasks() for s in st),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s.executorCpuTime() for s in st) / 1e9,
            "spark.gc_s": sum(s.jvmGcTime() for s in st) / 1e3,
            "spark.idle_core_s": self.cores * wall_s - run_s,
        }

    def shuffle_write_mb(self, gid: str) -> float:
        return sum(s.shuffleWriteBytes() for s in self.stages(gid)) / 1e6

    def last_stage_tasks(self, gid: str) -> int:
        return max(self.stages(gid), key=lambda s: s.stageId()).numTasks()


def run_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def render_prefixes(tr: Spark, paths: list[str], cfg) -> dict[str, float]:
    """Cumulative prefixes of the store-less render of ``paths``, each
    run to the noop sink from a fresh read.  The parse output is cached
    as the program's own render caches it, so each prefix parses once.
    Returns layer times (differences of prefixes) and row counts."""
    from gpx2tiles_spark.operators.events import build_events
    from gpx2tiles_spark.operators.parse import parse_documents
    from gpx2tiles_spark.operators.raster import prepared_events, rasterize
    from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list

    spark = tr.spark
    plans = [
        ("read", lambda pts: None),
        ("parse", lambda pts: pts),
        ("events", lambda pts: build_events(pts, cfg)),
        ("shuffle_sort", lambda pts: prepared_events(build_events(pts, cfg), cfg)),
        ("fold_encode", lambda pts: rasterize(build_events(pts, cfg), cfg)),
    ]
    times, rows, groups = {}, {}, {}
    for name, plan in plans:
        with tr.group(name) as gid:
            t0 = time.perf_counter()
            docs = read_gpx_file_list(spark, paths)
            if name == "read":
                df, points = docs, None
            else:
                points = parse_documents(docs).persist()
                df = plan(points)
            obs = Observation(name)
            run_noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
            times[name] = time.perf_counter() - t0
            rows[name] = obs.get["rows"]
            if points is not None:
                points.unpersist()
        groups[name] = gid
    fold_tasks = tr.last_stage_tasks(groups["fold_encode"])
    return {
        "gpxfiles.read_s": times["read"],
        "parse.s": times["parse"] - times["read"],
        "parse.points": rows["parse"],
        "events.s": times["events"] - times["parse"],
        "events.rows": rows["events"],
        "events.per_point": rows["events"] / max(1, rows["parse"]),
        "raster.shuffle_sort_s": times["shuffle_sort"] - times["events"],
        "raster.shuffle_write_mb": tr.shuffle_write_mb(groups["shuffle_sort"])
        - tr.shuffle_write_mb(groups["events"]),
        "raster.fold_encode_s": times["fold_encode"] - times["shuffle_sort"],
        "raster.fold_tasks": fold_tasks,
        "raster.rows_per_task": rows["events"] / max(1, fold_tasks),
        "raster.tiles": rows["fold_encode"],
        "_render_s": times["fold_encode"],
    }


def png_metrics(pngs: list[bytes], images: list) -> dict[str, float]:
    """Encode time per tile through the program's codec, on decoded
    output tiles, and the mean PNG size of the output."""
    from gpx2tiles_spark.pngcodec import encode_png

    t0 = time.perf_counter()
    for img in images:
        encode_png(img)
    dt = time.perf_counter() - t0
    return {"png.encode_ms_per_tile": 1e3 * dt / max(1, len(images)),
            "png.bytes_per_tile": sum(map(len, pngs)) / max(1, len(pngs))}
