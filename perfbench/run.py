"""Benchmark of the gpx2tiles_spark engine.

    python3 perfbench/run.py --workload render_bulk --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  Workloads (see README.md):
``render_bulk`` and ``update_small``.  Each run generates its inputs
from ``--seed``, starts one ``local[<cores>]`` session, warms it up,
then runs whole rounds of the workload's operations until ``--seconds``
have passed, checking every operation's output.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer
with ``--trace 1``).  All files go under ``.perfbench_work/`` in the
checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms_per_tile"):
        return "ms"
    if name.endswith("bytes_per_tile"):
        return "B"
    if name.endswith(("per_point", "per_task", "_share")):
        return "ratio"
    return "count"


def _env(work: str) -> None:
    """Keep the session's files inside the work directory and let the
    Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.pop("SPARK_GRAFT_TMPFS", None)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "pyspark-shell")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except (Py4JError, OSError):
        pass  # the gateway broke mid-call (a signal); the JVM ends on EOF
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _log(t0: float, msg: str) -> None:
    print(f"perfbench {time.perf_counter() - t0:7.1f}s {msg}", file=sys.stderr,
          flush=True)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import tracing
    from workloads import WORKLOADS

    t_setup = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work)
    spark = None
    try:
        with tracing.RssSampler() as rss:
            import check
            check.self_test(work)
            _log(t_setup, "checkers self-tested")
            from gpx2tiles_spark.session import get_spark

            cores = len(os.sched_getaffinity(0))
            spark = get_spark(app=f"perfbench-{workload}", master=f"local[{cores}]")
            spark.sparkContext.setLogLevel("ERROR")
            _log(t_setup, f"session local[{cores}] started")
            wl = WORKLOADS[workload](spark, work, seed)
            _log(t_setup, "inputs written")
            wl.warm()
            _log(t_setup, "warmed up")
            setup_s = time.perf_counter() - t_setup

            rounds, traced = [], []

            def plain_round() -> None:
                since = tracing.cpu_ticks()
                ops = wl.round(traced=False)
                rounds.append((tracing.steal_share(since), ops))
                _log(t_setup, "round: wall " + ", ".join(
                    f"{o.seconds:.2f}" for o in ops) + " s, cpu " + ", ".join(
                    f"{o.cpu_s:.1f}" for o in ops) + f" s, steal {rounds[-1][0]:.3f}")

            t0 = time.perf_counter()
            while time.perf_counter() - t0 < seconds:
                plain_round()
                if trace:
                    traced += wl.round(traced=True)
                    _log(t_setup, "traced round done")
            if trace:  # untraced rounds on both sides of the traced ones
                plain_round()
            plain = [o for _, r in rounds for o in r]
            ops = plain + traced
            op_cpu = _median([o.cpu_s for o in plain])
            if trace:
                metrics = _layers(traced, _median([o.seconds for o in plain]))
                metrics["host.steal_share"] = (_median([st for st, _ in rounds]),
                                               "ratio")
            else:
                metrics = {"setup_s": (setup_s, "s"), "op_cpu_s": (op_cpu, "s"),
                           **wl.e2e(op_cpu)}
        if not trace:
            metrics["peak_rss_mb"] = (rss.peak / 1e6, "MB")
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # when no other run uses it
            except OSError:
                pass
    for o in ops:
        for e in o.errors[:5]:
            print(f"fault: {e}", file=sys.stderr)
    failed = sum(1 for o in ops if o.errors)
    return {"correct": failed == 0, "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def _layers(traced, op_s: float) -> dict[str, tuple[float, str]]:
    """Median of each per-layer figure over the traced operations, plus
    the tracing overhead against the untraced operations of the run."""
    names = sorted({k for o in traced if o.layers for k in o.layers})
    out = {k: (float(_median([o.layers[k] for o in traced
                              if o.layers and k in o.layers])), _unit(k))
           for k in names}
    traced_s = _median([o.seconds for o in traced])
    out["trace.op_s"] = (op_s, "s")
    out["trace.overhead_s"] = (traced_s - op_s, "s")
    # the layer times telescope to the traced operation's time
    out["trace.layer_sum_share"] = (traced_s / op_s, "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["render_bulk", "update_small"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gpx2tiles_spark", "__init__.py")):
        print(f"perfbench: no gpx2tiles_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
