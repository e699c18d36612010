"""Full-registry sf1 sweep (VERDICT r04 #3): every registered query runs
at the synthesized 10x corpus (.bench_sf1 — events, documents AND
embeddings tiled 10x with disjoint ids; corpus queries at 1,200 docs =
10x sf0.1), each timed with the bandwidth-aware clean gate AND
hash-checked against its DuckDB oracle at the SAME scale.  This turns
the dedup/ANN/text family's 100 TB claims from plan-shape arguments
into a measured decade, like the spatial tier's round-4 stress.

Usage:  python tools/bench_sf1_full.py [query ...]
Writes BENCH/sf1_full.json and prints a compact summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

from bench_sf1 import ORACLE_SETTINGS, SF1_DIR, ensure_sf1  # noqa: E402
from check_oracles import canon, run_oracle  # noqa: E402


def main() -> int:
    from bench import _timed_clean
    from gpx2tiles_spark.queries import oracle_sql, queries
    from gpx2tiles_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app="bench_sf1_full", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus * 4))
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    ensure_sf1(spark)

    qs, osql = queries(), oracle_sql()
    names = sys.argv[1:] or list(qs)
    # merge-resume: re-running a subset updates those rows in place
    path = os.path.join(_REPO, "BENCH", "sf1_full.json")
    results: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            results = json.load(f).get("queries", {})
    fails = 0
    for name in names:
        state: dict = {}

        def run(q=qs[name]):
            df = q(spark, SF1_DIR)
            state["cols"] = df.columns
            state["rows"] = [tuple(r) for r in df.collect()]

        try:
            sec, info = _timed_clean(run, attempts=2)
            sn, sh = canon(state["rows"], state["cols"])
            rec = {"sec": round(sec, 3), "rows": sn,
                   "bw_gbps": info.get("bw_gbps"),
                   "clean": info.get("clean")}
            if name in osql:
                to0 = time.time()
                orows, ocols = run_oracle(osql[name], SF1_DIR, ORACLE_SETTINGS)
                on, oh = canon(orows, ocols)
                rec["oracle_rows"] = on
                rec["oracle_sec"] = round(time.time() - to0, 3)
                rec["hash"] = "MATCH" if (
                    sn == on and sorted(state["cols"]) == sorted(ocols)
                    and sh == oh) else "MISMATCH"
                if rec["hash"] != "MATCH":
                    fails += 1
            else:
                rec["hash"] = "rows_only"
            results[name] = rec
        except Exception as e:  # noqa: BLE001
            results[name] = {"error": f"{type(e).__name__}: {e}"}
            fails += 1
        r = results[name]
        print(f"  {name}: {r.get('sec', '-')}s rows={r.get('rows', '-')} "
              f"{r.get('hash', r.get('error'))}", flush=True)

    fails = sum(1 for r in results.values()
                if r.get("hash") == "MISMATCH" or "error" in r)
    n_match = sum(1 for r in results.values() if r.get("hash") == "MATCH")
    out = {
        "metric": "sf1 full-registry sweep (timing + oracle hash at 10x)",
        "sf": 1.0,
        "cpus": cpus,
        "n_queries": len(results),
        "n_hash_match": n_match,
        "n_rows_only": sum(1 for r in results.values()
                           if r.get("hash") == "rows_only"),
        "n_fail": fails,
        "total_spark_sec": round(sum(r.get("sec", 0.0)
                                     for r in results.values()), 3),
        "wall_sec": round(time.time() - t0, 3),
        "queries": results,
    }
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    compact = {k: v for k, v in out.items() if k != "queries"}
    compact["full_record"] = path
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")
    raise SystemExit(main())
