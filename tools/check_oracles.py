"""Local replica of the driver's correctness gate: run each registered
Spark query at a scale factor and compare rows/schema/value-hash against
its DuckDB oracle SQL (columns sorted by name, order-insensitive hash).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(rows, cols):
    cols_sorted = sorted(cols)
    out = []
    for r in rows:
        d = dict(zip(cols, r))
        out.append(tuple(str(d[c]) for c in cols_sorted))
    out.sort()
    h = hashlib.md5()
    for t in out:
        h.update("\x1f".join(t).encode())
        h.update(b"\x1e")
    return len(out), h.hexdigest()


TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def run_oracle(sql: str, sf_dir: str, settings: tuple[str, ...] = ()
               ) -> tuple[list, list]:
    """(rows, column names) of one oracle SQL text on a fresh DuckDB
    connection (a failed bind can poison a connection) with a view per
    parquet table present in sf_dir (directories are read by glob).
    ``settings`` are SET statements run first."""
    import duckdb

    con = duckdb.connect()
    try:
        for stmt in settings:
            con.execute(stmt)
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
                con.execute(f"CREATE VIEW {t} AS SELECT * "
                            f"FROM read_parquet({src})")
        cur = con.execute(sql)
        return cur.fetchall(), [d[0] for d in cur.description]
    finally:
        con.close()


def main() -> None:
    from gpx2tiles_spark.queries import oracle_sql, queries
    from gpx2tiles_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(queries().keys())
    spark = get_spark(app="check_oracles", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = queries(), oracle_sql()
    fails = 0
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            if name not in osql:
                print(f"{name}: rows={len(srows)} (no_oracle)")
                continue
            orows, ocols = run_oracle(osql[name], sf_dir)
            sn, sh = canon(srows, scols)
            on, oh = canon(orows, ocols)
            ok = (sn == on and sorted(scols) == sorted(ocols) and sh == oh)
            print(f"{name}: spark={sn} oracle={on} "
                  f"cols={'ok' if sorted(scols) == sorted(ocols) else (scols, ocols)} "
                  f"hash={'MATCH' if sh == oh else 'MISMATCH'}")
            if not ok:
                fails += 1
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            fails += 1
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
