"""Drop-in CLI mirroring the reference's option surface
(gpx2tiles.c:874-1011): a user who runs ``gpx2tiles -z 3 -Z 12 -C out
*.gpx`` today runs ``python -m gpx2tiles_spark.cli`` with the same
arguments against this engine.

Same optstring (``0z:Z:C:j:vT:Id:L:Hht:S:p:P:c:``), same semantics:

  -C <dir>    tile output directory (default .)
  -I          delete zoom directories under -C before rendering (:770-801);
              without it new tracks draw over the tiles already there
  -z/-Z       zoom range (defaults 1..18; -Z > 19 rejected like :983-987)
  -L/-P       no-lines / no-waypoints zoom gates
  -H          heatmap mode (z_no_lines = INT_MAX, :976)
  -t z:thick[+]  per-zoom line thickness, '+' extends to max zoom (:939-955)
  -c <hex>    fixed line color (sets set_speed = INT_MAX, :956-962)
  -S <kph>    constant speed → constant color
  -p <d>      waypoint circle diameter
  -d <mask>   diagnostics: bit0 shadows, bit1 magenta crossings, bit2 speed text
  -0          read NUL-terminated GPX file list from stdin (after argv files)
  -j <jobs>   local worker threads (reference: loader threads)
  -T <n>      accepted and ignored: the in-memory tile cache bound is
              meaningless here (tiles stream through executors, nothing
              is kept resident)
  -v          increase verbosity

Spark-first differences, documented rather than hidden: -j maps to
``local[jobs]`` parallelism (set SPARK_GRAFT_MASTER for a real cluster),
and file order (argv first, then the -0 list — :1014-1045) is preserved
into the painter order via index-prefixed doc_ids
(sources/gpxfiles.py).
"""

from __future__ import annotations

import getopt
import os
import sys

from .config import ZOOM_MAX_HARD, EngineConfig
from .sources.gpxfiles import read_gpx_file_list
from .sources.tilestore import remove_tiles

OPTSTRING = "0z:Z:C:j:vT:Id:L:Hht:S:p:P:c:"


def usage(argv0: str) -> None:
    sys.stderr.write(
        f"{argv0} [-z <min-zoom>] [-Z <max-zoom>] [-C <output-dir>] "
        "[-j <jobs>] [-T <max-tiles>] [-Ivh] [-L <line-zoom>] "
        "( [--] [gpx files...] | -0 < file-list )\n"
        "  (option semantics identical to the reference gpx2tiles; "
        "see module docstring)\n")


def parse_thickness(optarg: str, thickness: dict[int, int]) -> None:
    """-t zoom:thick[+] with the reference's exact parse (:939-955):
    strtol zoom, skip non-digits, strtol thickness (0 → 1), trailing
    '+' extends the value to every higher zoom."""
    i = 0
    z = 0
    neg = False
    if i < len(optarg) and optarg[i] in "+-":
        neg = optarg[i] == "-"
        i += 1
    j = i
    while j < len(optarg) and optarg[j].isdigit():
        j += 1
    z = int(optarg[i:j] or "0") * (-1 if neg else 1)
    if z < 0 or z > ZOOM_MAX_HARD:
        sys.stderr.write(f"Invalid zoom level {optarg}\n")
        raise SystemExit(1)
    p = j
    while p < len(optarg) and not optarg[p].isdigit():
        p += 1
    q = p
    while q < len(optarg) and optarg[q].isdigit():
        q += 1
    t = int(optarg[p:q] or "0") or 1
    thickness[z] = t
    if q < len(optarg) and optarg[q] == "+":
        for zz in range(z + 1, ZOOM_MAX_HARD + 1):
            thickness[zz] = t


def parse_args(argv: list[str]) -> tuple[EngineConfig, dict, list[str]]:
    """argv (without argv0) → (EngineConfig, run options, gpx files)."""
    opts, files = getopt.getopt(argv, OPTSTRING)
    cfg_kw: dict = {"thickness": {}}
    run = {"out_dir": ".", "truncate": False, "jobs": None, "verbose": 0,
           "stdin_list": False}
    for o, a in opts:
        if o == "-C":
            if not os.path.isdir(a):
                sys.stderr.write(f"{a}: not a directory\n")
                raise SystemExit(2)
            run["out_dir"] = a
        elif o == "-I":
            run["truncate"] = True
        elif o == "-z":
            cfg_kw["zoom_min"] = int(a, 0)
        elif o == "-Z":
            zmax = int(a, 0)
            if zmax > ZOOM_MAX_HARD:
                sys.stderr.write(
                    f"Zoom level {zmax} is more than maximum {ZOOM_MAX_HARD}\n")
                raise SystemExit(1)
            cfg_kw["zoom_max"] = zmax
        elif o == "-L":
            cfg_kw["z_no_lines"] = int(a, 0)
        elif o == "-P":
            cfg_kw["z_no_wpts"] = int(a, 0)
        elif o == "-H":
            cfg_kw["heatmap"] = True
        elif o == "-t":
            parse_thickness(a, cfg_kw["thickness"])
        elif o == "-c":
            # -c and -S both write the reference's single set_speed
            # variable (gpx2tiles.c:936-937,962): the LAST of the two
            # wins.  -c → set_speed = INT_MAX + fixclr; clear any
            # earlier -S.
            cfg_kw["speed_mode"] = "fixed"
            cfg_kw["fixed_color"] = int(a, 16) & 0xFFFFFF
            cfg_kw["forced_speed_kph"] = None
        elif o == "-S":
            # -S → set_speed = <kph>; clears an earlier -c's INT_MAX.
            cfg_kw["speed_mode"] = "data"
            cfg_kw["forced_speed_kph"] = float(int(a, 0))
        elif o == "-p":
            cfg_kw["point_circle_diameter"] = int(a, 0)
        elif o == "-d":
            mask = int(a, 0)
            cfg_kw["diag_shadows"] = bool(mask & 0x01)
            cfg_kw["diag_highlight_cross"] = bool(mask & 0x02)
            cfg_kw["diag_speed_text"] = bool(mask & 0x04)
        elif o == "-0":
            run["stdin_list"] = True
        elif o == "-j":
            run["jobs"] = int(a, 0)
        elif o == "-T":
            pass  # no resident tile cache to bound
        elif o == "-v":
            run["verbose"] += 1
        elif o == "-h":
            raise SystemExit(usage_exit())
    return EngineConfig(**cfg_kw), run, list(files)


def existing_tiles(spark, out_dir: str, cfg: EngineConfig):
    """The tiles already under ``{out_dir}/{z}`` for the zooms being
    rendered, as the render's store — the reference draws new tracks over
    the PNG it finds (open_tile, gpx2tiles.c:277-310).  None, without a
    Spark job, when no such zoom directory exists (after -I, or into an
    empty directory)."""
    zooms = [z for z in cfg.zooms()
             if os.path.isdir(os.path.join(out_dir, str(z)))]
    if not zooms:
        return None
    from .sources.tilestore import read_tile_pyramid
    return read_tile_pyramid(spark, out_dir, zooms)


def usage_exit() -> int:
    usage("gpx2tiles_spark")
    return 1


def main(argv: list[str] | None = None, spark=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    try:
        cfg, run, files = parse_args(argv)
    except getopt.GetoptError as e:
        sys.stderr.write(f"{e}\n")
        usage("gpx2tiles_spark")
        return 1
    if run["stdin_list"]:
        # argv files first, then the stdin list (gpx2tiles.c:1040-1045)
        files += [chunk.decode() for chunk in
                  sys.stdin.buffer.read().split(b"\0") if chunk]
    if not files:
        usage("gpx2tiles_spark")
        return 1

    own_session = spark is None
    if own_session:
        from .session import get_spark
        master = None
        if run["jobs"]:
            master = os.environ.get("SPARK_GRAFT_MASTER",
                                    f"local[{run['jobs']}]")
        spark = get_spark(app="gpx2tiles_spark-cli", master=master)
        if run["verbose"] < 2:
            spark.sparkContext.setLogLevel("ERROR" if run["verbose"] < 1
                                           else "WARN")
    try:
        if run["truncate"]:
            remove_tiles(run["out_dir"], cfg.zoom_min,
                         max(cfg.zoom_max, cfg.zoom_min))
        docs = read_gpx_file_list(spark, files)
        from .plans.pipeline import render_pyramid
        res = render_pyramid(docs, cfg, out_dir=run["out_dir"],
                             store=existing_tiles(spark, run["out_dir"], cfg))
        if run["verbose"]:
            for r in res.zoom_stats:  # the reference's per-zoom progress lines
                sys.stderr.write(
                    f"zoom {r.z} tiles {r.tiles} points {r.points}\n")
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
