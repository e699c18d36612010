"""Engine configuration — mirrors the reference CLI surface.

Reference: /root/reference/gpx2tiles.c:874-1011 (CLI), defaults at
gpx2tiles.c:40 (zooms), :56-65 (draw gates), :96 (circle diameter).
"""

from __future__ import annotations

from dataclasses import dataclass, field

TILE_W = 256  # gpx2tiles.c:67
TILE_H = 256  # gpx2tiles.c:68
ZOOM_MAX_HARD = 19  # gpx2tiles.c:38

# Sentinel values of the reference's `set_speed` global (gpx2tiles.c:65,957-963)
SPEED_FROM_DATA = "data"  # set_speed == INT_MIN: color from point speed
SPEED_FIXED_COLOR = "fixed"  # set_speed == INT_MAX: -c hex color
# -H sets z_no_lines = HEATMAP_MODE = INT_MAX (gpx2tiles.c:54,976), so
# z < z_no_lines always holds and DRAW_TRKPTR_NO_LINES is always set
# (gpx2tiles.c:730,663): heatmap output NEVER contains lines.
HEATMAP_MODE = (1 << 31) - 1

# the PDOP uncertainty ellipse is hardcoded to z >= 17 and pdop > 1.8
# (gpx2tiles.c:503 diag_draw_point) and drawn with gd alpha 20
PDOP_MIN_Z = 17
PDOP_THRESHOLD = 1.8
PDOP_ALPHA = 20

# -d diagnostic overlay colors (gpx2tiles.c:47-51)
SHADOW_COLOR = 0xC0C0C0     # SHADOW: fresh-tile edge lines + point shadows
SPEED_TEXT_COLOR = 0xC0C0C0  # SPEED_CLR: per-tile speed text + pointer
HIGHLIGHT_COLOR = 0xFF00EF  # HIGHLIGHT: magenta cross-tile line segments


@dataclass(frozen=True)
class EngineConfig:
    """All knobs of the tiling job; defaults equal the reference defaults."""

    zoom_min: int = 1  # -z, gpx2tiles.c:40
    zoom_max: int = 18  # -Z
    z_no_lines: int = 7  # -L: below this zoom, dots only (gpx2tiles.c:56)
    z_no_wpts: int = 16  # -P: waypoint circles only at z > this (gpx2tiles.c:57)
    z_heatmap_bigdots: int = 15  # heatmap 3x3 block at z >= this (gpx2tiles.c:58)
    heatmap: bool = False  # -H
    no_lines_speed_kph: float = 1.0  # gpx2tiles.c:62-63
    point_circle_diameter: int = 9  # -p, gpx2tiles.c:96
    speed_mode: str = SPEED_FROM_DATA  # -c / -S
    fixed_color: int = 0x000000  # -c hex (when speed_mode == "fixed")
    forced_speed_kph: float | None = None  # -S kph (constant color from speed)
    # per-zoom line thickness; reference default is 0 for every zoom (!) which
    # libgd treats as "draw nothing extra"; thickness 0 lines in gd still draw
    # a 1px Bresenham line (gd clamps), we model 0 -> 1px. (-t, gpx2tiles.c:60)
    thickness: dict[int, int] = field(default_factory=dict)
    incremental: bool = True  # default; -I disables (truncate first)
    # -d diagnostic overlays (bitmask parse at gpx2tiles.c:989-997);
    # diag_shadows makes every point an alpha-blended ellipse (reads
    # canvas state at every zoom), so it forces the sequential fold paths
    diag_shadows: bool = False          # -d 1: tile-edge + point shadows
    diag_highlight_cross: bool = False  # -d 2: magenta cross-tile lines
    diag_speed_text: bool = False       # -d 4: first-point speed text per tile
    # physical knobs (no reference analog — Spark-side)
    # partition count for the shuffles feeding the Python raster fold;
    # None = the session's spark.sql.shuffle.partitions.  The one caller
    # that counts its rows, TileStore.apply_batch (batches thousands of
    # times smaller than a full render), sets it ∝ rows so a tiny delta
    # batch doesn't pay hundreds of near-empty Python tasks per stage.
    # A field, not a rasterize argument: it reaches every route's fold,
    # the heatmap count fold and the salted phase A included.
    fold_partitions: int | None = None
    salt_buckets: int = 0  # 0 = no salting; >0 = range-salt hot tiles
    hot_tile_threshold: int = 200_000  # events per tile before salting kicks in
    hot_detect_fraction: float = 0.01  # sample rate for hot-tile detection

    def zooms(self) -> list[int]:
        zmax = max(self.zoom_max, self.zoom_min)  # gpx2tiles.c:1020-1021
        return list(range(self.zoom_min, zmax + 1))


# Speed (kph, inclusive upper bound after C (int) truncation) -> RGB color.
# Table from gpx2tiles.c:72-91; lookup semantics gpx2tiles.c:470-479.
SPDCLR: list[tuple[int, int]] = [
    (0, 0x00007F),   # navy
    (10, 0xCF0000),  # dark red
    (20, 0xA46100),  # brown
    (25, 0xF4FB39),  # yellow
    (40, 0x007F00),  # green
    (50, 0x00FF00),  # bright green
    (55, 0x4AF9FF),  # light cyan
    (60, 0xF580FF),  # light magenta
]
HEATMAP_BASE_COLOR = 0x061A5B  # gpx2tiles.c:93
POINT_CIRCLE_COLOR = 0x061A5B  # gpx2tiles.c:95
