"""Draw-event relation: points → (tile, ordered draw events).

Re-expresses the reference's imperative draw loop, draw_track_points
(gpx2tiles.c:602-712 of the reference), called once per track segment
and once for the waypoint list, as one draw relation
(:func:`draw_relation` — every drawn point per zoom, with the chain
predecessor the parse paired it with) and a union of four event
branches over it, all built with native Column expressions and no
shuffle of their own (the render's one shuffle is the tile shuffle):

  point   — ONE pass emitting each point's own-tile events: the stamp
            (ET_STAMP = 0), the PDOP / -d1 shadow ellipse (ET_PDOP = 2)
            and the same-tile segment line (ET_LINE = 4)
  cross   — cross-tile segment lines: explode the tile rectangle between
            the endpoints' tiles, keep candidates whose translated
            segment crosses a tile border edge (int64 CCW predicate,
            ET_LINE = 4)
  circle  — waypoint circles, exploded over their neighbor-tile rect
            with the reference's exact (quirky) center translation
            (ET_CIRCLE = 1)
  text    — -d4 per-tile speed text (ET_TEXT = 3)

Event order within a tile = (doc_id, seg_order, pt_idx, etype) — exactly
the reference's file→segment→point→(stamp, circle, line) draw order, so a
sorted fold reproduces its canvas byte-for-byte given the same primitives.

Filters F2 (no lines below z_no_lines), F3 (slow segments), F4 (network
src forces color 0), F5 (waypoint zoom gate), F6 (zero-length lines) are
plain WHERE clauses or when() gates over the draw relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import projection as P
from ..colors import speed_clridx_col
from ..config import (HIGHLIGHT_COLOR, PDOP_MIN_Z, PDOP_THRESHOLD, SHADOW_COLOR,
                      SPDCLR, SPEED_FIXED_COLOR, SPEED_TEXT_COLOR, TILE_H,
                      TILE_W, EngineConfig, POINT_CIRCLE_COLOR)
from .tiles import drawn_point_col, with_pixel, with_zooms

# etype doubles as the intra-point draw priority: the reference draws
# stamp → waypoint circle → PDOP/shadow diagnostic ellipse → per-tile
# speed text (first point only) → line(s) per point
# (gpx2tiles.c:654, 658-659, 660 diag_draw_point, 661-662, 663-671)
ET_STAMP = 0
ET_CIRCLE = 1
ET_PDOP = 2   # also -d1 shadow ellipses (same diag_draw_point slot)
ET_TEXT = 3   # -d4 speed text (diag_draw_tile_speed)
ET_LINE = 4

EVENT_COLS = ["z", "tx", "ty", "doc_id", "seg_order", "pt_idx", "etype",
              "x1", "y1", "x2", "y2", "color"]
_KEY = EVENT_COLS[:6]  # an event's tile and painter-order columns


def _turn(p1x, p1y, p2x, p2y, p3x, p3y) -> Column:
    """Integer CCW orientation sign (gpx2tiles.c:421-432) as a Column."""
    a = (p3y - p1y).cast("long") * (p2x - p1x).cast("long")
    b = (p2y - p1y).cast("long") * (p3x - p1x).cast("long")
    return F.when(a > b, F.lit(1)).when(a < b, F.lit(-1)).otherwise(F.lit(0))


def crossing_tile_col(x1, y1, x2, y2) -> Column:
    """Segment-crosses-tile-border predicate (gpx2tiles.c:439-447)."""
    out = F.lit(False)
    edges = [((0, 0), (TILE_W - 1, 0)), ((0, 0), (0, TILE_H - 1)),
             ((TILE_W - 1, 0), (TILE_W - 1, TILE_H - 1)),
             ((0, TILE_H - 1), (TILE_W - 1, TILE_H - 1))]
    for (ex1, ey1), (ex2, ey2) in edges:
        e1x, e1y, e2x, e2y = (F.lit(v) for v in (ex1, ey1, ex2, ey2))
        inter = (
            (_turn(x1, y1, e1x, e1y, e2x, e2y) != _turn(x2, y2, e1x, e1y, e2x, e2y))
            & (_turn(x1, y1, x2, y2, e1x, e1y) != _turn(x1, y1, x2, y2, e2x, e2y))
        )
        out = out | inter
    return out


def crossing_tile_np(x1, y1, x2, y2):
    """Vectorized numpy twin of :func:`crossing_tile_col` — the exact
    same int64 CCW turn signs and strict-inequality edge tests over the
    same four tile-border edges; used where the Column form's generated
    code is too large to JIT (the 16 expanded CASE turns defeat
    whole-stage codegen — see OPTIMIZATION_r06.md, clip_candidates)."""
    import numpy as np

    x1 = np.asarray(x1, np.int64)
    y1 = np.asarray(y1, np.int64)
    x2 = np.asarray(x2, np.int64)
    y2 = np.asarray(y2, np.int64)

    def turn(p1x, p1y, p2x, p2y, p3x, p3y):
        # sign((p3y-p1y)*(p2x-p1x) - (p2y-p1y)*(p3x-p1x)) == the CASE
        # a>b→1 / a<b→-1 / else 0 of _turn; operands bounded by ~2^20 so
        # the int64 products cannot overflow
        return np.sign((p3y - p1y) * (p2x - p1x) - (p2y - p1y) * (p3x - p1x))

    out = np.zeros(x1.shape, bool)
    edges = [((0, 0), (TILE_W - 1, 0)), ((0, 0), (0, TILE_H - 1)),
             ((TILE_W - 1, 0), (TILE_W - 1, TILE_H - 1)),
             ((0, TILE_H - 1), (TILE_W - 1, TILE_H - 1))]
    for (e1x, e1y), (e2x, e2y) in edges:
        inter = (
            (turn(x1, y1, e1x, e1y, e2x, e2y)
             != turn(x2, y2, e1x, e1y, e2x, e2y))
            & (turn(x1, y1, x2, y2, e1x, e1y)
               != turn(x1, y1, x2, y2, e2x, e2y))
        )
        out |= inter
    return out


def point_color_col(cfg: EngineConfig) -> Column:
    """Speed-mode stamp/line color (gpx2tiles.c:637-653). Requires columns
    src, flags, speed, kind."""
    if cfg.speed_mode == SPEED_FIXED_COLOR:
        return F.lit(cfg.fixed_color)
    if cfg.forced_speed_kph is not None:
        # -S: constant speed -> constant color
        import numpy as np

        from ..colors import clridx_to_rgb, speed_kph_to_clridx
        idx = int(speed_kph_to_clridx(np.array([cfg.forced_speed_kph]))[0])
        return F.lit(int(clridx_to_rgb(np.array([idx]))[0]))
    badsrc = F.col("src") == F.lit("network")
    has_speed = F.col("flags").bitwiseAND(F.lit(8)) != 0
    idx = F.when(badsrc | ~has_speed, F.lit(0)).otherwise(
        speed_clridx_col(F.col("speed") * F.lit(3.6))
    )
    color_map = F.array(*[F.lit(c) for _, c in SPDCLR])
    return F.element_at(color_map, idx + 1)


def with_pair_tiles(paired: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Per-zoom tile coords (tx, ty, p_tx, p_ty) for a paired
    (lat, lon, prev_lat, prev_lon) relation.

    Hoists the zoom-independent trig ABOVE the zoom explode: the
    Mercator fractions are computed once per point instead of once per
    (point, zoom) — bit-identical because floor(frac * 2^z) is the C
    code's own association (slippy-map.h:10-21).  Shared by
    build_events and the census access relation (operators/dump.py) so
    the two can never diverge."""
    df = (paired.withColumn("_xf", P.xfrac_col(F.col("lon")))
          .withColumn("_yf", P.yfrac_col(F.col("lat")))
          .withColumn("_pxf", P.xfrac_col(F.col("prev_lon")))
          .withColumn("_pyf", P.yfrac_col(F.col("prev_lat"))))
    df = with_zooms(df, cfg)
    zpow = F.pow(F.lit(2.0), F.col("z"))
    return (df.withColumn("tx", F.floor(F.col("_xf") * zpow).cast("int"))
              .withColumn("ty", F.floor(F.col("_yf") * zpow).cast("int"))
              .withColumn("p_tx", F.floor(F.col("_pxf") * zpow).cast("int"))
              .withColumn("p_ty", F.floor(F.col("_pyf") * zpow).cast("int")))


def circle_rect_bounds(df: DataFrame, r: int) -> DataFrame:
    """lt/rb neighbor-tile-rect bounds of a point circle
    (neigh_tile_circle, gpx2tiles.c:531-556), incl. the reference's
    quirks: C truncating integer division by 256 (negative numerators
    round toward zero) and the `px + r > TILE_W` comparison reused for
    the Y axis (width-for-height).  Input needs (z, tx, ty, px, py);
    adds lt_x/lt_y/rb_x/rb_y.  Shared by the circle event builder and
    the census access relation."""
    zmax_tiles = F.pow(F.lit(2.0), F.col("z")).cast("int") - F.lit(1)

    def clamp(c: Column) -> Column:  # xy_out_of_range (gpx2tiles.c:518-529)
        return F.least(F.greatest(c, F.lit(0)), zmax_tiles)

    def cdiv(c: Column) -> Column:  # C truncating integer division by 256
        return (c.cast("double") / F.lit(256.0)).cast("int")

    return (df.withColumn("lt_x", clamp(F.when(
                F.col("px") - r < 0,
                F.col("tx") + cdiv(F.col("px") - F.lit(r)) - 1)
                .otherwise(F.col("tx"))))
            .withColumn("lt_y", clamp(F.when(
                F.col("py") - r < 0,
                F.col("ty") + cdiv(F.col("py") - F.lit(r)) - 1)
                .otherwise(F.col("ty"))))
            .withColumn("rb_x", clamp(F.when(
                F.col("px") + r > TILE_W,
                F.col("tx") + cdiv(F.col("px") + F.lit(r)))
                .otherwise(F.col("tx"))))
            .withColumn("rb_y", clamp(F.when(
                F.col("py") + r > TILE_W,  # sic: W, not H (the C quirk)
                F.col("ty") + cdiv(F.col("py") + F.lit(r)))
                .otherwise(F.col("ty")))))


def draw_relation(points: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Every point the draw loop visits, per zoom, paired with the
    previous point of its chain: track points at every zoom, waypoints
    only at z > z_no_wpts (F5).  The parse pairs each point with its
    predecessor (prev_lat, prev_lon), and chains each waypoint to the
    previous one — make_tiles' one draw_track_points call over the
    waypoint list (gpx2tiles.c:729, 734).  Shared by build_events and
    the census access relation (operators/dump.py)."""
    return with_pair_tiles(points, cfg).filter(drawn_point_col(cfg))


def build_events(points: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The full event relation for speed-color (default) or heatmap mode.

    Static branch pruning on the configured zoom range: a branch or
    array element whose zoom gate can never pass (lines below
    z_no_lines, waypoints at or below z_no_wpts, PDOP below its
    hardcoded z >= 17) is provably empty, but would still execute its
    explode/filter stages per batch — the incremental store renders
    z1-6 pyramids.  Same rows by construction; the full-range render
    keeps every branch."""
    draw = draw_relation(points, cfg)
    out = _point_events(draw, cfg)
    if _lines_possible(cfg):
        # -d2: cross-tile segments draw in magenta instead of the point
        # color (gpx2tiles.c:694-695 highlight_tile_cross ? HIGHLIGHT : color)
        cl_color = (F.lit(HIGHLIGHT_COLOR).alias("color")
                    if cfg.diag_highlight_cross else _trk_gates(cfg)[0])
        out = out.unionByName(cross_tile_candidates(draw, cfg).select(
            F.col("z"), F.col("cx").alias("tx"), F.col("cy").alias("ty"),
            F.col("doc_id"), F.col("seg_order"), F.col("pt_idx"),
            F.lit(ET_LINE).alias("etype"),
            F.col("lx1").alias("x1"), F.col("ly1").alias("y1"),
            F.col("lx2").alias("x2"), F.col("ly2").alias("y2"), cl_color))
    if max(cfg.zooms()) > cfg.z_no_wpts:
        out = out.unionByName(_wpt_circles(
            with_pixel(draw.filter(F.col("kind") == "wpt")), cfg)
            .select(*out.columns))
    if cfg.diag_speed_text:
        out = out.unionByName(
            _speed_text_events(with_pixel(draw)).select(*out.columns))
    return out


def _lines_possible(cfg: EngineConfig) -> bool:
    # -H sets z_no_lines = INT_MAX, so heatmap mode NEVER draws lines
    # (gpx2tiles.c:976,730,663)
    return (not cfg.heatmap) and max(cfg.zooms()) >= cfg.z_no_lines


def _trk_gates(cfg: EngineConfig) -> tuple[Column, Column, Column]:
    """(color, can_line, same_tile) over :func:`draw_relation` rows;
    waypoints never draw lines."""
    color = (F.lit(-1) if cfg.heatmap else point_color_col(cfg)).alias("color")
    can_line = (
        F.lit(not cfg.heatmap)
        & (F.col("kind") == F.lit("trkpt"))
        & F.col("prev_lat").isNotNull()
        & (F.col("z") >= F.lit(cfg.z_no_lines))
        & ~((F.col("flags").bitwiseAND(F.lit(8)) != 0)
            & (F.col("speed") * F.lit(3.6) < F.lit(cfg.no_lines_speed_kph)))
    )
    same_tile = (F.col("tx") == F.col("p_tx")) & (F.col("ty") == F.col("p_ty"))
    return color, can_line, same_tile


def cross_tile_candidates(draw: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Cross-tile line candidates of :func:`draw_relation` rows
    (gpx2tiles.c:675-703): for each line-gated pair whose endpoints lie
    in different tiles, explode the tile rectangle between the endpoint
    tiles (sequence() steps ±1 either way, x outer from the prev tile),
    translate both endpoints into each candidate tile (lx1, ly1, lx2,
    ly2) and keep the candidates whose segment crosses a tile border
    (int64 CCW predicate).  Shared by build_events and the census."""
    _, can_line, same_tile = _trk_gates(cfg)
    return (
        with_pixel(with_pixel(draw.filter(can_line & ~same_tile)),
                   lat="prev_lat", lon="prev_lon", prefix="p_")
        .withColumn("cx", F.explode(F.sequence(F.col("p_tx"), F.col("tx"))))
        .withColumn("cy", F.explode(F.sequence(F.col("p_ty"), F.col("ty"))))
        .withColumn("lx1", F.col("p_px") - F.lit(TILE_W) * (F.col("cx") - F.col("p_tx")))
        .withColumn("ly1", F.col("p_py") - F.lit(TILE_H) * (F.col("cy") - F.col("p_ty")))
        .withColumn("lx2", F.col("px") - F.lit(TILE_W) * (F.col("cx") - F.col("tx")))
        .withColumn("ly2", F.col("py") - F.lit(TILE_H) * (F.col("cy") - F.col("ty")))
        .filter(crossing_tile_col(F.col("lx1"), F.col("ly1"),
                                  F.col("lx2"), F.col("ly2")))
    )


_EVENT_STRUCT_T = "array<struct<etype:int,x1:int,y1:int,x2:int,y2:int,color:int>>"


def _point_events(draw: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Each drawn point's own-tile events from ONE pass over
    :func:`draw_relation`: every row emits a 1-3 element event array
    and one explode fans it out —

      stamp   (gpx2tiles.c:627-654): always;
      line    the same-tile segment pix -> ppix (:663-671), behind the
              line gates (never for waypoints, never in heatmap mode);
      PDOP    diag_draw_point (:497-511): at z >= 17, points with the
              PDOP flag (bit 64) and pdop > 1.8 get a d×d outline
              ellipse, x2 = d = floor(pdop*3); with -d1 (diag_shadows)
              every other point gets the ELSE branch of the same slot,
              a 5×5 outline in SHADOW color, at every zoom.  The
              heatmap sentinel color -1 resolves to the running heat
              color in the fold (the reference passes the stamp color).

    A union of one relation per event kind re-executed the zoom
    explode, the tile trig and the points read once per branch —
    measured 1.6× on the full-pyramid event build.
    when()/array()/concat()/explode() all stay inside whole-stage
    codegen, and when() evaluates a branch's pixel projection only on
    rows whose gate passes — unlike the transform/filter HOF variant,
    which is interpreted and was measured slower.  A standing test
    (tests/test_round2_ops.py) compares this pass with the per-kind
    union."""
    color, can_line, same_tile = _trk_gates(cfg)
    base = with_pixel(draw).withColumn("color", color)
    px, py = F.col("px"), F.col("py")

    def ev(etype: int, x1, y1, x2, y2, c: Column = F.col("color")) -> Column:
        return F.struct(
            F.lit(etype).cast("int").alias("etype"),
            x1.cast("int").alias("x1"), y1.cast("int").alias("y1"),
            x2.cast("int").alias("x2"), y2.cast("int").alias("y2"),
            c.cast("int").alias("color"))

    empty = F.array().cast(_EVENT_STRUCT_T)
    arrays = [F.array(ev(ET_STAMP, px, py, F.lit(0), F.lit(0)))]
    if _lines_possible(cfg):  # else the line gates provably never pass
        # gd draws pix -> ppix in the same-tile branch (gpx2tiles.c:671)
        ppx, ppy = P.pixel_cols(F.col("prev_lon"), F.col("prev_lat"),
                                F.col("p_tx"), F.col("p_ty"), F.col("z"))
        line_gate = can_line & same_tile & ((px != ppx) | (py != ppy))
        arrays.append(F.when(line_gate, F.array(
            ev(ET_LINE, px, py, ppx, ppy))).otherwise(empty))
    # PDOP ellipses only at z >= PDOP_MIN_Z, -d1 shadows at EVERY zoom
    if max(cfg.zooms()) >= PDOP_MIN_Z or cfg.diag_shadows:
        pdop_gate = ((F.col("z") >= F.lit(PDOP_MIN_Z))
                     & (F.col("flags").bitwiseAND(F.lit(64)) != 0)
                     & (F.col("pdop") > F.lit(PDOP_THRESHOLD)))
        shadow = (F.array(ev(ET_PDOP, px, py, F.lit(5), F.lit(0),
                             F.lit(SHADOW_COLOR)))
                  if cfg.diag_shadows else empty)
        arrays.append(F.when(pdop_gate, F.array(
            ev(ET_PDOP, px, py, F.floor(F.col("pdop") * F.lit(3.0)),
               F.lit(0)))).otherwise(shadow))
    return (base.select(*_KEY, F.explode(F.concat(*arrays)).alias("e"))
            .select(*_KEY, "e.etype", "e.x1", "e.y1", "e.x2", "e.y2",
                    "e.color"))


def _speed_text_events(pix: DataFrame) -> DataFrame:
    """-d4: diag_draw_tile_speed (gpx2tiles.c:481-495) — the FIRST point
    (in file → segment → point draw order) whose stamp lands in a tile
    writes that point's speed as text at the tile origin, plus an
    underline and a pointer line to the point pixel (tile->has_speed
    latches per tile).  One map-side-combinable min-aggregate per tile —
    no window shuffle, skew-safe.  x2 encodes the "%.1f" kph string with
    the dot removed ('12.3' → 123); Java's and C's %.1f both round the
    binary double to nearest decimal (ties differ only on exact halves,
    which the speed chain does not produce)."""
    first = pix.groupBy("z", "tx", "ty").agg(
        F.min(F.struct(*[F.col(c) for c in
                         ("doc_id", "seg_order", "pt_idx", "px", "py",
                          "speed")])).alias("f"))
    digits = F.regexp_replace(
        F.format_string("%.1f", F.col("f.speed") * F.lit(3.6)),
        "\\.", "").cast("int")
    return first.select(
        "z", "tx", "ty", F.col("f.doc_id").alias("doc_id"),
        F.col("f.seg_order").alias("seg_order"),
        F.col("f.pt_idx").alias("pt_idx"),
        F.lit(ET_TEXT).alias("etype"),
        F.col("f.px").alias("x1"), F.col("f.py").alias("y1"),
        digits.alias("x2"), F.lit(0).alias("y2"),
        F.lit(SPEED_TEXT_COLOR).alias("color"),
    )


def _wpt_circles(wpix: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Waypoint circle events over the neighbor-tile rect.

    Reproduces neigh_tile_circle/next_neigh_tile closed-form
    (gpx2tiles.c:531-597) including its quirks: the +1 center offset from
    integer division ((r + 256) / 256) and the lt-relative (not
    tile-relative) center translation.  C integer division truncates
    toward zero — for d in (-256, 0), d/256 == 0.
    """
    r = cfg.point_circle_diameter
    c0 = F.lit((r + TILE_W) // TILE_W)  # the off-by-one center offset
    return (
        circle_rect_bounds(wpix, r)
        .withColumn("cx", F.explode(F.sequence(F.col("lt_x"), F.col("rb_x"))))
        .withColumn("cy", F.explode(F.sequence(F.col("lt_y"), F.col("rb_y"))))
        .select(
            F.col("z"), F.col("cx").alias("tx"), F.col("cy").alias("ty"),
            F.col("doc_id"), F.col("seg_order"), F.col("pt_idx"),
            F.lit(ET_CIRCLE).alias("etype"),
            (F.col("px") + c0 - F.lit(TILE_W) * (F.col("cx") - F.col("lt_x"))).alias("x1"),
            (F.col("py") + c0 - F.lit(TILE_H) * (F.col("cy") - F.col("lt_y"))).alias("y1"),
            F.lit(cfg.point_circle_diameter).alias("x2"),  # x2 carries diameter
            F.lit(0).alias("y2"),
            F.lit(POINT_CIRCLE_COLOR).alias("color"),
        )
    )
