"""Raster primitives on numpy RGBA canvases + integer clip predicates.

Replaces the reference's libgd calls (gdImageSetPixel / gdImageLine /
gdImageFilledRectangle / gdImageFilledEllipse — gpx2tiles.c §K12) with
numpy kernels, and the int64 CCW segment-intersection predicate
(gpx2tiles.c:421-447) with vectorized numpy int64 math.

Lines are plain Bresenham: the reference configures gd antialiasing but
never draws with the gdAntiAliased pseudo-color, so its output lines are
plain Bresenham too (SURVEY.md §2.8 K11).
"""

from __future__ import annotations

import numpy as np

from .config import TILE_H, TILE_W

# ---------------------------------------------------------------------------
# Integer CCW intersection predicates (vectorized)
# ---------------------------------------------------------------------------

def turn(p1x, p1y, p2x, p2y, p3x, p3y):
    """Orientation sign of (p1,p2,p3) in int64, as the reference's `turn`
    (gpx2tiles.c:421-432): sign((p3y-p1y)(p2x-p1x) - (p2y-p1y)(p3x-p1x))."""
    a = (np.int64(p3y) - np.int64(p1y)) * (np.int64(p2x) - np.int64(p1x))
    b = (np.int64(p2y) - np.int64(p1y)) * (np.int64(p3x) - np.int64(p1x))
    return np.sign(a - b).astype(np.int64)


def intersects(p1, p2, p3, p4):
    """Proper segment intersection (gpx2tiles.c:434-437); each p = (x, y)."""
    return (
        turn(p1[0], p1[1], p3[0], p3[1], p4[0], p4[1])
        != turn(p2[0], p2[1], p3[0], p3[1], p4[0], p4[1])
    ) & (
        turn(p1[0], p1[1], p2[0], p2[1], p3[0], p3[1])
        != turn(p1[0], p1[1], p2[0], p2[1], p4[0], p4[1])
    )


def crossing_tile(x1, y1, x2, y2, w: int = TILE_W, h: int = TILE_H):
    """True where segment (x1,y1)-(x2,y2) crosses one of the four tile border
    edges (gpx2tiles.c:439-447).  Vectorized over numpy arrays."""
    p1 = (np.asarray(x1, np.int64), np.asarray(y1, np.int64))
    p2 = (np.asarray(x2, np.int64), np.asarray(y2, np.int64))
    edges = [
        ((0, 0), (w - 1, 0)),
        ((0, 0), (0, h - 1)),
        ((w - 1, 0), (w - 1, h - 1)),
        ((0, h - 1), (w - 1, h - 1)),
    ]
    out = np.zeros(np.broadcast(p1[0], p2[0]).shape, dtype=bool)
    for e1, e2 in edges:
        out |= intersects(p1, p2, e1, e2)
    return out


# ---------------------------------------------------------------------------
# Canvas primitives.  Canvas = (H, W, 4) uint8 RGBA, row = y, col = x.
# Coordinates may fall outside the canvas — clipped, like gd does.
# ---------------------------------------------------------------------------

def _put(canvas: np.ndarray, xs: np.ndarray, ys: np.ndarray, color: int) -> None:
    h, w = canvas.shape[:2]
    m = (xs >= 0) & (xs < w) & (ys >= 0) & (ys < h)
    if not m.any():
        return
    r, g, b = (color >> 16) & 0xFF, (color >> 8) & 0xFF, color & 0xFF
    canvas[ys[m], xs[m]] = (r, g, b, 255)


def set_pixel(canvas: np.ndarray, x: int, y: int, color: int) -> None:
    _put(canvas, np.asarray([x]), np.asarray([y]), color)


def fill_rect(canvas: np.ndarray, x1: int, y1: int, x2: int, y2: int, color: int) -> None:
    """gdImageFilledRectangle-equivalent (inclusive corners)."""
    h, w = canvas.shape[:2]
    xa, xb = max(0, min(x1, x2)), min(w - 1, max(x1, x2))
    ya, yb = max(0, min(y1, y2)), min(h - 1, max(y1, y2))
    if xa > xb or ya > yb:
        return
    r, g, b = (color >> 16) & 0xFF, (color >> 8) & 0xFF, color & 0xFF
    canvas[ya : yb + 1, xa : xb + 1] = (r, g, b, 255)


# --- gd line rasterization --------------------------------------------------
# Transcribed from public libgd gd.c (gdImageLine / clip_1d / gdImageVLine /
# gdImageHLine), which is what the reference links against
# (gpx2tiles.c:671,694 call gdImageLine).  Three gd behaviors matter for
# byte-parity and were missed by naive Bresenham:
#   1. clip_1d clips BOTH dimensions to the image box before rasterizing —
#      the truncated-slope endpoint adjustment changes in-window pixels for
#      cross-tile segments whose endpoints lie far outside the tile;
#   2. the Bresenham accumulator always starts at the left-most (dx-major)
#      or top-most (dy-major) endpoint — rounding is direction-independent;
#   3. thickness draws a minor-axis span of wid = trunc(thick / cos(atan2))
#      pixels per step, not a square brush.

def _clip_1d(x0: int, y0: int, x1: int, y1: int,
             mindim: int, maxdim: int) -> tuple[int, int, int, int, bool]:
    """Scalar clip_1d (gd.c) incl. its asymmetric (int)-cast quirks: the
    first branch's far-end adjustment truncates the *sum* (no cast on the
    product), every other adjustment truncates the *product*."""
    if x0 < mindim:
        if x1 < mindim:
            return x0, y0, x1, y1, False
        m = (y1 - y0) / float(x1 - x0)
        y0 -= int(m * (x0 - mindim))
        x0 = mindim
        if x1 > maxdim:
            y1 = int(y1 + m * (maxdim - x1))  # C: *y1 += m * (...) — no cast
            x1 = maxdim
        return x0, y0, x1, y1, True
    if x0 > maxdim:
        if x1 > maxdim:
            return x0, y0, x1, y1, False
        m = (y1 - y0) / float(x1 - x0)
        y0 += int(m * (maxdim - x0))
        x0 = maxdim
        if x1 < mindim:
            y1 -= int(m * (x1 - mindim))
            x1 = mindim
        return x0, y0, x1, y1, True
    if x1 > maxdim:
        m = (y1 - y0) / float(x1 - x0)
        y1 += int(m * (maxdim - x1))
        x1 = maxdim
        return x0, y0, x1, y1, True
    if x1 < mindim:
        m = (y1 - y0) / float(x1 - x0)
        y1 -= int(m * (x1 - mindim))
        x1 = mindim
        return x0, y0, x1, y1, True
    return x0, y0, x1, y1, True


def gd_line_pixels(x1: int, y1: int, x2: int, y2: int, thick: int = 1,
                   w: int | None = TILE_W, h: int | None = TILE_H
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Exact scalar transcription of gdImageLine's pixel emission (gd.c),
    clip included (pass w=h=None to skip the clip).  Oracle for the
    vectorized :func:`lines_points_batch`."""
    import math as _m

    if w is not None:
        x1, y1, x2, y2, keep = _clip_1d(x1, y1, x2, y2, 0, w - 1)
        if not keep:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        y1, x1, y2, x2, keep = _clip_1d(y1, x1, y2, x2, 0, h - 1)
        if not keep:
            return np.empty(0, np.int64), np.empty(0, np.int64)
    thick = max(int(thick), 0)
    dx, dy = abs(x2 - x1), abs(y2 - y1)
    xs_out, ys_out = [], []
    if dx == 0 and thick > 1:  # gdImageVLine thick rect
        ya, yb = sorted((y1, y2))
        half = thick >> 1
        for yy in range(ya, yb + 1):
            for xx in range(x1 - half, x1 + thick - half):
                xs_out.append(xx); ys_out.append(yy)
        return np.asarray(xs_out, np.int64), np.asarray(ys_out, np.int64)
    if dy == 0 and dx != 0 and thick > 1:  # gdImageHLine thick rect
        xa, xb = sorted((x1, x2))
        half = thick >> 1
        for xx in range(xa, xb + 1):
            for yy in range(y1 - half, y1 + thick - half):
                xs_out.append(xx); ys_out.append(yy)
        return np.asarray(xs_out, np.int64), np.asarray(ys_out, np.int64)
    if dy <= dx:  # more-or-less horizontal
        ac = _m.cos(_m.atan2(dy, dx))
        wid = int(thick / ac) if ac != 0 else 1
        wid = wid or 1
        d = 2 * dy - dx
        incr1, incr2 = 2 * dy, 2 * (dy - dx)
        if x1 > x2:
            x, y, ydir, xend = x2, y2, -1, x1
        else:
            x, y, ydir, xend = x1, y1, 1, x2
        # gd: if ((y2-y1)*ydirflag > 0) → y++ branch else y-- branch
        step = 1 if (y2 - y1) * ydir > 0 else -1
        ws = y - wid // 2
        for ww in range(ws, ws + wid):
            xs_out.append(x); ys_out.append(ww)
        while x < xend:
            x += 1
            if d < 0:
                d += incr1
            else:
                y += step
                d += incr2
            ws = y - wid // 2
            for ww in range(ws, ws + wid):
                xs_out.append(x); ys_out.append(ww)
    else:  # more-or-less vertical
        as_ = _m.sin(_m.atan2(dy, dx))
        wid = int(thick / as_) if as_ != 0 else 1
        wid = wid or 1
        d = 2 * dx - dy
        incr1, incr2 = 2 * dx, 2 * (dx - dy)
        if y1 > y2:
            y, x, xdir, yend = y2, x2, -1, y1
        else:
            y, x, xdir, yend = y1, x1, 1, y2
        step = 1 if (x2 - x1) * xdir > 0 else -1
        ws = x - wid // 2
        for ww in range(ws, ws + wid):
            xs_out.append(ww); ys_out.append(y)
        while y < yend:
            y += 1
            if d < 0:
                d += incr1
            else:
                x += step
                d += incr2
            ws = x - wid // 2
            for ww in range(ws, ws + wid):
                xs_out.append(ww); ys_out.append(y)
    return np.asarray(xs_out, np.int64), np.asarray(ys_out, np.int64)


def line_points(x1: int, y1: int, x2: int, y2: int) -> tuple[np.ndarray, np.ndarray]:
    """1px gd line WITHOUT the clip (pixel set of gdImageLine on an
    unbounded canvas).  Kept for tests/tools; rendering goes through
    :func:`gd_line_pixels` / :func:`lines_points_batch` (clip included)."""
    return gd_line_pixels(int(x1), int(y1), int(x2), int(y2), 1, None, None)


def draw_line(canvas: np.ndarray, x1: int, y1: int, x2: int, y2: int,
              color: int, thickness: int = 1) -> None:
    """gdImageLine-equivalent onto the canvas (clip + swap + wid brush)."""
    h, w = canvas.shape[:2]
    xs, ys = gd_line_pixels(int(x1), int(y1), int(x2), int(y2),
                            int(thickness), w, h)
    _put(canvas, xs, ys, color)


def _clip_dim_batch(x0, y0, x1, y1, mindim: int, maxdim: int):
    """Vectorized clip_1d over line arrays → (x0, y0, x1, y1, keep)."""
    x0 = x0.astype(np.float64); y0 = y0.astype(np.float64)
    x1 = x1.astype(np.float64); y1 = y1.astype(np.float64)
    keep = ~(((x0 < mindim) & (x1 < mindim)) | ((x0 > maxdim) & (x1 > maxdim)))
    dxn = np.where(x1 != x0, x1 - x0, 1.0)
    m = (y1 - y0) / dxn
    # branch A: x0 < mindim (x1 >= mindim among keep)
    a = keep & (x0 < mindim)
    y0 = np.where(a, y0 - np.trunc(m * (x0 - mindim)), y0)
    a_far = a & (x1 > maxdim)
    y1 = np.where(a_far, np.trunc(y1 + m * (maxdim - x1)), y1)  # no-cast quirk
    x1 = np.where(a_far, maxdim, x1)
    x0 = np.where(a, mindim, x0)
    # branch B: x0 > maxdim
    b = keep & (x0 > maxdim)
    y0 = np.where(b, y0 + np.trunc(m * (maxdim - x0)), y0)
    b_far = b & (x1 < mindim)
    y1 = np.where(b_far, y1 - np.trunc(m * (x1 - mindim)), y1)
    x1 = np.where(b_far, mindim, x1)
    x0 = np.where(b, maxdim, x0)
    # branch C: x0 inside, far end out (uses ORIGINAL m — x0/y0 unchanged
    # in this branch, so recomputing m is unnecessary)
    inside = keep & ~a & ~b
    c_hi = inside & (x1 > maxdim)
    y1 = np.where(c_hi, y1 + np.trunc(m * (maxdim - x1)), y1)
    x1 = np.where(c_hi, maxdim, x1)
    c_lo = inside & (x1 < mindim)
    y1 = np.where(c_lo, y1 - np.trunc(m * (x1 - mindim)), y1)
    x1 = np.where(c_lo, mindim, x1)
    return (x0.astype(np.int64), y0.astype(np.int64),
            x1.astype(np.int64), y1.astype(np.int64), keep)


def clip_lines_batch(x1, y1, x2, y2, w: int = TILE_W, h: int = TILE_H):
    """gd's two clip_1d passes (x-dim then y-dim) vectorized.
    Returns (x1, y1, x2, y2, keep)."""
    x1 = np.asarray(x1, np.int64); y1 = np.asarray(y1, np.int64)
    x2 = np.asarray(x2, np.int64); y2 = np.asarray(y2, np.int64)
    x1, y1, x2, y2, k1 = _clip_dim_batch(x1, y1, x2, y2, 0, w - 1)
    y1, x1, y2, x2, k2 = _clip_dim_batch(y1, x1, y2, x2, 0, h - 1)
    return x1, y1, x2, y2, k1 & k2


def lines_points_batch(x1, y1, x2, y2, thick: int = 1,
                       w: int | None = TILE_W, h: int | None = TILE_H):
    """Vectorized gdImageLine pixel emission for a batch of lines.

    Clip (unless w is None) + left/top-most endpoint normalization + the
    closed-form of gd's integer accumulator (y_t = y0 + dir*⌊(2·t·dy+dx)/
    (2·dx)⌋ reproduces `d += incr1/incr2` exactly), then a minor-axis span
    of wid pixels per step.  Returns (xs, ys, reps) with reps[i] = pixel
    count of input line i (0 when fully clipped) — pixel order is line
    after line, so an ordered stamp preserves painter semantics.
    """
    x1 = np.asarray(x1, np.int64); y1 = np.asarray(y1, np.int64)
    x2 = np.asarray(x2, np.int64); y2 = np.asarray(y2, np.int64)
    nlines = len(x1)
    if w is not None:
        x1, y1, x2, y2, keep = clip_lines_batch(x1, y1, x2, y2, w, h)
    else:
        keep = np.ones(nlines, dtype=bool)
    dx = np.abs(x2 - x1); dy = np.abs(y2 - y1)
    # gd tie-break: dy == dx is dx-major; the degenerate dx==dy==0 line goes
    # through gdImageVLine (horizontal thick expansion), i.e. dy-major here
    major = (dy <= dx) & ((dx > 0) | (dy > 0))
    thick = max(int(thick), 0)
    # wid = trunc(thick / cos|sin(atan2(dy, dx))), min 1 (gd.c)
    if thick <= 1:
        wid = np.ones(nlines, np.int64)
    else:
        ang = np.arctan2(dy.astype(np.float64), dx.astype(np.float64))
        ac = np.where(major, np.cos(ang), np.sin(ang))
        wid = np.where(ac != 0, np.trunc(thick / np.where(ac != 0, ac, 1.0)),
                       1.0).astype(np.int64)
        wid = np.maximum(wid, 1)
        # gd special-cases dx==0 / dy==0 through VLine/HLine: span == thick
        wid = np.where((dx == 0) | (dy == 0), thick, wid)
    # normalize: dx-major starts at the left-most endpoint, dy-major at the
    # top-most (gd swaps endpoints; pixel order within a line is irrelevant
    # because a line has one color)
    swap = np.where(major, x1 > x2, y1 > y2)
    sx1 = np.where(swap, x2, x1); sy1 = np.where(swap, y2, y1)
    sx2 = np.where(swap, x1, x2); sy2 = np.where(swap, y1, y2)
    steps = np.where(keep, np.where(major, dx, dy) + 1, 0)
    n = steps * wid  # pixels per line
    total = int(n.sum())
    if total == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.zeros(nlines, np.int64))
    line_start = np.concatenate(([0], np.cumsum(n)[:-1]))
    u = np.arange(total) - np.repeat(line_start, n)   # 0..steps*wid-1
    if thick <= 1:
        t, o, rwid = u, 0, 1                          # 1px fast path
    else:
        rwid = np.repeat(wid, n)
        t = u // rwid                                  # major step index
        o = u % rwid                                   # offset within span
    rmaj = np.repeat(major, n)
    rdx = np.repeat(dx, n); rdy = np.repeat(dy, n)
    rx1 = np.repeat(sx1, n); ry1 = np.repeat(sy1, n)
    minor_dir = np.where(major, np.sign(sy2 - sy1), np.sign(sx2 - sx1))
    rdir = np.repeat(minor_dir, n)
    safe_dx = np.where(rdx > 0, rdx, 1)
    safe_dy = np.where(rdy > 0, rdy, 1)
    maj_coord = np.where(rmaj, rx1, ry1) + t
    min_base = np.where(
        rmaj,
        ry1 + rdir * ((2 * t * rdy + rdx) // (2 * safe_dx)),
        rx1 + rdir * ((2 * t * rdx + rdy) // (2 * safe_dy)),
    )
    min_coord = min_base - rwid // 2 + o
    xs = np.where(rmaj, maj_coord, min_coord)
    ys = np.where(rmaj, min_coord, maj_coord)
    return xs, ys, n


# --- gd ellipses -------------------------------------------------------------

def ellipse_pixels(cx: int, cy: int, dw: int, dh: int) -> tuple[np.ndarray, np.ndarray]:
    """gdImageFilledEllipse pixel set, transcribed from public libgd gd.c
    (integer midpoint loop emitting horizontal spans; the reference draws
    waypoint circles with it — gpx2tiles.c:590-592).  Emission order:
    center row, then symmetric row pairs outward."""
    a, b = dw >> 1, dh >> 1
    xs_parts = [np.arange(cx - a, cx + a + 1, dtype=np.int64)]
    ys_parts = [np.full(2 * a + 1, cy, np.int64)]
    mx1, my1, mx2, my2 = cx - a, cy, cx + a, cy
    aq, bq = a * a, b * b
    dx, dy = aq << 1, bq << 1
    r = a * bq
    rx, ry = r << 1, 0
    x = a
    old_y2 = -0x80000000  # sentinel != any my2
    while x > 0:
        if r > 0:
            my1 += 1; my2 -= 1
            ry += dx
            r -= ry
        if r <= 0:
            x -= 1
            mx1 += 1; mx2 -= 1
            rx -= dy
            r += rx
        if my2 != old_y2:
            span = np.arange(mx1, mx2 + 1, dtype=np.int64)
            xs_parts += [span, span]
            ys_parts += [np.full(len(span), my1, np.int64),
                         np.full(len(span), my2, np.int64)]
        old_y2 = my2
    return np.concatenate(xs_parts), np.concatenate(ys_parts)


def fill_ellipse(canvas: np.ndarray, cx: int, cy: int, dw: int, dh: int, color: int) -> None:
    """gdImageFilledEllipse-equivalent (exact pixel set, see ellipse_pixels)."""
    xs, ys = ellipse_pixels(cx, cy, dw, dh)
    _put(canvas, xs, ys, color)


def ellipse_outline_pixels(cx: int, cy: int, dw: int, dh: int
                           ) -> tuple[np.ndarray, np.ndarray]:
    """gdImageEllipse (outline) pixel sequence, transcribed from public
    libgd gd.c — used by the reference's PDOP diagnostic ellipse
    (gpx2tiles.c:497-505).  Duplicates are PRESERVED in emission order:
    the PDOP ellipse is drawn with alpha, and gd blends a re-visited
    pixel twice."""
    a, b = dw >> 1, dh >> 1
    xs = [cx + a, cx - a]
    ys = [cy, cy]
    mx1, my1, mx2, my2 = cx - a, cy, cx + a, cy
    aq, bq = a * a, b * b
    dx, dy = aq << 1, bq << 1
    r = a * bq
    rx, ry = r << 1, 0
    x = a
    while x > 0:
        if r > 0:
            my1 += 1; my2 -= 1
            ry += dx
            r -= ry
        if r <= 0:
            x -= 1
            mx1 += 1; mx2 -= 1
            rx -= dy
            r += rx
        xs += [mx1, mx1, mx2, mx2]
        ys += [my1, my2, my1, my2]
    return np.asarray(xs, np.int64), np.asarray(ys, np.int64)


def gd_alpha_blend(dst_rgb: np.ndarray, src_rgb: int, src_alpha: int) -> np.ndarray:
    """gdAlphaBlend (gd.c) for an opaque destination: per-channel
    (src*(127-A) + dst*((127)·A/127)) / 127 with C integer division.
    gd's destinations here are always alpha-0 (opaque) — untouched
    truecolor pixels are 0x00000000 = opaque black."""
    sw = 127 - src_alpha
    dw = (127 * src_alpha) // 127
    dst_rgb = np.asarray(dst_rgb, np.int64)
    out = np.zeros_like(dst_rgb)
    for shift in (16, 8, 0):
        sc = (src_rgb >> shift) & 0xFF
        dc = (dst_rgb >> shift) & 0xFF
        out |= ((sc * sw + dc * dw) // 127) << shift
    return out


def blend_ellipse_outline(canvas: np.ndarray, cx: int, cy: int, d: int,
                          color: int, alpha: int) -> None:
    """Draw gdImageEllipse(cx, cy, d, d, (alpha<<24)|color) with gd's
    alpha blending.  The outline re-visits pixels and each visit blends
    against the previous result; every visit applies the same blend, so
    a pixel visited k times is blended k times, whatever the order."""
    h, w = canvas.shape[:2]
    xs, ys = ellipse_outline_pixels(cx, cy, d, d)
    m = (xs >= 0) & (xs < w) & (ys >= 0) & (ys < h)
    if not m.any():
        return
    flat, visits = np.unique(ys[m] * w + xs[m], return_counts=True)
    py, px = np.divmod(flat, w)
    rgb = canvas[py, px, :3].astype(np.int64)
    dst = (rgb[:, 0] << 16) | (rgb[:, 1] << 8) | rgb[:, 2]
    for k in range(1, int(visits.max()) + 1):
        again = visits >= k
        dst[again] = gd_alpha_blend(dst[again], color, alpha)
    canvas[py, px, 0] = (dst >> 16) & 0xFF
    canvas[py, px, 1] = (dst >> 8) & 0xFF
    canvas[py, px, 2] = dst & 0xFF
    canvas[py, px, 3] = 255


def stamp_pixels(canvas: np.ndarray, xs: np.ndarray, ys: np.ndarray,
                 colors: np.ndarray) -> None:
    """Vectorized last-writer-wins pixel stamps (np.add-free; later rows win
    because numpy fancy assignment applies in index order)."""
    h, w = canvas.shape[:2]
    xs = np.asarray(xs, np.int64)
    ys = np.asarray(ys, np.int64)
    colors = np.asarray(colors, np.int64)
    m = (xs >= 0) & (xs < w) & (ys >= 0) & (ys < h)
    if not m.any():
        return
    xs, ys, colors = xs[m], ys[m], colors[m]
    canvas[ys, xs, 0] = (colors >> 16) & 0xFF
    canvas[ys, xs, 1] = (colors >> 8) & 0xFF
    canvas[ys, xs, 2] = colors & 0xFF
    canvas[ys, xs, 3] = 255


# ---------------------------------------------------------------------------
# 6x13 text (diag_draw_tile_speed, gpx2tiles.c:481-495)
# ---------------------------------------------------------------------------

FONT_W, FONT_H = 6, 13  # gdFontSmall cell (gd gdfonts.c, a 6x13 raster)

# Glyphs for the characters a "%.1f" speed string can contain, transcribed
# from the public X11 misc-fixed 6x13 font — the ancestor of gd's
# gdFontSmall.  Each entry is 13 rows of 6 bits, MSB = leftmost column.
# The *geometry* consumed by the engine (6*len(s) string width, row-14
# underline, pointer line to the point pixel) is exact per the reference;
# the glyph bitmaps are a faithful transcription but cannot be
# bit-compared against libgd inside this container (no gd available) —
# documented divergence risk is limited to in-glyph pixels.
_FONT_6x13 = {
    "0": [0x00, 0x00, 0x20, 0x50, 0x88, 0x88, 0x88, 0x88, 0x88, 0x50, 0x20, 0x00, 0x00],
    "1": [0x00, 0x00, 0x20, 0x60, 0xA0, 0x20, 0x20, 0x20, 0x20, 0x20, 0xF8, 0x00, 0x00],
    "2": [0x00, 0x00, 0x70, 0x88, 0x88, 0x08, 0x10, 0x20, 0x40, 0x80, 0xF8, 0x00, 0x00],
    "3": [0x00, 0x00, 0xF8, 0x08, 0x10, 0x20, 0x10, 0x08, 0x08, 0x88, 0x70, 0x00, 0x00],
    "4": [0x00, 0x00, 0x10, 0x30, 0x50, 0x90, 0x90, 0xF8, 0x10, 0x10, 0x10, 0x00, 0x00],
    "5": [0x00, 0x00, 0xF8, 0x80, 0x80, 0xB0, 0xC8, 0x08, 0x08, 0x88, 0x70, 0x00, 0x00],
    "6": [0x00, 0x00, 0x30, 0x40, 0x80, 0x80, 0xB0, 0xC8, 0x88, 0x88, 0x70, 0x00, 0x00],
    "7": [0x00, 0x00, 0xF8, 0x08, 0x10, 0x10, 0x20, 0x20, 0x40, 0x40, 0x40, 0x00, 0x00],
    "8": [0x00, 0x00, 0x70, 0x88, 0x88, 0x88, 0x70, 0x88, 0x88, 0x88, 0x70, 0x00, 0x00],
    "9": [0x00, 0x00, 0x70, 0x88, 0x88, 0x98, 0x68, 0x08, 0x08, 0x10, 0x60, 0x00, 0x00],
    ".": [0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x40, 0xE0, 0x40, 0x00],
}

_GLYPH_CACHE: dict[str, tuple[np.ndarray, np.ndarray]] = {}


def _glyph_points(ch: str) -> tuple[np.ndarray, np.ndarray]:
    if ch not in _GLYPH_CACHE:
        rows = _FONT_6x13.get(ch)
        if rows is None:
            _GLYPH_CACHE[ch] = (np.empty(0, np.int64), np.empty(0, np.int64))
        else:
            xs, ys = [], []
            for r, bits in enumerate(rows):
                for c in range(FONT_W):
                    if (bits >> (7 - c)) & 1:
                        xs.append(c)
                        ys.append(r)
            _GLYPH_CACHE[ch] = (np.asarray(xs, np.int64), np.asarray(ys, np.int64))
    return _GLYPH_CACHE[ch]


def text_points(s: str, x0: int = 0, y0: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Pixel list of gdImageString(gdFontSmall, x0, y0, s) in draw order
    (chars left to right, glyph rows top to bottom)."""
    xs_all, ys_all = [], []
    for i, ch in enumerate(s):
        gx, gy = _glyph_points(ch)
        xs_all.append(gx + x0 + i * FONT_W)
        ys_all.append(gy + y0)
    if not xs_all:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(xs_all), np.concatenate(ys_all)


def speed_text_points(digits: int, px: int, py: int, thick: int,
                      w: int = TILE_W, h: int = TILE_H
                      ) -> tuple[np.ndarray, np.ndarray]:
    """The full diag_draw_tile_speed pixel sequence (gpx2tiles.c:481-495):
    the "%.1f" speed string at (0,0), the underline at y = FONT_H + 1,
    and the pointer line from the underline's end to the point pixel —
    both lines via the exact gd Bresenham at the tile's line thickness.
    ``digits`` is the decimal string with its dot removed (x2 encoding:
    '12.3' → 123), reconstructed as str(d // 10) + '.' + str(d % 10)."""
    s = f"{digits // 10}.{digits % 10}"
    txs, tys = text_points(s)
    xx = FONT_W * len(s)
    yy = FONT_H + 1
    l1x, l1y, _ = lines_points_batch(
        np.asarray([0]), np.asarray([yy]), np.asarray([xx]), np.asarray([yy]),
        thick, w, h)
    l2x, l2y, _ = lines_points_batch(
        np.asarray([xx]), np.asarray([yy]), np.asarray([px]), np.asarray([py]),
        thick, w, h)
    return (np.concatenate([txs, l1x, l2x]), np.concatenate([tys, l1y, l2y]))
