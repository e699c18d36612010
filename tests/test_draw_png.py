"""PNG codec round-trip + raster primitive + clip predicate tests."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from gpx2tiles_spark import draw
from gpx2tiles_spark.colors import intensify, speed_kph_to_clridx
from gpx2tiles_spark.pngcodec import blank_tile, decode_png, encode_png


def test_png_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(64, 32, 4), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()


def test_png_deterministic():
    img = blank_tile()
    draw.draw_line(img, 0, 0, 255, 255, 0xA46100)
    assert encode_png(img) == encode_png(img.copy())


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def _predict(ft: int, a: int, b: int, c: int) -> int:
    return [0, a, b, (a + b) // 2, _paeth(a, b, c)][ft]


def _filtered_png(img: np.ndarray, filters: list[int]) -> bytes:
    """RGBA PNG whose row y is written with filter type filters[y]
    (PNG spec §9: predictor from left a, up b, up-left c)."""
    h, w, _ = img.shape
    rows = img.reshape(h, w * 4).astype(int)
    raw = bytearray()
    for y in range(h):
        raw.append(filters[y])
        for x in range(w * 4):
            a = int(rows[y, x - 4]) if x >= 4 else 0
            b = int(rows[y - 1, x]) if y else 0
            c = int(rows[y - 1, x - 4]) if y and x >= 4 else 0
            raw.append((int(rows[y, x]) - _predict(filters[y], a, b, c)) & 0xFF)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def _reference_decode(data: bytes) -> np.ndarray:
    """Plain per-byte unfilter of an RGBA PNG, one pixel at a time."""
    w, h = struct.unpack(">II", data[16:24])
    pos, idat = 8, b""
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        if data[pos + 4:pos + 8] == b"IDAT":
            idat += data[pos + 8:pos + 8 + n]
        pos += 12 + n
    raw = zlib.decompress(idat)
    stride = w * 4
    out = [[0] * stride for _ in range(h)]
    for y in range(h):
        ft = raw[y * (stride + 1)]
        for x in range(stride):
            a = out[y][x - 4] if x >= 4 else 0
            b = out[y - 1][x] if y else 0
            c = out[y - 1][x - 4] if y and x >= 4 else 0
            out[y][x] = (raw[y * (stride + 1) + 1 + x]
                         + _predict(ft, a, b, c)) & 0xFF
    return np.array(out, np.uint8).reshape(h, w, 4)


def _images() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(11)
    sparse = np.zeros((24, 20, 4), np.uint8)
    ys, xs = rng.integers(0, 24, 30), rng.integers(0, 20, 30)
    sparse[ys, xs] = rng.integers(0, 256, (30, 4), dtype=np.uint8)
    sparse[ys, xs, 3] = 255
    return {"random": rng.integers(0, 256, (24, 20, 4), dtype=np.uint8),
            "sparse": sparse}


@pytest.mark.parametrize("kind", ["random", "sparse"])
@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_decode_each_filter_type(ft, kind):
    img = _images()[kind]
    data = _filtered_png(img, [ft] * img.shape[0])
    want = _reference_decode(data)
    assert (want == img).all()
    assert (decode_png(data) == want).all()


@pytest.mark.parametrize("kind", ["random", "sparse"])
def test_decode_mixed_filter_rows(kind):
    img = _images()[kind]
    filters = [int(f) for f in
               np.random.default_rng(5).integers(0, 5, img.shape[0])]
    data = _filtered_png(img, filters)
    assert (decode_png(data) == _reference_decode(data)).all()


def test_speed_color_table():
    # gpx2tiles.c:470-479 lookup semantics incl. (int) truncation
    kph = np.array([0.0, 0.9, 10.0, 10.9, 13.0, 25.0, 59.9, 60.0, 61.0, 1000.0])
    idx = speed_kph_to_clridx(kph)
    assert idx.tolist() == [0, 0, 1, 1, 2, 3, 7, 7, 7, 7]
    # 13 kph (fixture gps/4, 3.62 m/s) -> brown #a46100 (FIXTURES.md §4.3)
    from gpx2tiles_spark.colors import clridx_to_rgb
    assert clridx_to_rgb(np.array([2]))[0] == 0xA46100


def test_intensify_black_and_clamp():
    # black (v=0) -> gray step; near-white clamps at 255
    assert intensify(np.array([0x000000]), 0.05)[0] == 0x0C0C0C
    assert intensify(np.array([0xFFFFFF]), 0.05)[0] == 0xFFFFFF
    # repeated intensify raises V to 1.0: dominant channel saturates (the
    # per-step (int) truncation keeps tiny channels small — same quantization
    # the C round-trip has, gpx2tiles.c:463-466)
    c = np.array([0x061A5B])
    for _ in range(40):
        c = intensify(c, 0.05)
    assert c[0] & 0xFF == 0xFF


def test_crossing_tile_predicate():
    # the production kernel (clip_candidates, the census simulation)
    from gpx2tiles_spark.operators.events import crossing_tile_np

    # horizontal segment crossing the right edge
    assert bool(crossing_tile_np(200, 100, 300, 100))
    # fully interior segment does not cross
    assert not bool(crossing_tile_np(10, 10, 200, 200))
    # fully outside but passing through the tile: crosses two borders
    assert bool(crossing_tile_np(-50, 128, 300, 128))
    # vectorized
    m = crossing_tile_np(
        np.array([200, 10]), np.array([100, 10]),
        np.array([300, 20]), np.array([100, 20])
    )
    assert m.tolist() == [True, False]


def test_bresenham_endpoints_and_symmetry():
    # gd normalizes to the left-most (dx-major) / top-most (dy-major)
    # endpoint before rasterizing, so the pixel SET is direction-
    # independent and both endpoints are always in it
    for (x1, y1, x2, y2) in [(0, 0, 10, 3), (5, 5, 5, 5), (9, 2, 0, 7), (3, 8, 3, 1)]:
        xs, ys = draw.line_points(x1, y1, x2, y2)
        pts = set(zip(xs.tolist(), ys.tolist()))
        assert (x1, y1) in pts and (x2, y2) in pts
        assert len(xs) == max(abs(x2 - x1), abs(y2 - y1)) + 1
        rx, ry = draw.line_points(x2, y2, x1, y1)
        assert set(zip(rx.tolist(), ry.tolist())) == pts


def test_fill_ellipse_center_and_extent():
    img = blank_tile(32, 32)
    draw.fill_ellipse(img, 16, 16, 9, 9, 0x061A5B)
    assert (img[16, 16, :3] == (0x06, 0x1A, 0x5B)).all()
    assert img[16, 16 - 4, 3] == 255 and img[16, 16 + 4, 3] == 255
    assert img[16, 16 - 6, 3] == 0 and img[16 - 6, 16, 3] == 0
