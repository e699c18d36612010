"""Output checkers written apart from the program.

- ``tile_pixel``: slippy-map tile and in-tile pixel of (lat, lon) in
  numpy, from the public OSM formulas (tile by the Mercator fraction,
  pixel by linear interpolation over the tile's bounding box).
- ``read_png``: PNG reader on zlib + numpy for 8-bit non-interlaced
  images, all five scanline filter types.  Sub and Up rows are running
  sums; Average and Paeth rows take one numpy step per pixel.

``python3 perfbench/check.py`` runs the self-tests.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def tile_pixel(lat, lon, z: int):
    """(tx, ty, px, py) int64 arrays of points at zoom z."""
    lat = np.asarray(lat, np.float64)
    lon = np.asarray(lon, np.float64)
    n = 2.0 ** z
    tx = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    r = np.radians(lat)
    ty = np.floor((1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / np.pi)
                  / 2.0 * n).astype(np.int64)
    west = tx / n * 360.0 - 180.0
    east = (tx + 1) / n * 360.0 - 180.0
    north = np.degrees(np.arctan(np.sinh(np.pi - 2.0 * np.pi * ty / n)))
    south = np.degrees(np.arctan(np.sinh(np.pi - 2.0 * np.pi * (ty + 1) / n)))
    px = np.trunc((lon - west) * 256.0 / (east - west)).astype(np.int64)
    py = np.trunc((lat - north) * 256.0 / (south - north)).astype(np.int64)
    return tx, ty, px, py


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    rows = raw.reshape(h, 1 + stride)
    ft = rows[:, 0]
    if (ft > 4).any():
        raise ValueError(f"bad filter type {int(ft.max())}")
    if not ft.any():  # every row unfiltered: nothing to reconstruct
        return rows[:, 1:]
    data = rows[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), np.int32)
    for y in range(h):
        line = data[y]
        prev = out[y - 1] if y else np.zeros(stride, np.int32)
        f = ft[y]
        if f == 0:
            out[y] = line
        elif f == 1:  # Sub: a running sum of each channel along the row
            out[y] = np.cumsum(line.reshape(-1, bpp), axis=0).reshape(-1) & 0xFF
        elif f == 2:
            out[y] = (line + prev) & 0xFF
        else:
            rec = out[y]
            # one vector step per pixel: its bytes depend only on the
            # previous pixel of the row and the row above
            for x0 in range(0, stride, bpp):
                sl = slice(x0, x0 + bpp)
                a = rec[x0 - bpp:x0] if x0 else 0
                b = prev[sl]
                if f == 3:
                    rec[sl] = (line[sl] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[x0 - bpp:x0] if x0 else 0
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where((pa <= pb) & (pa <= pc), a,
                                    np.where(pb <= pc, b, c))
                    rec[sl] = (line[sl] + pred) & 0xFF
    return out.astype(np.uint8)


def read_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 4) uint8 RGBA; raises ValueError on bad input."""
    if data[:8] != PNG_SIG:
        raise ValueError("no PNG signature")
    pos, idat, hdr, ended = 8, [], None, False
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        crc = data[pos + 8 + ln:pos + 12 + ln]
        if len(body) != ln or len(crc) != 4:
            raise ValueError("truncated chunk")
        if struct.unpack(">I", crc)[0] != zlib.crc32(tag + body) & 0xFFFFFFFF:
            raise ValueError(f"bad CRC in {tag!r}")
        pos += 12 + ln
        if tag == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            ended = True
            break
    if hdr is None or not ended:
        raise ValueError("missing IHDR or IEND")
    w, h, depth, ctype, _, _, interlace = hdr
    if depth != 8 or interlace or ctype not in (0, 2, 4, 6):
        raise ValueError("unsupported PNG format")
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    try:
        raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    except zlib.error as e:
        raise ValueError(f"image data: {e}") from None
    if raw.size != h * (1 + w * nch):
        raise ValueError("image data size mismatch")
    px = _unfilter(raw, h, w * nch, nch).reshape(h, w, nch)
    if nch == 4:
        return px
    rgba = np.empty((h, w, 4), np.uint8)
    rgba[..., :3] = px[..., :1] if nch in (1, 2) else px[..., :3]
    rgba[..., 3] = px[..., -1] if nch in (2,) else 255
    return rgba


def read_tile(path: str) -> np.ndarray:
    with open(path, "rb") as f:
        img = read_png(f.read())
    if img.shape != (256, 256, 4):
        raise ValueError(f"{path}: shape {img.shape}")
    return img


def check_pyramid(out_dir: str, trk: np.ndarray, wpt: np.ndarray,
                  zooms, sample: np.ndarray, z_wpt_min: int = 17) -> list[str]:
    """Faults of a ``{z}/{x}/{y}.png`` tree against the generated points:
    a missing tile of a point, a file that is not a 256×256 RGBA PNG, or
    an unpainted pixel of a sampled point.  ``sample`` indexes ``trk``."""
    errs: list[str] = []
    want: set[tuple[int, int, int]] = set()
    for z in zooms:
        tx, ty, _, _ = tile_pixel(trk[:, 0], trk[:, 1], z)
        want.update(zip([z] * len(tx), tx.tolist(), ty.tolist()))
        if z >= z_wpt_min and len(wpt):
            wx, wy, _, _ = tile_pixel(wpt[:, 0], wpt[:, 1], z)
            want.update(zip([z] * len(wx), wx.tolist(), wy.tolist()))
    have: set[tuple[int, int, int]] = set()
    images: dict[tuple[int, int, int], np.ndarray] = {}
    for z in os.listdir(out_dir):
        if not z.isdigit():
            continue
        for x in os.listdir(os.path.join(out_dir, z)):
            for name in os.listdir(os.path.join(out_dir, z, x)):
                key = (int(z), int(x), int(name.split(".")[0]))
                try:
                    images[key] = read_tile(os.path.join(out_dir, z, x, name))
                except ValueError as e:
                    errs.append(f"{key}: {e}")
                have.add(key)
    missing = want - have
    if missing:
        errs.append(f"{len(missing)} tiles of generated points missing, "
                    f"e.g. {sorted(missing)[:3]}")
    pts = trk[sample]
    for z in zooms:
        tx, ty, px, py = tile_pixel(pts[:, 0], pts[:, 1], z)
        for k in zip(tx.tolist(), ty.tolist(), px.tolist(), py.tolist()):
            img = images.get((z, k[0], k[1]))
            if img is not None and img[k[3], k[2], 3] == 0:
                errs.append(f"z{z} tile {k[:2]} pixel {k[2:]} not painted")
    return errs


# ---------------------------------------------------------------- self-test

def _write_png(img: np.ndarray, filters: list[int]) -> bytes:
    """Reference encoder choosing each row's filter (to test the reader)."""
    h, w, _ = img.shape
    bpp, stride = 4, w * 4
    rows = img.reshape(h, stride).astype(np.int32)
    out = bytearray()
    for y in range(h):
        line = rows[y]
        prev = rows[y - 1] if y else np.zeros(stride, np.int32)
        a = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
        c = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        f = filters[y % len(filters)]
        if f == 0:
            enc = line
        elif f == 1:
            enc = line - a
        elif f == 2:
            enc = line - prev
        elif f == 3:
            enc = line - ((a + prev) >> 1)
        else:
            p = a + prev - c
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
            enc = line - np.where((pa <= pb) & (pa <= pc), a,
                                  np.where(pb <= pc, prev, c))
        out.append(f)
        out += (enc & 0xFF).astype(np.uint8).tobytes()

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))
    return (PNG_SIG + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


def self_test(tmp: str) -> None:
    # the reference fixture's anchor point
    tx, ty, px, py = tile_pixel([48.91569597], [8.50383737], 17)
    assert (int(tx[0]), int(ty[0]), int(px[0]), int(py[0])) == (68632, 45059, 39, 196)

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(32, 48, 4), dtype=np.uint8)
    for f in range(5):
        assert (read_png(_write_png(img, [f])) == img).all(), f"filter {f}"
    assert (read_png(_write_png(img, [0, 1, 2, 3, 4])) == img).all()

    data = _write_png(img, [4])
    for bad in (data[:len(data) // 2], data[:-12], b"x" + data[1:]):
        try:
            read_png(bad)
        except ValueError:
            continue
        raise AssertionError("truncated or damaged PNG accepted")

    # a tiny pyramid: one point at z1-2, then tamper with it
    import shutil
    trk = np.array([[48.91569597, 8.50383737]])
    root = os.path.join(tmp, "selftest_pyramid")
    shutil.rmtree(root, ignore_errors=True)
    tiles = {}
    for z in (1, 2):
        t = tile_pixel(trk[:, 0], trk[:, 1], z)
        canvas = np.zeros((256, 256, 4), np.uint8)
        canvas[int(t[3][0]), int(t[2][0])] = (1, 2, 3, 255)
        d = os.path.join(root, str(z), str(int(t[0][0])))
        os.makedirs(d, exist_ok=True)
        tiles[z] = (os.path.join(d, f"{int(t[1][0])}.png"), canvas)
        with open(tiles[z][0], "wb") as f:
            f.write(_write_png(canvas, [1]))
    sample = np.array([0])
    wpt = np.zeros((0, 2))
    assert check_pyramid(root, trk, wpt, [1, 2], sample) == []

    path, canvas = tiles[2]
    erased = canvas.copy()
    erased[..., 3] = 0
    with open(path, "wb") as f:
        f.write(_write_png(erased, [0]))
    assert any("not painted" in e for e in check_pyramid(root, trk, wpt, [1, 2], sample))
    with open(path, "wb") as f:
        f.write(_write_png(canvas, [0])[:100])
    assert check_pyramid(root, trk, wpt, [1, 2], sample)
    os.remove(path)
    assert any("missing" in e for e in check_pyramid(root, trk, wpt, [1, 2], sample))
    shutil.rmtree(root)


if __name__ == "__main__":
    import tempfile

    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as d:
        self_test(d)
    print("checkers: self-test passed")
