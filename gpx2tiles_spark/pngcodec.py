"""Minimal deterministic PNG codec (stdlib zlib/struct only; PIL-free).

Encodes/decodes 8-bit RGBA images as numpy (H, W, 4) uint8 arrays.
Compression level 4 by default to mirror the reference's gdImagePngEx
(/root/reference/gpx2tiles.c:334).  Alpha convention is PNG's
(0 = transparent, 255 = opaque); the engine's blank tile is fully
transparent black, matching gd's gdTrueColorAlpha(0,0,0,127) marker.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(rgba: np.ndarray, level: int = 4) -> bytes:
    """RGBA (H, W, 4) uint8 -> PNG bytes (filter type 0 rows, deterministic)."""
    arr = np.ascontiguousarray(rgba, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 4, "RGBA expected"
    # prepend filter byte 0 to each scanline
    raw = np.zeros((h, 1 + w * 4), dtype=np.uint8)
    raw[:, 1:] = arr.reshape(h, w * 4)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)  # 8-bit RGBA
    idat = zlib.compress(raw.tobytes(), level)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> RGBA (H, W, 4) uint8. Supports 8-bit RGBA/RGB/gray(+alpha),
    non-interlaced, all 5 scanline filters — enough for our own output and
    typical tile PNGs."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = bitd = ctype = None
    idat = bytearray()
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, bitd, ctype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", payload)
            if bitd != 8 or interlace != 0:
                raise ValueError("unsupported PNG (need 8-bit non-interlaced)")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = w * nch
    raw = raw.reshape(h, 1 + stride)
    filters = raw[:, 0]
    if not filters.any():  # all rows unfiltered: the engine's own output
        out = raw[:, 1:].copy()
    else:
        out = _unfilter(raw[:, 1:], filters, w, nch)
    px = out.reshape(h, w, nch)
    if nch == 4:
        return px
    rgba = np.zeros((h, w, 4), dtype=np.uint8)
    if nch == 3:
        rgba[..., :3] = px
        rgba[..., 3] = 255
    elif nch == 2:
        rgba[..., 0] = rgba[..., 1] = rgba[..., 2] = px[..., 0]
        rgba[..., 3] = px[..., 1]
    else:
        rgba[..., 0] = rgba[..., 1] = rgba[..., 2] = px[..., 0]
        rgba[..., 3] = 255
    return rgba


def _unfilter(lines: np.ndarray, filters: np.ndarray, w: int,
              bpp: int) -> np.ndarray:
    """Undo the per-row scanline filters (PNG spec §9).  None, Sub and Up
    rows are whole-row numpy ops — Sub is a running sum over each byte's
    pixel predecessors mod 256; Average and Paeth read the row's own
    reconstructed bytes, so they keep a sequential pass."""
    h, stride = lines.shape
    out = np.zeros((h, stride), dtype=np.uint8)
    zero = np.zeros(stride, np.int32)
    for y in range(h):
        line = lines[y].astype(np.int32)
        ft = filters[y]
        prev = out[y - 1].astype(np.int32) if y > 0 else zero
        if ft == 0:
            rec = line
        elif ft == 1:  # Sub
            rec = np.cumsum(line.reshape(w, bpp), axis=0).reshape(-1)
        elif ft == 2:  # Up
            rec = line + prev
        elif ft in (3, 4):  # Average / Paeth need a sequential pass
            rec = np.zeros(stride, np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                if ft == 3:
                    rec[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    rec[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {ft}")
        out[y] = rec & 0xFF
    return out


def blank_tile(h: int = 256, w: int = 256) -> np.ndarray:
    """Fully transparent black canvas (gd's transparent fill, gpx2tiles.c:283,300)."""
    return np.zeros((h, w, 4), dtype=np.uint8)
