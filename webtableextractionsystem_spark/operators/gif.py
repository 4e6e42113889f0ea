"""GIF87a/89a codec in pure numpy/stdlib — LZW decode with full
dictionary growth (handles real-world files), plus a paired encoder.
The LZW data decodes through pdf._lzw_decode, which PDF and TIFF share
(GIF: LSB-first codes, min code size 2..8, no early change).

Scope: static GIFs (first image block of an animated file), global or
local color tables, interlaced or sequential row order, 8-bit palettes.
A first frame smaller than or offset within the logical screen is
composited onto a background-color canvas at its left/top — decode dims
always equal the logical-screen dims, matching what a player renders.
Transparency (GCE) is ignored — frames decode as opaque RGB, consistent
with the PNG path dropping alpha. Corrupt streams raise ValueError;
non-GIF magic raises NotImplementedError at the decode_image boundary.

The encoder is that decoder's pair, pdf._lzw_encode, called with the
same GIF parameters (dictionary-grown codes), plus the 255-byte
sub-block framing. Palette = the image's unique colors; images with
more than 256 distinct colors are rejected (quantization is a
preprocessing choice, not a codec concern).

Format from the public GIF89a specification (CompuServe, 1990) and the
LZW variable-code procedure described there.
"""

from __future__ import annotations

import numpy as np

from .pdf import _MAX_PIXELS, _lzw_decode, _lzw_encode

_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _interlace_order(h: int) -> list[int]:
    """GIF 4-pass interlace: the image row stored at each stream row."""
    return ([*range(0, h, 8)] + [*range(4, h, 8)]
            + [*range(2, h, 4)] + [*range(1, h, 2)])


def decode_gif(payload: bytes) -> np.ndarray:
    """First image of a GIF -> HxWx3 uint8 (palette resolved)."""
    if payload[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF payload")
    try:
        return _decode_gif_impl(payload)
    except IndexError as e:
        raise ValueError("truncated GIF header") from e


def _decode_gif_impl(payload: bytes) -> np.ndarray:
    # logical screen descriptor: canvas size + background color index —
    # the frame's own descriptor carries position and dimensions; a frame
    # smaller than / offset within the canvas is composited like a player
    # renders it (canvas filled with the background color, frame pasted
    # at its left/top), so decode dims always equal the screen dims
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    bg_index = payload[11]
    pos = 13
    global_pal = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        global_pal = np.frombuffer(
            payload, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            left = int.from_bytes(payload[pos + 1:pos + 3], "little")
            top = int.from_bytes(payload[pos + 3:pos + 5], "little")
            w = int.from_bytes(payload[pos + 5:pos + 7], "little")
            h = int.from_bytes(payload[pos + 7:pos + 9], "little")
            iflags = payload[pos + 9]
            pos += 10
            pal = global_pal
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(
                    payload, dtype=np.uint8, count=3 * n,
                    offset=pos).reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF image has no color table")
            if w <= 0 or h <= 0:
                raise ValueError("bad GIF image dimensions")
            if sw * sh > _MAX_PIXELS or w * h > _MAX_PIXELS:
                # bound BOTH the logical screen (the background canvas,
                # 64M pixels = 192 MB RGB at the bound, needs no LZW data
                # behind its header dims) and the frame dims here,
                # BEFORE the LZW decode: dictionary growth amplifies
                # ~150 KB of crafted codes into a 65535x65535 index
                # array, and pal[rows] would allocate the 12.8 GB RGB
                # frame — the giant allocations happen during decode,
                # not at the canvas composite
                raise ValueError(
                    f"GIF dimensions {sw}x{sh} (frame {w}x{h}) exceed "
                    f"the {_MAX_PIXELS}-pixel decode bound")
            min_code = payload[pos]
            if not 2 <= min_code <= 8:
                raise ValueError(f"bad GIF LZW min code size {min_code}")
            pos += 1
            lzw = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                lzw += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pixels = _lzw_decode(bytes(lzw), early=0, min_code=min_code,
                                 lsb=True, n_out=w * h)
            if len(pixels) < w * h:
                raise ValueError("GIF pixel data ended early")
            idx = np.frombuffer(pixels, dtype=np.uint8)
            if int(idx.max()) >= pal.shape[0]:
                raise ValueError("GIF pixel index outside color table")
            rows = idx.reshape(h, w)
            if iflags & 0x40:
                rows = rows[np.argsort(_interlace_order(h))]
            frame = pal[rows]  # fancy indexing already allocates fresh
            if left == 0 and top == 0 and (w, h) == (sw, sh):
                return frame
            if left + w > sw or top + h > sh or sw <= 0 or sh <= 0:
                raise ValueError("GIF frame extends beyond logical screen")
            bg = (global_pal[bg_index]
                  if global_pal is not None and bg_index < len(global_pal)
                  else np.zeros(3, dtype=np.uint8))
            canvas = np.broadcast_to(bg, (sh, sw, 3)).copy()
            canvas[top:top + h, left:left + w] = frame
            return canvas
        elif b == 0x3B:  # trailer before any image
            raise ValueError("GIF contains no image data")
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError("truncated GIF (no image block)")


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """HxWx3 uint8 (<=256 distinct colors) -> GIF89a payload."""
    if img.ndim != 3 or img.shape[2] < 3:
        raise ValueError(
            f"encode_gif needs an HxWx(>=3) array, got shape {img.shape}")
    h, w = img.shape[:2]
    if h <= 0 or w <= 0:
        raise ValueError("empty image")
    flat = img[..., :3].reshape(-1, 3)
    pal, idx = np.unique(flat, axis=0, return_inverse=True)
    if pal.shape[0] > 256:
        raise ValueError(f"{pal.shape[0]} distinct colors exceed a GIF "
                         "palette; quantize first")
    pal_bits = max(1, int(pal.shape[0] - 1).bit_length())
    n_pal = 1 << pal_bits
    pal_bytes = np.zeros((n_pal, 3), dtype=np.uint8)
    pal_bytes[: pal.shape[0]] = pal
    rows = idx.reshape(h, w)
    if interlace:
        rows = rows[_interlace_order(h)]
    min_code = max(2, pal_bits)
    stream = _lzw_encode(rows.astype(np.uint8).tobytes(), early=0,
                         min_code=min_code, lsb=True)

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (pal_bits - 1), 0, 0])  # GCT flag + size
    out += pal_bytes.tobytes()
    out += b"\x2c" + b"\x00" * 4  # image descriptor at (0,0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0x00])
    out += bytes([min_code])
    for i in range(0, len(stream), 255):
        chunk = stream[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)
