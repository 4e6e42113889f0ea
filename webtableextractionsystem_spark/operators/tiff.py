"""Baseline TIFF decode/encode in pure numpy/stdlib — the next
media-breadth codec after PPM/BMP/PNG/GIF/JPEG, built to the same
contract: a real spec-driven decoder with honest named ValueError
boundaries, a paired encoder for round-trip tests, and DoS bounds on
every untrusted size.

Scope (TIFF 6.0 baseline, both byte orders): 8-bit grayscale
(PhotometricInterpretation 0/1) and RGB (2) images, strip-organized
(any RowsPerStrip), Compression 1 (none), 5 (LZW — the TIFF-style
MSB-first 9..12-bit scheme operators/pdf.py already implements for
/LZWDecode, EarlyChange=1 as TIFF writers emit) with horizontal-
differencing Predictor 2, and 32773 (PackBits). Raises ValueError
naming the feature for everything else: sub-8-bit or 16-bit samples,
palette/CMYK/YCbCr photometrics, CCITT (2/3/4), old+new JPEG (6/7),
Deflate (8/32946), tiled files, and planar configuration 2.

Multi-IFD (multi-page) files decode their FIRST IFD, the baseline-
reader contract (TIFF6 p.16: readers are only required to read the
first image).

Everything from the public spec: TIFF Revision 6.0 (Adobe, 1992) —
structure §2, required fields §3, PackBits §9, LZW §13, Predictor
§14.
"""

from __future__ import annotations

import struct

import numpy as np

from .pdf import (
    _MAX_PIXELS,
    _MAX_STREAM_BYTES,
    _lzw_decode,
    _lzw_encode,
    _packbits_encode,
    _undiff,
)

_MAX_STRIPS = 1 << 16

# tag ids (TIFF6 §3-§14)
_T_WIDTH, _T_LENGTH, _T_BITS = 256, 257, 258
_T_COMPRESSION, _T_PHOTOMETRIC = 259, 262
_T_STRIP_OFFSETS, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = \
    273, 277, 278, 279
_T_PLANAR, _T_PREDICTOR = 284, 317

_TYPE_SIZE = {1: 1, 3: 2, 4: 4}   # BYTE, SHORT, LONG (all we read)

_COMPRESSION_NAMES = {
    2: "CCITT RLE", 3: "CCITT G3", 4: "CCITT G4", 6: "old JPEG",
    7: "JPEG", 8: "Deflate", 32946: "Deflate(legacy)",
}


def _packbits_decode(raw: bytes, expect: int) -> bytes:
    """TIFF §9 PackBits: control byte n in 0..127 copies the next n+1
    literally; 129..255 (-1..-127) repeats the next byte 257-n times;
    128 (-128) is a no-op. No EOD marker — the strip's expected
    decoded length terminates."""
    out = bytearray()
    i, n = 0, len(raw)
    while len(out) < expect:
        if i >= n:
            raise ValueError("truncated TIFF PackBits strip")
        c = raw[i]
        if c < 128:
            lit = raw[i + 1:i + 2 + c]
            if len(lit) != c + 1:
                raise ValueError("truncated TIFF PackBits literal")
            out += lit
            i += 2 + c
        elif c == 128:
            i += 1
        else:
            if i + 1 >= n:
                raise ValueError("truncated TIFF PackBits run")
            out += raw[i + 1:i + 2] * (257 - c)
            i += 2
        if len(out) > _MAX_STREAM_BYTES:
            raise ValueError("TIFF strip exceeds the inflate bound")
    if len(out) != expect:
        raise ValueError("TIFF PackBits strip overruns its row count")
    return bytes(out)


def _strict_u(v, name: str) -> int:
    if isinstance(v, bool) or not isinstance(v, int) or v < 0:
        raise ValueError(f"bad TIFF {name}")
    return v


def _read_ifd(payload: bytes, endian: str, off: int) -> dict[int, list[int]]:
    n = len(payload)
    if not 0 <= off <= n - 2:
        raise ValueError("TIFF IFD offset out of range")
    (count,) = struct.unpack_from(endian + "H", payload, off)
    if count > 4096 or off + 2 + 12 * count + 4 > n:
        raise ValueError("bad TIFF IFD entry count")
    tags: dict[int, list[int]] = {}
    for i in range(count):
        tag, typ, cnt = struct.unpack_from(
            endian + "HHI", payload, off + 2 + 12 * i)
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue   # RATIONAL/ASCII metadata: irrelevant to decode
        if cnt > _MAX_STRIPS * 4:
            raise ValueError("bad TIFF tag count")
        vo = off + 2 + 12 * i + 8
        if size * cnt > 4:
            (vo,) = struct.unpack_from(endian + "I", payload, vo)
            if vo + size * cnt > n:
                raise ValueError("TIFF tag value out of range")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack_from(
            endian + fmt * cnt, payload, vo))
    return tags


def decode_tiff(payload: bytes) -> np.ndarray:
    """TIFF -> HxWx3 uint8 (grayscale broadcast to 3 channels,
    WhiteIsZero inverted). First IFD only — see the module contract.
    Malformed structure raises ValueError like every other codec here
    (struct/index errors from truncated headers are converted, so the
    decode_image ValueError-only contract holds)."""
    try:
        return _decode_tiff_impl(payload)
    except (struct.error, IndexError) as e:
        raise ValueError("truncated TIFF structure") from e


def _decode_tiff_impl(payload: bytes) -> np.ndarray:
    if payload[:4] == b"II*\x00":
        endian = "<"
    elif payload[:4] == b"MM\x00*":
        endian = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from(endian + "I", payload, 4)
    tags = _read_ifd(payload, endian, ifd_off)

    def one(tag: int, default=None, name: str = "") -> int:
        vals = tags.get(tag)
        if vals is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {name}")
            return default
        return _strict_u(vals[0], name or str(tag))

    w = one(_T_WIDTH, name="ImageWidth")
    h = one(_T_LENGTH, name="ImageLength")
    if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
        raise ValueError("bad TIFF dimensions")
    spp = one(_T_SPP, default=1, name="SamplesPerPixel")
    photometric = one(_T_PHOTOMETRIC, name="PhotometricInterpretation")
    if photometric in (0, 1):
        if spp != 1:
            raise ValueError("TIFF grayscale with SamplesPerPixel != 1")
    elif photometric == 2:
        if spp != 3:
            # baseline RGB may add ExtraSamples; out of scope, honest
            raise ValueError(
                f"TIFF RGB with SamplesPerPixel {spp} unsupported")
    else:
        raise ValueError(
            f"TIFF PhotometricInterpretation {photometric} unsupported "
            "(palette/CMYK/YCbCr are out of baseline scope here)")
    bits = tags.get(_T_BITS, [1])
    if any(b != 8 for b in bits):
        raise ValueError(f"TIFF BitsPerSample {bits} unsupported "
                         "(8-bit only)")
    if len(bits) not in (1, spp):
        raise ValueError("TIFF BitsPerSample count disagrees with "
                         "SamplesPerPixel")
    if one(_T_PLANAR, default=1, name="PlanarConfiguration") != 1:
        raise ValueError("TIFF PlanarConfiguration 2 unsupported")
    comp = one(_T_COMPRESSION, default=1, name="Compression")
    pred = one(_T_PREDICTOR, default=1, name="Predictor")
    if pred not in (1, 2):
        raise ValueError(f"TIFF Predictor {pred} unsupported")
    if comp not in (1, 5, 32773):
        raise ValueError(
            "TIFF Compression "
            f"{_COMPRESSION_NAMES.get(comp, comp)} unsupported")
    if pred == 2 and comp == 1:
        # §14: predictor 2 is defined only with LZW in baseline+ext;
        # tolerate it with PackBits (real writers emit that), refuse
        # the meaningless uncompressed+predictor combination
        raise ValueError("TIFF Predictor 2 without compression")

    rows_per_strip = one(_T_ROWS_PER_STRIP, default=h,
                         name="RowsPerStrip")
    rows_per_strip = min(max(rows_per_strip, 1), h)
    offsets = tags.get(_T_STRIP_OFFSETS)
    counts = tags.get(_T_STRIP_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip offsets/byte counts")
    n_strips = -(-h // rows_per_strip)
    if len(offsets) != n_strips or n_strips > _MAX_STRIPS:
        raise ValueError("TIFF strip count disagrees with RowsPerStrip")

    rows = bytearray()
    for s, (so, sc) in enumerate(zip(offsets, counts)):
        _strict_u(so, "StripOffsets")
        _strict_u(sc, "StripByteCounts")
        if so + sc > len(payload):
            raise ValueError("TIFF strip out of range")
        strip_rows = min(rows_per_strip, h - s * rows_per_strip)
        expect = strip_rows * w * spp
        raw = payload[so:so + sc]
        if comp == 1:
            data = raw
        elif comp == 5:
            try:
                data = _lzw_decode(raw, early=1)
            except ValueError as e:
                raise ValueError(f"bad TIFF LZW strip: {e}") from e
        else:
            data = _packbits_decode(raw, expect)
        if len(data) != expect:
            raise ValueError("TIFF strip length disagrees with its "
                             "row count")
        if pred == 2:
            data = _undiff(np.frombuffer(data, dtype=np.uint8)
                           .reshape(strip_rows, w * spp), spp).tobytes()
        rows += data

    img = np.frombuffer(bytes(rows), dtype=np.uint8).reshape(h, w, spp)
    if photometric == 0:
        img = 255 - img
    if spp == 1:
        img = np.repeat(img, 3, axis=2)
    return img


def encode_tiff(img: np.ndarray, compression: str = "none",
                predictor: int = 1, big_endian: bool = False,
                rows_per_strip: int | None = None,
                grayscale: bool = False) -> bytes:
    """HxWx3 uint8 -> baseline TIFF. ``compression``: "none", "lzw",
    or "packbits"; ``predictor`` 2 (horizontal differencing, lzw/
    packbits only) matches decode_tiff's §14 handling; ``grayscale``
    stores one channel (the red plane) as Photometric 1."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_tiff needs an HxWx3 uint8 array")
    if compression not in ("none", "lzw", "packbits"):
        raise ValueError(f"unsupported TIFF compression {compression}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if predictor == 2 and compression == "none":
        raise ValueError("TIFF Predictor 2 without compression")
    h, w = img.shape[:2]
    plane = img[:, :, :1] if grayscale else img
    spp = plane.shape[2]
    endian = ">" if big_endian else "<"
    rps = min(rows_per_strip or h, h)
    strips = []
    for r0 in range(0, h, rps):
        part = plane[r0:r0 + rps]
        if predictor == 2:
            # first column stored raw (x - 0), the rest as differences
            part = np.diff(part, axis=1,
                           prepend=np.zeros_like(part[:, :1, :]))
        data = part.tobytes()
        if compression == "lzw":
            data = _lzw_encode(data, early=1)
        elif compression == "packbits":
            data = _packbits_encode(data)
        strips.append(data)

    comp_id = {"none": 1, "lzw": 5, "packbits": 32773}[compression]
    out = bytearray(struct.pack(endian + "2sHI",
                                b"II" if endian == "<" else b"MM", 42, 0))
    strip_offsets = []
    for s in strips:
        strip_offsets.append(len(out))
        out += s
    if len(out) % 2:
        out += b"\x00"   # IFD must start on a word boundary (§2)

    entries: list[tuple[int, int, int, list[int]]] = [
        (_T_WIDTH, 4, 1, [w]),
        (_T_LENGTH, 4, 1, [h]),
        (_T_BITS, 3, spp, [8] * spp),
        (_T_COMPRESSION, 3, 1, [comp_id]),
        (_T_PHOTOMETRIC, 3, 1, [1 if grayscale else 2]),
        (_T_STRIP_OFFSETS, 4, len(strips), strip_offsets),
        (_T_SPP, 3, 1, [spp]),
        (_T_ROWS_PER_STRIP, 4, 1, [rps]),
        (_T_STRIP_COUNTS, 4, len(strips), [len(s) for s in strips]),
    ]
    if predictor == 2:
        entries.append((_T_PREDICTOR, 3, 1, [2]))
    entries.sort()

    # out-of-line value areas first, then the IFD
    overflow: dict[int, int] = {}
    for tag, typ, cnt, vals in entries:
        if _TYPE_SIZE[typ] * cnt > 4:
            overflow[tag] = len(out)
            fmt = {3: "H", 4: "I"}[typ]
            out += struct.pack(endian + fmt * cnt, *vals)
            if len(out) % 2:
                out += b"\x00"
    ifd_off = len(out)
    out += struct.pack(endian + "H", len(entries))
    for tag, typ, cnt, vals in entries:
        out += struct.pack(endian + "HHI", tag, typ, cnt)
        if _TYPE_SIZE[typ] * cnt > 4:
            out += struct.pack(endian + "I", overflow[tag])
        else:
            fmt = {3: "H", 4: "I"}[typ]
            field = struct.pack(endian + fmt * cnt, *vals)
            out += field + b"\x00" * (4 - len(field))
    out += struct.pack(endian + "I", 0)   # no next IFD
    struct.pack_into(endian + "I", out, 4, ifd_off)
    return bytes(out)
