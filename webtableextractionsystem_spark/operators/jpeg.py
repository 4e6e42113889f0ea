"""JPEG (JFIF) codec in pure numpy/stdlib.

Scope (honest and tested): baseline sequential DCT (SOF0) AND
progressive DCT (SOF2 — spectral selection, successive approximation,
EOBn runs, per-scan DHT redefinition), 8-bit, 1-component grayscale or
3-component YCbCr with any integer sampling factors 1-4 whose ratios
divide evenly — 4:4:4, 4:2:0 (the overwhelming real-web default) and
4:2:2 are round-trip tested; chroma upsampling on decode is
nearest-neighbor (sample replication — T.81 leaves the filter to the
decoder). The paired encoder emits 4:4:4 by default, 4:2:0 / 4:2:2 on
request (box-averaged chroma), and SOF2 with the standard libjpeg scan
script on ``progressive=True``. Optional restart intervals both ways and
in every progressive scan. Arithmetic-coded, hierarchical, lossless, and
12-bit streams raise ValueError naming the unsupported feature — corrupt
data also ValueError; the magic-sniff boundary stays in decode_image.

One coefficient pipeline serves both modes, as in libjpeg. A frame
(``_Frame``) holds one int32 zigzag-ordered coefficient buffer per
component; every scan walks it through one MCU walk (``_mcus``) and one
scan coder per direction (``_encode_scan`` / ``_decode_scan``) over a
spectral band [Ss, Se] at a successive-approximation stage (Ah, Al).
A sequential SOF0 stream is the one-scan case: the band 0..63 at
Ah=Al=0 over all components (T.81 §F.1.2). The encoder quantizes each
block once; the decoder runs one ``_reconstruct`` (dequantize, IDCT,
crop, upsample, colour-convert) after the SOF0 scan or at a SOF2 EOI.
So a baseline and a progressive stream of one image decode
bit-identically.

Everything is from the public standard: ITU-T T.81 — zigzag order
(§A.3.6), quantization + Huffman tables from Annex K (the "typical"
tables virtually every encoder ships), byte stuffing (§B.1.1.5), DC
prediction and (run,size) AC coding (§F.1.2), progressive scan
semantics (Annex G, control flow mirroring the public libjpeg phuff
coders); JFIF YCbCr from the JFIF 1.02 spec. JPEG is lossy: round-trips
assert PSNR bounds, not equality (flat images survive near-exactly —
DC-only blocks).

DCT as an 8x8 matrix sandwich (T @ B @ T.T) over numpy float64, one
block at a time: a batched einsum sums in a different order and can
round a coefficient or pixel sitting on a .5 boundary the other way.
Entropy coding is bit-level Python — fine for the thumbnail-scale media
the pipeline decodes, and it runs inside the same bounded Arrow batches
(``_per_payload`` in multimodal.py) as every other codec.
"""

from __future__ import annotations

import numpy as np

from .pdf import _MAX_PIXELS

# §A.3.6 zigzag scan order: ZIGZAG[i] = raster index of the i-th coef
ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K.1/K.2 quantization tables (quality-50 bases)
QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)
QUANT_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# Annex K.3 "typical" Huffman tables: (bits[1..16], values)
DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
          list(range(12)))
DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
          list(range(12)))
AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])
AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    t = np.cos((2 * n + 1) * k * np.pi / 16)
    t[0] *= np.sqrt(1 / 2)
    return t / 2  # orthonormal scaling for the 8-point DCT-II


_T = _dct_matrix()


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 = the Annex K base tables."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality {quality} out of range")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _canonical_codes(bits, values):
    """Yield (symbol, code, length) per T.81 §C.2 — the single canonical
    walk behind both the encode and decode table shapes."""
    if len(bits) != 16 or sum(bits) != len(values):
        raise ValueError("malformed JPEG Huffman table definition")
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            yield values[i], code, length
            code += 1
            i += 1
        code <<= 1


def _build_code_table(bits, values):
    return {sym: (code, length)
            for sym, code, length in _canonical_codes(bits, values)}


def _build_decode_table(bits, values):
    return {(length, code): sym
            for sym, code, length in _canonical_codes(bits, values)}


class _BitWriter:
    def __init__(self):
        self.bytes = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.bytes.append(b)
            if b == 0xFF:
                self.bytes.append(0x00)  # §B.1.1.5 byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1s per §F.1.2.3
        return bytes(self.bytes)

    def restart_marker(self, i: int) -> None:
        """Byte-align (1-padded, stuffing applies) then emit RSTn RAW —
        markers bypass byte stuffing by definition (§B.1.1.2)."""
        if self.n:
            self.write(0x7F, 8 - self.n)
        self.bytes += bytes([0xFF, 0xD0 + (i % 8)])


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                # a real marker inside the scan (EOI / RSTn): the caller
                # handles markers; reaching here mid-symbol is truncation
                raise ValueError("unexpected marker in JPEG entropy stream")
        # keep only the unread bits: an accumulator that keeps every
        # byte grows with the scan, making each shift (and the decode)
        # quadratic
        self.acc = ((self.acc & ((1 << self.n) - 1)) << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        self.n = 0
        self.acc = 0


def _encode_value(v: int) -> tuple[int, int]:
    """v -> (size, size-bit code) per §F.1.2.1 (negatives one-less)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, v if v > 0 else v + (1 << size) - 1


def _decode_value(size: int, code: int) -> int:
    if size == 0:
        return 0
    return code if code >= (1 << (size - 1)) else code - (1 << size) + 1


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[..., 0].astype(np.float64),
               img[..., 1].astype(np.float64),
               img[..., 2].astype(np.float64))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128, ycc[..., 2] - 128
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255)


def _box_downsample(p: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """Chroma decimation by box average (pad odd edges by replication)."""
    if fx == 1 and fy == 1:
        return p
    h0, w0 = p.shape
    ph, pw = (h0 + fy - 1) // fy * fy, (w0 + fx - 1) // fx * fx
    p = np.pad(p, ((0, ph - h0), (0, pw - w0)), mode="edge")
    return p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


_SUBSAMPLING = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
        + payload


def _dqt(tid: int, tbl: np.ndarray) -> bytes:
    return _seg(0xDB, bytes([tid])
                + bytes(int(x) for x in tbl.reshape(-1)[ZIGZAG]))


def _dht(tclass: int, tid: int, bits, values) -> bytes:
    return _seg(0xC4, bytes([(tclass << 4) | tid]) + bytes(bits)
                + bytes(values))


class _Frame:
    """One frame's T.81 geometry and coefficient store, shared by the
    encoder, the decoder and every scan of either mode. ``comps`` is the
    SOF's [(id, h, v, tq)]. A one-component frame is non-interleaved
    (A.2.2): its sampling factors do not shape MCUs. ``coef[ci]`` is
    (blocks_y, blocks_x, 64) int32 in zigzag order over the MCU-padded
    grid; ``sizes[ci]`` is the component's true (width, height) in
    samples (A.1.1 ceil dims)."""

    def __init__(self, fh: int, fw: int, comps: list):
        if fh == 0 or fw == 0:
            raise ValueError("bad JPEG dimensions")
        self.fh, self.fw, self.comps = fh, fw, comps
        self.factors = ([(1, 1)] if len(comps) == 1
                        else [(hi, vi) for _, hi, vi, _ in comps])
        self.hmax = max(hi for hi, _ in self.factors)
        self.vmax = max(vi for _, vi in self.factors)
        for hi, vi in self.factors:
            if self.hmax % hi or self.vmax % vi:
                raise ValueError(
                    "fractional JPEG sampling-factor ratios unsupported")
        self.mcus_x = (fw + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcus_y = (fh + 8 * self.vmax - 1) // (8 * self.vmax)
        self.sizes = [((fw * hi + self.hmax - 1) // self.hmax,
                       (fh * vi + self.vmax - 1) // self.vmax)
                      for hi, vi in self.factors]
        self.coef = [np.zeros((self.mcus_y * vi, self.mcus_x * hi, 64),
                              dtype=np.int32) for hi, vi in self.factors]


def _mcus(frame: _Frame, cis: list, restart_interval: int):
    """The MCU walk of one scan (T.81 A.2), for the encoder and the
    decoder alike: yield (restart, units) per MCU, where ``units`` lists
    its (scan position, component, coefficient block) data units in
    coding order and ``restart`` is the 1-based number of the RSTn due
    before it (0 when none). A multi-component scan interleaves h*v
    blocks per component over the MCU-padded grid; a one-component scan
    codes one block per MCU over the component's true block grid."""
    if len(cis) > 1:
        rows, cols = frame.mcus_y, frame.mcus_x
    else:
        cw, ch = frame.sizes[cis[0]]
        rows, cols = (ch + 7) // 8, (cw + 7) // 8
    layout = []
    for i, ci in enumerate(cis):
        hi, vi = frame.factors[ci] if len(cis) > 1 else (1, 1)
        layout += [(i, ci, hi, vi, y, x)
                   for y in range(vi) for x in range(hi)]
    for mcu in range(rows * cols):
        my, mx = divmod(mcu, cols)
        restart = (mcu // restart_interval if restart_interval
                   and mcu % restart_interval == 0 else 0)
        yield restart, [(i, ci, frame.coef[ci][my * vi + y, mx * hi + x])
                        for i, ci, hi, vi, y, x in layout]


# --- encoder -----------------------------------------------------------------

def encode_jpeg(img: np.ndarray, quality: int = 85,
                restart_interval: int = 0,
                subsampling: str = "444",
                progressive: bool = False) -> bytes:
    """HxW (gray) or HxWx3 uint8 -> JFIF JPEG (Annex K tables).
    ``subsampling`` picks the luma sampling factors: '444' (default),
    '420' (2x2 — the overwhelming real-web default) or '422' (2x1);
    chroma is box-averaged down accordingly. ``restart_interval`` > 0
    emits a DRI segment and RSTn markers every that many MCUs (DC
    predictors reset, stream byte-aligned) — the error-resilience
    feature real encoders use, kept selectable so the decoder's restart
    path is round-trip tested. The default SOF0 stream is one sequential
    scan; ``progressive=True`` emits SOF2 with the standard libjpeg-style
    scan script over the same quantized coefficients, so the two decode
    bit-identically."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if h > 0xFFFF or w > 0xFFFF:
        # JPEG dims are 16-bit by format definition — fail before the
        # encode, not at header serialization after the full DCT pass
        raise ValueError(f"JPEG dimensions exceed 65535: {w}x{h}")
    qlum = _scaled_quant(QUANT_LUM, quality)
    qchr = _scaled_quant(QUANT_CHR, quality)
    lf = _SUBSAMPLING.get(subsampling)
    if lf is None:
        # validate on BOTH paths — a typo'd subsampling must not be
        # silently accepted just because the input happens to be gray
        raise ValueError(
            f"subsampling {subsampling!r} unsupported (444/420/422)")
    if gray:
        planes = [img.astype(np.float64)]
        tables = [(qlum, DC_LUM, AC_LUM)]
        factors = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(img[..., :3])
        planes = [ycc[..., 0],
                  _box_downsample(ycc[..., 1], lf[0], lf[1]),
                  _box_downsample(ycc[..., 2], lf[0], lf[1])]
        tables = [(qlum, DC_LUM, AC_LUM), (qchr, DC_CHR, AC_CHR)]
        factors = [lf, (1, 1), (1, 1)]
    # component ci is id ci + 1 and uses table set min(ci, 1)
    frame = _Frame(h, w, [(ci + 1, hi, vi, min(ci, 1))
                          for ci, (hi, vi) in enumerate(factors)])

    for p, coef, (_, _, _, tq) in zip(planes, frame.coef, frame.comps):
        by, bx = coef.shape[:2]
        # pad the plane to its MCU grid by edge replication
        p = np.pad(p, ((0, by * 8 - p.shape[0]), (0, bx * 8 - p.shape[1])),
                   mode="edge")
        q = tables[tq][0]
        for y in range(by):
            for x in range(bx):
                block = p[y * 8:y * 8 + 8, x * 8:x * 8 + 8] - 128.0
                coef[y, x] = np.round((_T @ block @ _T.T) / q).reshape(
                    -1)[ZIGZAG]

    cis = list(range(len(factors)))
    if not progressive:
        script = [(cis, 0, 63, 0, 0)]
    elif gray:
        script = [(cis, 0, 0, 0, 1), ([0], 1, 63, 0, 2),
                  ([0], 1, 63, 2, 1), (cis, 0, 0, 1, 0),
                  ([0], 1, 63, 1, 0)]
    else:
        # libjpeg's default: DC first at Al=1, luma AC split 1-5/6-63 at
        # Al=2, chroma AC at Al=1, then one refinement pass per band
        script = [(cis, 0, 0, 0, 1),
                  ([0], 1, 5, 0, 2), ([2], 1, 63, 0, 1),
                  ([1], 1, 63, 0, 1), ([0], 6, 63, 0, 2),
                  ([0], 1, 63, 2, 1), (cis, 0, 0, 1, 0),
                  ([2], 1, 63, 1, 0), ([1], 1, 63, 1, 0),
                  ([0], 1, 63, 1, 0)]

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    for tid, (q, _, _) in enumerate(tables):
        out += _dqt(tid, q)
    out += _seg(0xC2 if progressive else 0xC0,
                bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + bytes([len(cis)]) + b"".join(
                    bytes([cid, (hi << 4) | vi, tq])
                    for cid, hi, vi, tq in frame.comps))
    for tid, (_, dc, ac) in enumerate(tables):
        out += _dht(0, tid, *dc) + _dht(1, tid, *ac)
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    codes = [(_build_code_table(*dc), _build_code_table(*ac))
             for _, dc, ac in tables]
    for scan in script:
        scis, ss, se, ah, al = scan
        out += _seg(0xDA, bytes([len(scis)]) + b"".join(
            bytes([ci + 1, min(ci, 1) * 0x11]) for ci in scis)
            + bytes([ss, se, (ah << 4) | al]))
        out += _encode_scan(frame, codes, restart_interval, *scan)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _encode_scan(frame, codes, restart_interval, cis, ss, se, ah,
                 al) -> bytes:
    """Entropy-code one scan: band [ss, se] of components ``cis`` at
    successive-approximation stage (ah, al), T.81 Annex G. The
    sequential scan is the band 0..63 at Ah=Al=0 (§F.1.2): each block's
    DC difference then its AC run/size symbols. EOB runs are flushed per
    block (EOB0), so the Annex K tables — which carry no EOBn>0 symbols —
    suffice."""
    bw = _BitWriter()
    preds = dict.fromkeys(cis, 0)
    for restart, units in _mcus(frame, cis, restart_interval):
        if restart:
            bw.restart_marker(restart - 1)
            preds = dict.fromkeys(cis, 0)
        for _, ci, blk in units:
            dctab, actab = codes[frame.comps[ci][3]]
            if ss == 0:
                v = int(blk[0])
                if ah:
                    bw.write((v >> al) & 1, 1)
                else:
                    t = v >> al  # arithmetic shift per G.1.2.1
                    size, code = _encode_value(t - preds[ci])
                    preds[ci] = t
                    bw.write(*dctab[size])
                    if size:
                        bw.write(code, size)
            if se:
                (_encode_ac_refine if ah else _encode_ac_first)(
                    bw, actab, blk, max(ss, 1), se, al)
    return bw.flush()


def _encode_ac_first(bw, actab, blk, ss, se, al) -> None:
    r = 0
    for k in range(ss, se + 1):
        v = int(blk[k])
        t = abs(v) >> al  # AC point transform: toward zero
        if t == 0:
            r += 1
            continue
        while r > 15:
            bw.write(*actab[0xF0])  # ZRL
            r -= 16
        size, code = _encode_value(t if v > 0 else -t)
        bw.write(*actab[(r << 4) | size])
        bw.write(code, size)
        r = 0
    if r > 0:
        bw.write(*actab[0x00])  # EOB


def _encode_ac_refine(bw, actab, blk, ss, se, al) -> None:
    r = 0
    pending = []  # correction bits buffered until the next symbol
    for k in range(ss, se + 1):
        v = int(blk[k])
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        while r > 15:
            bw.write(*actab[0xF0])
            r -= 16
            for b in pending:
                bw.write(b, 1)
            pending = []
        if t > 1:  # already nonzero at the prior precision
            pending.append(t & 1)
            continue
        bw.write(*actab[(r << 4) | 1])
        bw.write(1 if v > 0 else 0, 1)  # sign: 1 = positive
        for b in pending:
            bw.write(b, 1)
        pending = []
        r = 0
    if r > 0 or pending:
        bw.write(*actab[0x00])
        for b in pending:
            bw.write(b, 1)


# --- decoder -----------------------------------------------------------------

def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JFIF JPEG -> HxWx3 uint8
    (grayscale broadcast to 3), including 4:2:0/4:2:2 chroma
    subsampling and restart markers. Remaining unsupported variants
    (12-bit, arithmetic coding, hierarchical) and corrupt streams
    raise ValueError — including header shapes whose malformation
    would surface as out-of-range indexing."""
    try:
        return _decode_jpeg_impl(payload)
    except IndexError as e:
        raise ValueError("truncated JPEG header") from e


def _decode_jpeg_impl(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    n = len(payload)
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    sof = None  # (height, width, comps) of the last SOF
    progressive = False
    frame = None  # coefficient store, built at the first SOS
    restart_interval = 0

    def u16(o):
        return int.from_bytes(payload[o:o + 2], "big")

    while pos + 2 <= n:  # EOI is a bare 2-byte marker at stream end
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        # T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
        # marker code; skip them so the byte after isn't read as a length
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if frame is not None:
                # progressive: the frame is whatever the scans built up
                # (a truncated-but-valid prefix renders coarser, exactly
                # like a browser's progressive paint)
                return _reconstruct(frame, quant)
            raise ValueError("JPEG stream has no scan")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone markers with no length field —
            # reading one as a segment would misparse the next bytes
            continue
        if pos + 4 > n:
            raise ValueError("truncated JPEG segment header")
        length = u16(pos)
        body = payload[pos + 2:pos + length]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(
                    body[i + 1:i + 65], dtype=np.uint8).astype(np.int64)
                quant[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                values = list(body[i + 17:i + 17 + nv])
                tab = _build_decode_table(bits, values)
                (huff_dc if tc == 0 else huff_ac)[th] = tab
                i += 17 + nv
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG SOF{marker - 0xC0} (non-baseline) unsupported")
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            if body[0] != 8:
                raise ValueError("only 8-bit JPEG supported")
            fh, fw, ncomp = u16(pos + 3), u16(pos + 5), body[5]
            if fh * fw > _MAX_PIXELS:
                # fh/fw are attacker-controlled header fields needing no
                # entropy data behind them; without a bound a <200-byte
                # payload declaring 65535x65535 forces ~50 GB of plane
                # allocations before one Huffman symbol is read (the
                # pdf._MAX_PIXELS bound every image codec shares)
                raise ValueError(
                    f"JPEG frame {fw}x{fh} exceeds the "
                    f"{_MAX_PIXELS}-pixel decode bound")
            if ncomp not in (1, 3):
                # 4-component Adobe CMYK/YCCK would otherwise decode and
                # have its first three planes misread as YCbCr — silent
                # garbage, violating the module contract
                raise ValueError(
                    f"JPEG with {ncomp} components unsupported "
                    "(grayscale or YCbCr only)")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                hi, vi = hv >> 4, hv & 0xF
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(
                        f"JPEG sampling factors {hi}x{vi} out of range")
                comps.append((cid, hi, vi, tq))
            sof = (fh, fw, comps)
        elif marker == 0xDD:  # DRI
            restart_interval = u16(pos + 2)
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None:
                raise ValueError("JPEG SOS before SOF")
            ncomp = body[0]
            if not progressive and ncomp != len(sof[2]):
                raise ValueError(
                    "non-interleaved (per-component) JPEG scans unsupported")
            if frame is None or not progressive:
                # SOF2 scans accumulate into the store of the first SOS;
                # the one SOF0 scan fills a fresh one
                frame = _Frame(*sof)
            scan_cis = []
            scan_tabs = []
            frame_ids = [c[0] for c in sof[2]]
            for c in range(ncomp):
                cs = body[1 + 2 * c]
                if cs not in frame_ids:
                    raise ValueError(
                        "JPEG scan selects a component not in frame")
                ci = frame_ids.index(cs)
                if scan_cis and ci <= scan_cis[-1]:
                    # interleaved components must follow frame order
                    # (T.81 B.2.3) — anything else would silently pair
                    # the wrong tables/planes
                    raise ValueError(
                        "JPEG scan component order differs from frame")
                scan_cis.append(ci)
                scan_tabs.append((body[2 + 2 * c] >> 4,
                                  body[2 + 2 * c] & 0xF))
            if progressive:
                ss, se, ahal = body[1 + 2 * ncomp:4 + 2 * ncomp]
                ah, al = ahal >> 4, ahal & 0xF
                if ss == 0 and se != 0:
                    raise ValueError("progressive DC scan must have Se=0")
                if ss and (ncomp != 1 or se > 63 or ss > se):
                    raise ValueError("progressive AC scan must cover one "
                                     "component, 1<=Ss<=Se<=63")
                if al > 13 or (ah and ah != al + 1):
                    raise ValueError(
                        "bad successive-approximation parameters")
            else:
                # the sequential scan is the full band at full precision
                # whatever its Ss/Se/Ah/Al bytes say (T.81 B.2.3)
                ss, se, ah, al = 0, 63, 0, 0
            pos = _decode_scan(payload, pos + length, frame, scan_cis,
                               scan_tabs, huff_dc, huff_ac,
                               restart_interval, ss, se, ah, al)
            if not progressive:
                return _reconstruct(frame, quant)
            pos = _next_marker(payload, pos)
            continue
        pos += length
    raise ValueError("truncated JPEG (no SOS reached)"
                     if frame is None else
                     "truncated progressive JPEG (no EOI reached)")


def _read_huff(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid JPEG Huffman code")


# T.81 table F.1: for 8-bit precision the DC difference category (SSSS)
# is at most 11 — a bigger size symbol is corrupt data whose magnitude
# read would overflow the coefficient stores
_MAX_DC_SIZE = 11


def _decode_scan(payload, pos, frame, scan_cis, scan_tabs, huff_dc, huff_ac,
                 restart_interval, ss, se, ah, al) -> int:
    """Decode ONE scan into ``frame.coef``: spectral band [ss, se] of the
    selected component(s) at successive-approximation stage (ah, al), per
    T.81 §G.2 (the control flow mirrors the public libjpeg phuff decoder,
    which implements the spec's figures G.6/G.7). A sequential scan is
    the band 0..63 at Ah=Al=0 (§F.2.2): each block's DC step then its
    AC-first step over 1..63, in which EOBn symbols are undefined.
    Returns the offset after the last entropy byte read."""
    sequential = ss == 0 and se > 0
    edge = "block" if sequential else "band"
    # validate tables up front so a missing one can't half-decode a scan
    for td, ta in scan_tabs:
        if (ss == 0 and ah == 0 and td not in huff_dc) or (
                se and ta not in huff_ac):
            raise ValueError("JPEG references an undefined table")
    br = _BitReader(payload, pos)
    preds = dict.fromkeys(scan_cis, 0)
    eobrun = 0
    p1 = 1 << al

    def refine_nonzero(blk, k):
        # G.1.2.3: one correction bit per already-nonzero coefficient;
        # 1 moves its magnitude up by 2^al (toward the true value)
        if br.bit():
            c = int(blk[k])
            if (c & p1) == 0:
                blk[k] = c + (p1 if c >= 0 else -p1)

    def dc_block(i, ci, blk):
        if ah == 0:
            size = _read_huff(br, huff_dc[scan_tabs[i][0]])
            if size > _MAX_DC_SIZE:
                raise ValueError(f"bad JPEG DC size symbol {size}")
            preds[ci] += _decode_value(size, br.bits(size))
            # the store is int32 and the shift adds up to 13 bits: a
            # predictor past the legit T.81 range (|DC| < 2^11 at 8-bit
            # precision, with headroom) is corrupt data, not a value to
            # wrap/overflow into the coefficient buffer
            if not -(1 << 15) <= preds[ci] < (1 << 15):
                raise ValueError("JPEG DC predictor out of range")
            blk[0] = preds[ci] << al
        elif br.bit():  # refinement: append bit al (two's complement OR)
            blk[0] = int(blk[0]) | p1

    def ac_first_block(i, blk):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        tab = huff_ac[scan_tabs[i][1]]
        k = max(ss, 1)
        while k <= se:
            sym = _read_huff(br, tab)
            r, s = sym >> 4, sym & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    if k > se:
                        # T.81 F.1.2.2: a zero tail is coded with EOB,
                        # never ZRL — silence here desyncs every later
                        # block
                        raise ValueError(f"JPEG AC run past {edge} end")
                    continue
                if r and sequential:
                    raise ValueError("JPEG EOBn symbol in a sequential scan")
                eobrun = (1 << r) - 1  # EOBn: this block + eobrun more
                if r:
                    eobrun += br.bits(r)
                break
            k += r
            if k > se:
                raise ValueError(f"JPEG AC run past {edge} end")
            blk[k] = _decode_value(s, br.bits(s)) << al
            k += 1

    def ac_refine_block(i, blk):
        nonlocal eobrun
        tab = huff_ac[scan_tabs[i][1]]
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _read_huff(br, tab)
                r, s = sym >> 4, sym & 0xF
                sval = 0
                if s:
                    if s != 1:
                        raise ValueError(
                            "bad magnitude in progressive AC refinement")
                    sval = p1 if br.bit() else -p1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                # advance past r zero-history coefficients (16 for ZRL),
                # refining every nonzero-history one along the way
                while k <= se:
                    if blk[k] != 0:
                        refine_nonzero(blk, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if sval:
                    if k > se:
                        raise ValueError("JPEG AC run past band end")
                    blk[k] = sval
                elif r:
                    # ZRL whose 16-zero advance ran off the band end —
                    # corrupt/desynced stream, same class as above
                    raise ValueError("JPEG AC run past band end")
                k += 1
        if eobrun:
            # EOB run covers this block: only correction bits for its
            # remaining nonzero-history coefficients appear in the stream
            while k <= se:
                if blk[k] != 0:
                    refine_nonzero(blk, k)
                k += 1
            eobrun -= 1

    for restart, units in _mcus(frame, scan_cis, restart_interval):
        if restart:
            br.align()
            if br.pos + 1 >= len(payload) or payload[br.pos] != 0xFF \
                    or not (0xD0 <= payload[br.pos + 1] <= 0xD7):
                raise ValueError("missing JPEG restart marker")
            br.pos += 2
            preds = dict.fromkeys(scan_cis, 0)
            eobrun = 0
        for i, ci, blk in units:
            if ss == 0:
                dc_block(i, ci, blk)
            if se:
                (ac_refine_block if ah else ac_first_block)(i, blk)
    return br.pos


def _next_marker(payload: bytes, p: int) -> int:
    """Offset of the marker after a progressive scan's entropy data
    (skipping stuffed 0x00, fill 0xFF and stray RSTn)."""
    n = len(payload)
    while p + 1 < n:
        if payload[p] != 0xFF:
            p += 1
        elif payload[p + 1] in (0x00, 0xFF):
            p += 1
        elif 0xD0 <= payload[p + 1] <= 0xD7:
            p += 2
        else:
            return p
    raise ValueError("truncated progressive JPEG scan")


def _reconstruct(frame: _Frame, quant) -> np.ndarray:
    """Dequantize and IDCT each component's true blocks, crop it to its
    sample grid, upsample it to full resolution by nearest neighbour and
    colour-convert."""
    full = []
    for (hi, vi), (_, _, _, tq), zz, (cw, ch) in zip(
            frame.factors, frame.comps, frame.coef, frame.sizes):
        if tq not in quant:
            raise ValueError("JPEG references an undefined table")
        q = quant[tq]
        by, bx = (ch + 7) // 8, (cw + 7) // 8
        p = np.zeros((by * 8, bx * 8), dtype=np.float64)
        for y in range(by):
            for x in range(bx):
                coefs = np.zeros(64, dtype=np.float64)
                coefs[ZIGZAG] = zz[y, x]
                p[y * 8:y * 8 + 8, x * 8:x * 8 + 8] = \
                    _T.T @ (coefs.reshape(8, 8) * q) @ _T + 128
        p = p[:ch, :cw]
        if hi != frame.hmax or vi != frame.vmax:
            p = np.repeat(np.repeat(p, frame.vmax // vi, axis=0),
                          frame.hmax // hi, axis=1)
        full.append(p[:frame.fh, :frame.fw])

    if len(full) == 1:
        # round like the color path — truncation would bias gray decodes
        # ~0.5 LSB low and break flat-block exactness
        y = np.round(np.clip(full[0], 0, 255))
        return np.repeat(y[..., None], 3, axis=2).astype(np.uint8)
    return np.round(_ycbcr_to_rgb(np.stack(full, axis=-1))).astype(np.uint8)
