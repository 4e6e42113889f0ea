"""JPEG (JFIF) codec in pure numpy/stdlib — the last media format the
multimodal family stubbed, now real.

Scope (honest and tested): baseline sequential DCT (SOF0) AND
progressive DCT (SOF2 — spectral selection, successive approximation,
EOBn runs, per-scan DHT redefinition), 8-bit, 1-component grayscale or
3-component YCbCr with any integer sampling factors 1-4 whose ratios
divide evenly — 4:4:4, 4:2:0 (the overwhelming real-web default) and
4:2:2 are round-trip tested; chroma upsampling on decode is
nearest-neighbor (sample replication — T.81 leaves the filter to the
decoder). The paired encoder emits 4:4:4 by default, 4:2:0 / 4:2:2 on
request (box-averaged chroma), and SOF2 with the standard libjpeg scan
script on ``progressive=True`` — over the SAME quantized coefficients
as baseline, so the two decodes are bit-identical (the tests'
invariant). Optional restart intervals both ways and in every
progressive scan. Arithmetic-coded, hierarchical, lossless, and 12-bit
streams raise ValueError naming the unsupported feature — corrupt data
also ValueError; the magic-sniff boundary stays in decode_image.

Everything is from the public standard: ITU-T T.81 — zigzag order
(§A.3.6), quantization + Huffman tables from Annex K (the "typical"
tables virtually every encoder ships), byte stuffing (§B.1.1.5), DC
prediction and (run,size) AC coding (§F.1.2), progressive scan
semantics (Annex G, control flow mirroring the public libjpeg phuff
coders); JFIF YCbCr from the JFIF 1.02 spec. JPEG is lossy: round-trips
assert PSNR bounds, not equality (flat images survive near-exactly —
DC-only blocks).

DCT as an 8x8 matrix sandwich (T @ B @ T.T) over numpy float64; entropy
coding is bit-level Python — fine for the thumbnail-scale media the
pipeline decodes, and it runs inside the same bounded Arrow batches
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
        self.acc = (self.acc << 8) | b
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


def encode_jpeg(img: np.ndarray, quality: int = 85,
                restart_interval: int = 0,
                subsampling: str = "444",
                progressive: bool = False) -> bytes:
    """HxW (gray) or HxWx3 uint8 -> baseline JFIF JPEG (Annex K tables).
    ``subsampling`` picks the luma sampling factors: '444' (default,
    bit-identical to the pre-subsampling encoder), '420' (2x2 — the
    overwhelming real-web default) or '422' (2x1); chroma is box-averaged
    down accordingly. ``restart_interval`` > 0 emits a DRI segment and
    RSTn markers every that many MCUs (DC predictors reset, stream
    byte-aligned) — the error-resilience feature real encoders use, kept
    selectable so the decoder's restart path is round-trip tested.
    ``progressive=True`` emits SOF2 with the standard libjpeg-style scan
    script (spectral selection + successive approximation) over the SAME
    quantized coefficients, so its decode is bit-identical to the
    baseline stream's — the invariant the progressive tests pin."""
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
        quants = [qlum]
        factors = [(1, 1)]
    else:
        factors = [lf, (1, 1), (1, 1)]
        ycc = _rgb_to_ycbcr(img[..., :3])
        planes = [ycc[..., 0],
                  _box_downsample(ycc[..., 1], lf[0], lf[1]),
                  _box_downsample(ycc[..., 2], lf[0], lf[1])]
        quants = [qlum, qchr, qchr]

    hmax = max(hi for hi, _ in factors)
    vmax = max(vi for _, vi in factors)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # pad each plane to its MCU grid by edge replication
    planes = [
        np.pad(p, ((0, mcus_y * 8 * vi - p.shape[0]),
                   (0, mcus_x * 8 * hi - p.shape[1])), mode="edge")
        for (hi, vi), p in zip(factors, planes)
    ]

    if progressive:
        return _encode_progressive(planes, factors, quants, gray, h, w,
                                   restart_interval, mcus_x, mcus_y)

    dc_tabs = [_build_code_table(*DC_LUM)] + (
        [] if gray else [_build_code_table(*DC_CHR)] * 2)
    ac_tabs = [_build_code_table(*AC_LUM)] + (
        [] if gray else [_build_code_table(*AC_CHR)] * 2)

    bw = _BitWriter()
    prev_dc = [0] * len(planes)

    def encode_block(ci: int, block: np.ndarray) -> None:
        coefs = _T @ block @ _T.T
        q = np.round(coefs / quants[ci]).astype(np.int64)
        zz = q.reshape(-1)[ZIGZAG]
        diff = int(zz[0]) - prev_dc[ci]
        prev_dc[ci] = int(zz[0])
        size, code = _encode_value(diff)
        hc, hl = dc_tabs[ci][size]
        bw.write(hc, hl)
        if size:
            bw.write(code, size)
        run = 0
        last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
        for k in range(1, 64):
            v = int(zz[k])
            if k > last_nz:
                break
            if v == 0:
                run += 1
                continue
            while run > 15:
                hc, hl = ac_tabs[ci][0xF0]  # ZRL
                bw.write(hc, hl)
                run -= 16
            size, code = _encode_value(v)
            hc, hl = ac_tabs[ci][(run << 4) | size]
            bw.write(hc, hl)
            bw.write(code, size)
            run = 0
        if last_nz < 63:
            hc, hl = ac_tabs[ci][0x00]  # EOB
            bw.write(hc, hl)

    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.restart_marker(mcu // restart_interval - 1)
                prev_dc = [0] * len(planes)
            mcu += 1
            for ci, (hi, vi) in enumerate(factors):
                for byi in range(vi):
                    for bxi in range(hi):
                        by = (my * vi + byi) * 8
                        bx = (mx * hi + bxi) * 8
                        encode_block(
                            ci, planes[ci][by:by + 8, bx:bx + 8] - 128.0)
    scan = bw.flush()

    ncomp = 1 if gray else 3
    sof_comps = b"".join(
        bytes([i + 1, (factors[i][0] << 4) | factors[i][1],
               0 if i == 0 else 1]) for i in range(ncomp))
    sos_comps = b"".join(
        bytes([i + 1, 0x00 if i == 0 else 0x11]) for i in range(ncomp))
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt(0, qlum)
    if not gray:
        out += _dqt(1, qchr)
    out += _seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + bytes([ncomp]) + sof_comps)
    out += _dht(0, 0, *DC_LUM) + _dht(1, 0, *AC_LUM)
    if not gray:
        out += _dht(0, 1, *DC_CHR) + _dht(1, 1, *AC_CHR)
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    out += _seg(0xDA, bytes([ncomp]) + sos_comps + b"\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


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
    frame = None
    progressive = False
    prog = None  # per-component coefficient state, built lazily at 1st SOS
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
            if prog is not None:
                # progressive: the frame is whatever the scans built up
                # (a truncated-but-valid prefix renders coarser, exactly
                # like a browser's progressive paint)
                return _reconstruct_progressive(prog, quant)
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
            frame = (fh, fw, comps)
        elif marker == 0xDD:  # DRI
            restart_interval = u16(pos + 2)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ncomp = body[0]
            if progressive:
                if prog is None:
                    prog = _progressive_state(frame)
                scan_cis = []
                scan_tabs = []
                frame_ids = [c[0] for c in frame[2]]
                for c in range(ncomp):
                    cs = body[1 + 2 * c]
                    if cs not in frame_ids:
                        raise ValueError(
                            "JPEG scan selects a component not in frame")
                    ci = frame_ids.index(cs)
                    if scan_cis and ci <= scan_cis[-1]:
                        # interleaved components must follow frame order
                        # (T.81 B.2.3) — anything else would silently
                        # pair the wrong tables/planes
                        raise ValueError(
                            "JPEG scan component order differs from frame")
                    scan_cis.append(ci)
                    scan_tabs.append((body[2 + 2 * c] >> 4,
                                      body[2 + 2 * c] & 0xF))
                ss, se, ahal = body[1 + 2 * ncomp:4 + 2 * ncomp]
                ah, al = ahal >> 4, ahal & 0xF
                pos += length
                pos = _decode_progressive_scan(
                    payload, pos, prog, scan_cis, scan_tabs,
                    huff_dc, huff_ac, restart_interval, ss, se, ah, al)
                continue
            if ncomp != len(frame[2]):
                raise ValueError(
                    "non-interleaved (per-component) JPEG scans unsupported")
            scan_tabs = []
            for c in range(ncomp):
                if body[1 + 2 * c] != frame[2][c][0]:
                    # positional table pairing is only sound when the
                    # scan's component selectors match the frame order —
                    # anything else would be a wrong SILENT decode
                    raise ValueError(
                        "JPEG scan component order differs from frame")
                td = body[2 + 2 * c] >> 4
                ta = body[2 + 2 * c] & 0xF
                scan_tabs.append((td, ta))
            pos += length
            return _decode_scan(payload, pos, frame, scan_tabs, quant,
                                huff_dc, huff_ac, restart_interval)
        pos += length
    raise ValueError("truncated JPEG (no SOS reached)"
                     if prog is None else
                     "truncated progressive JPEG (no EOI reached)")


def _scan_factors(comps) -> list:
    """T.81 A.2.3/A.2.4: a single-component scan is NON-interleaved —
    data units follow in plain block raster order and the sampling
    factors do not shape MCUs; multi-component scans interleave hi*vi
    blocks per component per MCU."""
    if len(comps) == 1:
        return [(1, 1)]
    return [(hi, vi) for _, hi, vi, _ in comps]


def _frame_geometry(fh, fw, factors):
    """(hmax, vmax, mcus_x, mcus_y, true_blocks) — the ONE home of the
    T.81 frame geometry (sampling-ratio rule, MCU counts, ceil'd
    per-component true-block dims), shared by the baseline scan
    decoder, the progressive state, and the progressive encoder so the
    three paths cannot desynchronize (the pinned
    baseline==progressive bit-identity depends on them agreeing)."""
    if fh == 0 or fw == 0:
        raise ValueError("bad JPEG dimensions")
    hmax = max(hi for hi, _ in factors)
    vmax = max(vi for _, vi in factors)
    for hi, vi in factors:
        if hmax % hi or vmax % vi:
            raise ValueError(
                "fractional JPEG sampling-factor ratios unsupported")
    mcus_x = (fw + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (fh + 8 * vmax - 1) // (8 * vmax)
    true_blocks = []
    for hi, vi in factors:
        cw = (fw * hi + hmax - 1) // hmax
        ch = (fh * vi + vmax - 1) // vmax
        true_blocks.append(((cw + 7) // 8, (ch + 7) // 8))
    return hmax, vmax, mcus_x, mcus_y, true_blocks


# T.81 table F.1: for 8-bit precision the DC difference category (SSSS)
# is at most 11 — a bigger size symbol is corrupt data whose magnitude
# read would overflow the coefficient stores
_MAX_DC_SIZE = 11


def _decode_scan(payload, pos, frame, scan_tabs, quant, huff_dc, huff_ac,
                 restart_interval):
    fh, fw, comps = frame
    factors = _scan_factors(comps)
    hmax, vmax, mcus_x, mcus_y, _ = _frame_geometry(fh, fw, factors)
    planes = [np.zeros((mcus_y * 8 * vi, mcus_x * 8 * hi), dtype=np.float64)
              for hi, vi in factors]
    br = _BitReader(payload, pos)
    prev_dc = [0] * len(comps)

    def read_symbol(table) -> int:
        return _read_huff(br, table)  # shared canonical-code walk

    def decode_block(ci, tq) -> np.ndarray:
        td, ta = scan_tabs[ci]
        if td not in huff_dc or ta not in huff_ac or tq not in quant:
            raise ValueError("JPEG references an undefined table")
        zz = np.zeros(64, dtype=np.int64)
        size = read_symbol(huff_dc[td])
        if size > _MAX_DC_SIZE:
            raise ValueError(f"bad JPEG DC size symbol {size}")
        prev_dc[ci] += _decode_value(size, br.bits(size))
        zz[0] = prev_dc[ci]
        k = 1
        while k < 64:
            sym = read_symbol(huff_ac[ta])
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                if k > 63:
                    # T.81 F.1.2.2: a final all-zero tail is coded with
                    # EOB, never ZRL — past-the-end ZRL means a corrupt/
                    # desynced stream; raising here (like the run/size
                    # path below) beats silently exiting the loop and
                    # desyncing later blocks
                    raise ValueError("JPEG AC run past block end")
                continue
            run, size = sym >> 4, sym & 0xF
            k += run
            if k > 63:
                raise ValueError("JPEG AC run past block end")
            zz[k] = _decode_value(size, br.bits(size))
            k += 1
        coefs = np.zeros(64, dtype=np.float64)
        coefs[ZIGZAG] = zz
        return _T.T @ (coefs.reshape(8, 8) * quant[tq]) @ _T + 128

    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                br.align()
                if payload[br.pos] != 0xFF or not (
                        0xD0 <= payload[br.pos + 1] <= 0xD7):
                    raise ValueError("missing JPEG restart marker")
                br.pos += 2
                prev_dc = [0] * len(comps)
            for ci, (hi, vi) in enumerate(factors):
                tq = comps[ci][3]
                for byi in range(vi):
                    for bxi in range(hi):
                        by = (my * vi + byi) * 8
                        bx = (mx * hi + bxi) * 8
                        planes[ci][by:by + 8, bx:bx + 8] = \
                            decode_block(ci, tq)
            mcu += 1

    return _finish_planes(planes, factors, fh, fw, hmax, vmax)


def _finish_planes(planes, factors, fh, fw, hmax, vmax) -> np.ndarray:
    """Per-component crop to its true sample grid (T.81 A.1.1 ceil dims),
    nearest-neighbor upsample to full resolution, color-convert — the
    shared tail of the baseline and progressive decode paths."""
    full = []
    for ci, (hi, vi) in enumerate(factors):
        cw = (fw * hi + hmax - 1) // hmax
        ch = (fh * vi + vmax - 1) // vmax
        p = planes[ci][:ch, :cw]
        if hi != hmax or vi != vmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0),
                          hmax // hi, axis=1)
        full.append(p[:fh, :fw])

    if len(full) == 1:
        # round like the color path — truncation would bias gray decodes
        # ~0.5 LSB low and break flat-block exactness
        y = np.round(np.clip(full[0], 0, 255))
        return np.repeat(y[..., None], 3, axis=2).astype(np.uint8)
    ycc = np.stack(full, axis=-1)
    return np.round(_ycbcr_to_rgb(ycc)).astype(np.uint8)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2) — T.81 Annex G. Scans deposit coefficients into
# per-component arrays; the IDCT runs once at EOI, vectorized over every
# block. Spectral selection, successive approximation, EOBn runs, and
# restart intervals are all decoded; the paired encoder emits the standard
# libjpeg-style scan script over the SAME quantized coefficients as the
# baseline path, so baseline and progressive decodes of one image are
# bit-identical (the invariant the tests pin).
# ---------------------------------------------------------------------------


def _read_huff(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid JPEG Huffman code")


def _progressive_state(frame) -> dict:
    """Coefficient buffers + grid geometry shared by every scan of a
    progressive frame. ``coef[ci]`` is (blocks_y, blocks_x, 64) int32 in
    ZIGZAG order over the MCU-padded grid (interleaved DC scans cover
    padded blocks; non-interleaved scans only touch the true grid)."""
    fh, fw, comps = frame
    factors = _scan_factors(comps)
    hmax, vmax, mcus_x, mcus_y, true_blocks = _frame_geometry(
        fh, fw, factors)
    coef = [np.zeros((mcus_y * vi, mcus_x * hi, 64), dtype=np.int32)
            for hi, vi in factors]
    return {"fh": fh, "fw": fw, "comps": comps, "factors": factors,
            "hmax": hmax, "vmax": vmax, "mcus_x": mcus_x, "mcus_y": mcus_y,
            "coef": coef, "true_blocks": true_blocks}


def _decode_progressive_scan(payload, pos, st, scan_cis, scan_tabs,
                             huff_dc, huff_ac, restart_interval,
                             ss, se, ah, al) -> int:
    """Decode ONE SOF2 scan: spectral band [ss, se] of the selected
    component(s) at successive-approximation stage (ah, al), per T.81
    §G.2 (the control flow mirrors the public libjpeg phuff decoder,
    which implements the spec's figures G.6/G.7). Returns the payload
    offset of the next marker."""
    dc_scan = ss == 0
    if dc_scan and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if not dc_scan and (len(scan_cis) != 1 or se > 63 or ss > se):
        raise ValueError(
            "progressive AC scan must cover one component, 1<=Ss<=Se<=63")
    if al > 13 or (ah and ah != al + 1):
        raise ValueError("bad successive-approximation parameters")
    interleaved = len(scan_cis) > 1
    coef = st["coef"]
    factors = st["factors"]
    # validate tables up front so a missing one can't half-decode a scan
    for i, ci in enumerate(scan_cis):
        td, ta = scan_tabs[i]
        if dc_scan and ah == 0 and td not in huff_dc:
            raise ValueError("JPEG references an undefined table")
        if not dc_scan and ta not in huff_ac:
            raise ValueError("JPEG references an undefined table")
    br = _BitReader(payload, pos)
    preds = {ci: 0 for ci in scan_cis}
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

    def ac_first_block(blk):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        tab = huff_ac[scan_tabs[0][1]]
        k = ss
        while k <= se:
            sym = _read_huff(br, tab)
            r, s = sym >> 4, sym & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    if k > se:
                        # same contract as baseline: a zero tail is
                        # coded with EOB, never ZRL — silence here
                        # desyncs every later block
                        raise ValueError("JPEG AC run past band end")
                    continue
                eobrun = (1 << r) - 1  # EOBn: this block + eobrun more
                if r:
                    eobrun += br.bits(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC run past band end")
            blk[k] = _decode_value(s, br.bits(s)) << al
            k += 1

    def ac_refine_block(blk):
        nonlocal eobrun
        tab = huff_ac[scan_tabs[0][1]]
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

    def expect_rst():
        nonlocal eobrun
        br.align()
        if br.pos + 1 >= len(payload) or payload[br.pos] != 0xFF \
                or not (0xD0 <= payload[br.pos + 1] <= 0xD7):
            raise ValueError("missing JPEG restart marker")
        br.pos += 2
        for ci in preds:
            preds[ci] = 0
        eobrun = 0

    mcu = 0
    if interleaved:  # DC scan over the MCU grid (AC scans are 1-comp)
        for my in range(st["mcus_y"]):
            for mx in range(st["mcus_x"]):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    expect_rst()
                mcu += 1
                for i, ci in enumerate(scan_cis):
                    hi, vi = factors[ci]
                    for byi in range(vi):
                        for bxi in range(hi):
                            dc_block(i, ci,
                                     coef[ci][my * vi + byi, mx * hi + bxi])
    else:  # non-interleaved: MCU = one block, true (unpadded) grid
        ci = scan_cis[0]
        nbx, nby = st["true_blocks"][ci]
        for by in range(nby):
            for bx in range(nbx):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    expect_rst()
                mcu += 1
                blk = coef[ci][by, bx]
                if dc_scan:
                    dc_block(0, ci, blk)
                elif ah == 0:
                    ac_first_block(blk)
                else:
                    ac_refine_block(blk)

    # skip to the next marker (stuffed 0x00, fill 0xFF, stray RSTn)
    p, n = br.pos, len(payload)
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


def _reconstruct_progressive(st, quant) -> np.ndarray:
    """Dequantize + IDCT every accumulated block and assemble. The
    per-block matmul is the EXACT expression of the baseline decoder
    (decode_block) — a batched einsum sums in a different order, and a
    one-ulp difference before the final round() flips pixels sitting on
    .5 boundaries, breaking baseline==progressive bit-identity."""
    planes = []
    for ci, (hi, vi) in enumerate(st["factors"]):
        tq = st["comps"][ci][3]
        if tq not in quant:
            raise ValueError("JPEG references an undefined table")
        zz = st["coef"][ci]
        by, bx = zz.shape[:2]
        plane = np.zeros((by * 8, bx * 8), dtype=np.float64)
        q = quant[tq]
        for y in range(by):
            for x in range(bx):
                coefs = np.zeros(64, dtype=np.float64)
                coefs[ZIGZAG] = zz[y, x]
                plane[y * 8:y * 8 + 8, x * 8:x * 8 + 8] = \
                    _T.T @ (coefs.reshape(8, 8) * q) @ _T + 128
        planes.append(plane)
    return _finish_planes(planes, st["factors"], st["fh"], st["fw"],
                          st["hmax"], st["vmax"])


# --- progressive encoder ----------------------------------------------------

def _encode_progressive(planes, factors, quants, gray, h, w,
                        restart_interval, mcus_x, mcus_y) -> bytes:
    """SOF2 stream over the SAME quantized coefficients as the baseline
    encoder, using the standard libjpeg scan script (DC first at Al=1,
    luma AC split 1-5/6-63 at Al=2, chroma AC at Al=1, then one
    refinement pass per band, DC refine last-but-one). EOB runs are
    flushed per block (EOB0), so the Annex K tables — which carry no
    EOBn>0 symbols — suffice; decoders must still handle general EOBn,
    which the hand-built-stream test covers."""
    coef = []
    for (hi, vi), p, q in zip(factors, planes, quants):
        by, bx = p.shape[0] // 8, p.shape[1] // 8
        qz = np.zeros((by, bx, 64), dtype=np.int64)
        for y in range(by):
            for x in range(bx):
                # the EXACT per-block expression of the baseline
                # encoder (encode_block) — a batched einsum sums in a
                # different order and can round a coefficient sitting
                # exactly on a .5 quantization boundary the other way,
                # breaking the bit-identical-decode invariant (caught
                # by fuzzing: 2/120 random images differed)
                block = p[y * 8:y * 8 + 8, x * 8:x * 8 + 8] - 128.0
                c = _T @ block @ _T.T
                qz[y, x] = np.round(c / q).astype(np.int64).reshape(-1)
        coef.append(qz[..., ZIGZAG])

    hmax, vmax, _, _, true_blocks = _frame_geometry(h, w, factors)

    dc_codetabs = [_build_code_table(*DC_LUM)] + (
        [] if gray else [_build_code_table(*DC_CHR)] * 2)
    ac_codetabs = [_build_code_table(*AC_LUM)] + (
        [] if gray else [_build_code_table(*AC_CHR)] * 2)

    ncomp = len(factors)
    all_cis = list(range(ncomp))
    if gray:
        script = [(all_cis, 0, 0, 0, 1), ([0], 1, 63, 0, 2),
                  ([0], 1, 63, 2, 1), (all_cis, 0, 0, 1, 0),
                  ([0], 1, 63, 1, 0)]
    else:
        script = [(all_cis, 0, 0, 0, 1),
                  ([0], 1, 5, 0, 2), ([2], 1, 63, 0, 1),
                  ([1], 1, 63, 0, 1), ([0], 6, 63, 0, 2),
                  ([0], 1, 63, 2, 1), (all_cis, 0, 0, 1, 0),
                  ([2], 1, 63, 1, 0), ([1], 1, 63, 1, 0),
                  ([0], 1, 63, 1, 0)]

    def blocks_of(cis):
        """Yield (scan comp position, ci, block) in scan order, with a
        per-MCU restart flag first in each tuple."""
        mcu = 0
        if len(cis) > 1:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    at_rst = (restart_interval and mcu
                              and mcu % restart_interval == 0)
                    first = True
                    for i, ci in enumerate(cis):
                        hi, vi = factors[ci]
                        for byi in range(vi):
                            for bxi in range(hi):
                                yield (at_rst and first, mcu, i, ci,
                                       coef[ci][my * vi + byi,
                                                mx * hi + bxi])
                                first = False
                    mcu += 1
        else:
            ci = cis[0]
            nbx, nby = true_blocks[ci]
            for by in range(nby):
                for bx in range(nbx):
                    at_rst = (restart_interval and mcu
                              and mcu % restart_interval == 0)
                    yield (at_rst, mcu, 0, ci, coef[ci][by, bx])
                    mcu += 1

    def dc_scan_bytes(cis, ah, al):
        bw = _BitWriter()
        preds = {ci: 0 for ci in cis}
        for at_rst, mcu, i, ci, blk in blocks_of(cis):
            if at_rst:
                bw.restart_marker(mcu // restart_interval - 1)
                for c in preds:
                    preds[c] = 0
            v = int(blk[0])
            if ah == 0:
                t = v >> al  # arithmetic shift per G.1.2.1
                size, code = _encode_value(t - preds[ci])
                preds[ci] = t
                hc, hl = dc_codetabs[ci][size]
                bw.write(hc, hl)
                if size:
                    bw.write(code, size)
            else:
                bw.write((v >> al) & 1, 1)
        return bw.flush()

    def ac_first_bytes(ci, ss, se, al):
        bw = _BitWriter()
        actab = ac_codetabs[ci]
        for at_rst, mcu, _i, _ci, blk in blocks_of([ci]):
            if at_rst:
                bw.restart_marker(mcu // restart_interval - 1)
            r = 0
            for k in range(ss, se + 1):
                v = int(blk[k])
                t = abs(v) >> al  # AC point transform: toward zero
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    hc, hl = actab[0xF0]
                    bw.write(hc, hl)
                    r -= 16
                size, code = _encode_value(t if v > 0 else -t)
                hc, hl = actab[(r << 4) | size]
                bw.write(hc, hl)
                bw.write(code, size)
                r = 0
            if r > 0:
                hc, hl = actab[0x00]  # per-block EOB0 flush
                bw.write(hc, hl)
        return bw.flush()

    def ac_refine_bytes(ci, ss, se, al):
        bw = _BitWriter()
        actab = ac_codetabs[ci]
        for at_rst, mcu, _i, _ci, blk in blocks_of([ci]):
            if at_rst:
                bw.restart_marker(mcu // restart_interval - 1)
            r = 0
            pending = []  # correction bits buffered until the next symbol
            for k in range(ss, se + 1):
                v = int(blk[k])
                t = abs(v) >> al
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    hc, hl = actab[0xF0]
                    bw.write(hc, hl)
                    r -= 16
                    for b in pending:
                        bw.write(b, 1)
                    pending = []
                if t > 1:  # already nonzero at the prior precision
                    pending.append(t & 1)
                    continue
                hc, hl = actab[(r << 4) | 1]
                bw.write(hc, hl)
                bw.write(1 if v > 0 else 0, 1)  # sign: 1 = positive
                for b in pending:
                    bw.write(b, 1)
                pending = []
                r = 0
            if r > 0 or pending:
                hc, hl = actab[0x00]
                bw.write(hc, hl)
                for b in pending:
                    bw.write(b, 1)
        return bw.flush()

    sof_comps = b"".join(
        bytes([i + 1, (factors[i][0] << 4) | factors[i][1],
               0 if i == 0 else 1]) for i in range(ncomp))
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt(0, quants[0])
    if not gray:
        out += _dqt(1, quants[1])
    out += _seg(0xC2, bytes([8]) + h.to_bytes(2, "big")
                + w.to_bytes(2, "big") + bytes([ncomp]) + sof_comps)
    out += _dht(0, 0, *DC_LUM) + _dht(1, 0, *AC_LUM)
    if not gray:
        out += _dht(0, 1, *DC_CHR) + _dht(1, 1, *AC_CHR)
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    for cis, ss, se, ah, al in script:
        hdr = bytes([len(cis)]) + b"".join(
            bytes([ci + 1, 0x00 if ci == 0 else 0x11]) for ci in cis
        ) + bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, hdr)
        if ss == 0:
            out += dc_scan_bytes(cis, ah, al)
        elif ah == 0:
            out += ac_first_bytes(cis[0], ss, se, al)
        else:
            out += ac_refine_bytes(cis[0], ss, se, al)
    out += b"\xff\xd9"
    return bytes(out)
