"""Multimodal media columns: opaque binary payloads + typed metadata,
with batched decode / feature-extract / resize / frame-sample plumbing.

The extraction pipeline emits media spans carrying a ``media_ref``
(img:// URIs from <img src> cells, TableItem.img in the reference,
/root/reference/src/tableExtract/TableItem.py:42). At 100 TB the media
bytes live in their own table keyed by media_ref:

    media(media_ref string, kind string, payload binary,
          meta struct<width int, height int, n_frames int,
                      sample_rate int, mime string>)

Spark-side design (all real and tested):

* payloads are opaque ``binary`` columns — Spark never interprets them;
* every media op crosses into Python through the package's one Arrow
  boundary, ``operators.extraction.arrow_map`` (``mapInArrow``): bytes
  move as Arrow buffers, each stage is a per-row function returning a
  dict, and no pandas is involved on either side;
* batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  so a batch of large payloads can't blow worker memory;
* ops are partition-local (narrow) — no shuffle; co-partitioning with the
  spans table by ``pmod(xxhash64(media_ref), n)`` makes the span<->media
  join a local zipper at scale.

Codecs — ALL REAL, pure numpy/stdlib: binary PPM (P6), uncompressed
24-bit BMP, 8-bit gray/RGB/RGBA or 1/2/4/8-bit palette PNG (zlib
inflate + all five scanline filters, Adam7, CRC-checked; one writer,
and writer and reader walk one pass list, a sequential image being the
one-pass case of Adam7), GIF87a/89a (operators/gif.py — full LZW
through pdf.py's one encoder/decoder pair, interlace), JFIF JPEG
(operators/jpeg.py — DCT + Annex K tables, 4:4:4/4:2:0/4:2:2, baseline
AND progressive SOF2; lossy, so round-trips assert PSNR), WAV audio
(PCM16, G.711 u-law/A-law, IMA ADPCM), MJPEG/AVI video (WAV and AVI
share one RIFF chunk writer and walker, operators/video.py), and
classic-PDF text+layout parse
(operators/pdf.py — xref tables, FlateDecode, full positioned-text
operator set, reading-order layout pass). Unknown magic raises
NotImplementedError; a corrupt payload of a known format raises
ValueError. The Spark plumbing — schema, batching, partitioning, UDF
signatures — is the same for every format.
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extraction import arrow_map, per_batch
from .pdf import _MAX_PIXELS, _png_unfilter

MEDIA_META = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("mime", T.StringType()),
])

MEDIA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("kind", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])

N_IMG_FEATURES = 16


def _synth_from_media_refs(spans_out: DataFrame, gen) -> DataFrame:
    """The span-filtering contract shared by every synth_*_for_spans
    generator: one distinct media_ref per media span, and one MEDIA row
    per ref from ``gen(ref)``, which returns its kind, payload and meta."""
    refs = spans_out.where(F.col("kind") == "media") \
        .select("media_ref").distinct()
    return arrow_map(refs, per_batch(lambda batch: [
        {"media_ref": ref, **gen(ref)}
        for ref in batch.column("media_ref").to_pylist()]), MEDIA)


def _per_payload(media: DataFrame, fn, ddl: str) -> DataFrame:
    """The shape of every feature/resize stage: narrow (no shuffle), one
    output row per media row, ``{"media_ref": ref, **fn(payload)}``, in
    the schema the DDL string ``ddl`` declares."""

    def rows(batch):
        return [{"media_ref": ref, **fn(payload)} for ref, payload in zip(
            batch.column("media_ref").to_pylist(),
            batch.column("payload").to_pylist())]

    return arrow_map(media.select("media_ref", "payload"), per_batch(rows),
                     T.StructType.fromDDL(ddl))


def synth_media_for_spans(spans_out: DataFrame) -> DataFrame:
    """Deterministic media table for every media span: REAL encoded
    image payloads (PPM / BMP / PNG-RGB / PNG-RGBA / PNG-palette /
    JPEG 4:4:4 baseline and subsampled 4:2:0/4:2:2 baseline OR
    progressive / GIF / baseline TIFF; PNG rows cycle through all five
    scanline filters and alternate Adam7 interlacing, palette PNGs
    (``encode_png(..., depth=)``) through depths 1/2/4/8, JPEG across
    qualities 75-95, GIF (dictionary-grown LZW) alternating interlace,
    TIFF across none/LZW+predictor-2/PackBits x both byte orders with
    small strips) with pixels seeded from md5(media_ref). Stands in for
    the real object store; every payload decodes through the real codec
    path (``decode_image``)."""

    def gen(ref: str) -> dict:
        h = hashlib.md5(ref.encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
        w = 4 + h[1] % 13
        ht = 4 + h[2] % 13
        fmt = h[0] % 9
        img = rng.integers(0, 256, size=(ht, w, 3), dtype=np.uint8)
        if fmt == 0:
            payload, mime = encode_ppm(img), "image/x-portable-pixmap"
        elif fmt == 1:
            payload, mime = encode_bmp(img), "image/bmp"
        elif fmt == 2:
            payload = encode_png(img, filter_type=h[3] % 5,
                                 interlace=bool(h[5] % 2))
            mime = "image/png"
        elif fmt == 3:
            rgba = np.dstack([img, rng.integers(
                0, 256, size=(ht, w), dtype=np.uint8)])
            payload = encode_png(rgba, filter_type=h[3] % 5)
            mime = "image/png"
        elif fmt == 4:
            from .jpeg import encode_jpeg

            payload = encode_jpeg(img, quality=75 + h[3] % 21)
            mime = "image/jpeg"
        elif fmt == 5:
            from .gif import encode_gif

            # <=16x16 synth images always fit a 256-color palette
            payload = encode_gif(img, interlace=bool(h[3] % 2))
            mime = "image/gif"
        elif fmt == 6:
            # paletted PNG: draw pixels FROM a small palette so
            # sub-byte depths are exercised too
            depth = (1, 2, 4, 8)[h[3] % 4]
            pal = rng.integers(0, 256, size=(1 << depth, 3),
                               dtype=np.uint8)
            img = pal[rng.integers(0, 1 << depth, size=(ht, w))]
            payload = encode_png(img, filter_type=h[4] % 5,
                                 interlace=bool(h[5] % 2), depth=depth)
            mime = "image/png"
        elif fmt == 7:
            from .jpeg import encode_jpeg

            # half of these are progressive (SOF2) — decode is
            # pinned bit-identical to baseline, so the oracle
            # values don't move but the driver gate now runs
            # the Annex G scan machinery end-to-end
            payload = encode_jpeg(
                img, quality=75 + h[3] % 21,
                subsampling="420" if h[4] % 2 else "422",
                progressive=bool(h[5] % 2))
            mime = "image/jpeg"
        else:
            from .tiff import encode_tiff

            comp = ("none", "lzw", "packbits")[h[3] % 3]
            payload = encode_tiff(
                img, compression=comp,
                predictor=2 if (comp != "none" and h[4] % 2)
                else 1,
                big_endian=bool(h[5] % 2),
                rows_per_strip=1 + h[6] % 4)
            mime = "image/tiff"
        return {
            "kind": "image",
            "payload": payload,
            "meta": {"width": w, "height": ht,
                     "n_frames": 1, "sample_rate": 0,
                     "mime": mime},
        }

    return _synth_from_media_refs(spans_out, gen)


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval<=255) -> HxWx3 uint8. Pure numpy/stdlib.
    Header = 'P6', width, height, maxval as whitespace-separated ASCII
    tokens ('#' comments allowed), one whitespace byte, then raw RGB."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    tokens: list[int] = []
    i = 2
    n = len(payload)
    while len(tokens) < 3 and i < n:
        c = payload[i:i + 1]
        if c.isspace():
            i += 1
        elif c == b"#":
            while i < n and payload[i:i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isdigit():
            j = i
            while j < n and payload[j:j + 1].isdigit():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
        else:
            raise ValueError(f"bad PPM header byte {c!r}")
    if len(tokens) < 3 or not payload[i:i + 1].isspace():
        raise ValueError("truncated PPM header")
    w, h, maxval = tokens
    if not (0 < maxval <= 255 and w > 0 and h > 0):
        raise ValueError(f"unsupported PPM dims/maxval {tokens}")
    try:
        body = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                             offset=i + 1)
    except ValueError as e:
        # np.frombuffer raises when count exceeds the remaining buffer;
        # re-raise with the format-level diagnosis (ADVICE r2: the old
        # post-hoc size check was unreachable)
        raise ValueError("truncated PPM body") from e
    img = body.reshape(h, w, 3)
    if maxval != 255:
        # spec-valid low-maxval files store samples 0..maxval; rescale
        # to 8-bit (exact integer arithmetic) instead of silently using
        # raw samples as 0..255 intensities
        img = (img.astype(np.uint16) * 255 // maxval).astype(np.uint8)
    return img.copy()


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) -> HxWx3 uint8.
    Bottom-up (positive height) or top-down rows, BGR channel order,
    rows padded to 4-byte multiples. Pure numpy/stdlib."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")

    def u32(o):
        return int.from_bytes(payload[o:o + 4], "little")

    def s32(o):
        return int.from_bytes(payload[o:o + 4], "little", signed=True)

    off = u32(10)
    w = s32(18)
    h = s32(22)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = u32(30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h <= 0:
        # same honest raise as the PPM/PNG dim checks — a (h, 0, 3)
        # image would silently propagate NaN features downstream
        raise ValueError(f"bad BMP dimensions {w}x{h}")
    stride = (w * 3 + 3) // 4 * 4
    if len(payload) < off + stride * h:
        raise ValueError("truncated BMP body")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h,
                         offset=off).reshape(h, stride)
    img = rows[:, : w * 3].reshape(h, w, 3)[..., ::-1]  # BGR -> RGB
    if not top_down:
        img = img[::-1]
    return img.copy()


def encode_ppm(img: np.ndarray) -> bytes:
    """HxWx3 uint8 -> binary PPM payload (test/source-side helper)."""
    h, w = img.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """HxWx3 uint8 -> uncompressed 24-bit bottom-up BMP payload."""
    h, w = img.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, flip
    raw = body.tobytes()
    header = (b"BM" + (54 + len(raw)).to_bytes(4, "little") + b"\0\0\0\0"
              + (54).to_bytes(4, "little"))
    dib = ((40).to_bytes(4, "little") + w.to_bytes(4, "little")
           + h.to_bytes(4, "little") + (1).to_bytes(2, "little")
           + (24).to_bytes(2, "little") + b"\0" * 24)
    return header + dib + raw


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (8-bit depth only; no palette)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


# IHDR interlace method -> pass grid, (x0, y0, dx, dy) per pass (PNG
# spec §8.2): a sequential image is the one-pass case of Adam7's seven
_PNG_PASSES = {
    0: [(0, 0, 1, 1)],
    1: [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)],
}


def _unpack_indices(rows: np.ndarray, depth: int, pw: int) -> np.ndarray:
    """(h, stride) filtered bytes -> (h, pw) palette indices (MSB-first
    sub-byte packing for depths 1/2/4; identity for 8)."""
    if depth == 8:
        return rows[:, :pw]
    mask = (1 << depth) - 1
    shifts = [8 - depth * (i + 1) for i in range(8 // depth)]
    idx = np.stack([(rows >> s) & mask for s in shifts],
                   axis=2).reshape(rows.shape[0], -1)
    return idx[:, :pw]


def _decode_png(payload: bytes) -> np.ndarray:
    """Gray/RGB/RGBA (8-bit) or palette (1/2/4/8-bit) PNG, sequential or
    Adam7-interlaced -> HxWx3 uint8. Pure stdlib: chunk walk + CRC32
    verify + zlib inflate + per-pass un-filter (+ sub-byte index unpack
    and PLTE resolution for color type 3 — the dominant icon/sprite form
    on the real web). Grayscale broadcasts to 3 channels; RGBA drops
    alpha and palette tRNS is ignored (features are computed over color
    planes; compositing policy is the caller's). 16-bit depth raises
    ValueError (corrupt vs unsupported-variant are both data errors of a
    supported format)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    n = len(payload)
    ihdr: bytes | None = None
    plte: bytes | None = None
    idat = bytearray()
    while pos + 8 <= n:
        length = int.from_bytes(payload[pos:pos + 4], "big")
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) < length or pos + 12 + length > n:
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(payload[pos + 8 + length:pos + 12 + length], "big")
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG missing IHDR")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, color, comp, filt, interlace = ihdr[8:13]
    paletted = color == 3
    ok_depth = depth in (1, 2, 4, 8) if paletted else depth == 8
    if not ok_depth or (not paletted and color not in _PNG_CHANNELS) \
            or comp != 0 or filt != 0 or interlace not in _PNG_PASSES:
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={color}, "
            f"interlace={interlace}); only 8-bit gray/RGB/RGBA and "
            "1/2/4/8-bit palette (sequential or Adam7) are decodable")
    if not idat:
        raise ValueError("PNG missing IDAT")
    if w <= 0 or h <= 0:
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    ch = 1 if paletted else _PNG_CHANNELS[color]
    bpp = 1 if paletted else ch
    # IHDR dims are untrusted: bound BEFORE any canvas allocation or
    # inflate (the bound every image codec shares — a <100-byte payload
    # can declare 4G px)
    if w * h > _MAX_PIXELS:
        raise ValueError(
            f"PNG dimensions {w}x{h} exceed the "
            f"{_MAX_PIXELS}-pixel decode bound")

    def stride_of(width: int) -> int:
        return (width * depth + 7) // 8 if paletted else width * ch

    passes = []
    for x0, y0, dx, dy in _PNG_PASSES[interlace]:
        pw, ph = (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:  # an empty pass contributes NO bytes (§8.2)
            passes.append((x0, y0, dx, dy, pw, ph))
    # exact inflated size is known from the header, so cap the inflate
    # at it: a deflate bomb (~1000:1) can't expand past the bounded
    # dims' worth of scanline bytes + 1 probe byte
    expected = sum(ph * (1 + stride_of(pw)) for *_, pw, ph in passes)
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise ValueError("corrupt PNG IDAT stream") from e
    if len(raw) > expected:
        raise ValueError("PNG pixel data longer than header dimensions")

    px = np.zeros((h, w) if paletted else (h, w, ch), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph in passes:
        stride = stride_of(pw)
        nbytes = ph * (1 + stride)
        rows = _png_unfilter(raw[off:off + nbytes], ph, stride, bpp)
        off += nbytes
        px[y0::dy, x0::dx] = (_unpack_indices(rows, depth, pw) if paletted
                              else rows.reshape(ph, pw, ch))
    if paletted:
        if plte is None or len(plte) == 0 or len(plte) % 3:
            raise ValueError("palette PNG with missing/malformed PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(px.max()) >= pal.shape[0]:
            raise ValueError("PNG pixel index outside PLTE")
        return pal[px]
    if ch == 1:
        return np.repeat(px, 3, axis=2)
    return px[..., :3].copy()


def encode_png(img: np.ndarray, filter_type: int = 0,
               interlace: bool = False, depth: int | None = None) -> bytes:
    """The package's one PNG writer, sequential or Adam7-interlaced.
    Without ``depth``: HxW (gray) / HxWx3 / HxWx4 uint8 -> 8-bit PNG.
    With ``depth`` 1/2/4/8: HxWx3 uint8 (<= 2^depth distinct colors) ->
    color-type-3 PNG, PLTE from the image's unique colors and indices
    MSB-first packed — the dominant real-web icon/sprite form.
    ``filter_type`` applies that PNG scanline filter (0-4) to every row,
    so tests can exercise each decoder un-filter path individually."""
    if depth is not None:
        if img.ndim != 3 or img.shape[2] < 3:
            raise ValueError(
                f"palette encode_png needs HxWx(>=3), got shape {img.shape}")
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"bad palette depth {depth}")
        color, bpp = 3, 1
    elif img.ndim == 2:
        color, bpp = 0, 1
        img = img[..., None]
    elif img.shape[2] == 3:
        color, bpp = 2, 3
    elif img.shape[2] == 4:
        color, bpp = 6, 4
    else:
        raise ValueError(f"unsupported channel count {img.shape[2]}")
    if not 0 <= filter_type <= 4:
        raise ValueError(f"bad PNG filter type {filter_type}")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    plte = b""
    if depth is not None:
        pal, inv = np.unique(img[..., :3].reshape(-1, 3), axis=0,
                             return_inverse=True)
        if pal.shape[0] > (1 << depth):
            raise ValueError(f"{pal.shape[0]} distinct colors exceed a "
                             f"{1 << depth}-entry palette; quantize first")
        plte = _png_chunk(b"PLTE", pal.astype(np.uint8).tobytes())
        px = inv.reshape(h, w).astype(np.int64)
    else:
        px = img.astype(np.int64)
    scan = bytearray()
    for x0, y0, dx, dy in _PNG_PASSES[int(interlace)]:
        sub = px[y0::dy, x0::dx]
        if sub.size:  # an empty pass contributes NO bytes (§8.2)
            rows = (_pack_indices(sub, depth) if depth is not None
                    else sub.reshape(sub.shape[0], -1))
            scan += _png_filter_rows(rows, bpp, filter_type)
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([depth or 8, color, 0, 0, int(interlace)]))
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr) + plte
            + _png_chunk(b"IDAT", zlib.compress(scan))
            + _png_chunk(b"IEND", b""))


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (len(data).to_bytes(4, "big") + ctype + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big"))


def _png_filter_rows(rows: np.ndarray, bpp: int, filter_type: int) -> bytes:
    """Apply one PNG scanline filter to every (h, stride) int64 row and
    prepend the per-row filter byte."""
    h, stride = rows.shape
    zero = np.zeros((1, stride), dtype=np.int64)
    up = np.vstack([zero, rows[:-1]])
    left = np.pad(rows, ((0, 0), (bpp, 0)))[:, :stride]
    upleft = np.pad(up, ((0, 0), (bpp, 0)))[:, :stride]
    if filter_type == 0:
        filt = rows
    elif filter_type == 1:
        filt = rows - left
    elif filter_type == 2:
        filt = rows - up
    elif filter_type == 3:
        filt = rows - ((left + up) >> 1)
    else:  # Paeth (filtering uses recon values, so it vectorizes)
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, upleft))
        filt = rows - pred
    return np.hstack([
        np.full((h, 1), filter_type, dtype=np.uint8),
        (filt & 0xFF).astype(np.uint8),
    ]).tobytes()


def _pack_indices(idx: np.ndarray, depth: int) -> np.ndarray:
    """(h, w) palette indices -> (h, stride) bytes, MSB-first sub-byte
    packing (identity layout for depth 8)."""
    per = 8 // depth  # indices per byte
    h0, w0 = idx.shape
    pw = (w0 + per - 1) // per * per
    padded = np.pad(idx, ((0, 0), (0, pw - w0)))
    packed = np.zeros((h0, pw // per), dtype=np.int64)
    for i in range(per):
        packed |= padded[:, i::per] << (8 - depth * (i + 1))
    return packed


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to an HxWx3 uint8 array.

    REAL formats (pure numpy/stdlib, no external libs), sniffed by magic
    bytes: binary PPM (P6), uncompressed 24-bit BMP, 8-bit gray/RGB/RGBA
    or 1/2/4/8-bit palette PNG (zlib inflate + un-filter, Adam7,
    CRC-checked), GIF87a/89a, baseline TIFF, and baseline or progressive
    JFIF JPEG incl. 4:2:0/4:2:2 chroma subsampling. A payload whose magic
    matches but whose body does not parse is a corrupt file of a
    supported format and raises ValueError; unrecognized magic raises
    NotImplementedError."""
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        return decode_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        return decode_tiff(payload)
    raise NotImplementedError(
        "unrecognized image magic: PPM(P6), 24-bit BMP, 8-bit PNG, "
        "GIF, baseline TIFF, and baseline or progressive JPEG are the "
        "decodable formats")


def image_features(media: DataFrame) -> DataFrame:
    """(media_ref, features array<float>, width, height), one row per
    media row: decode -> per-channel stats -> fixed-dim vector. An
    undecodable payload raises."""

    def features(payload: bytes) -> dict:
        img = decode_image(payload)
        v = np.zeros(N_IMG_FEATURES, dtype=np.float32)
        v[0:3] = img.mean(axis=(0, 1)) / 255.0
        v[3:6] = img.std(axis=(0, 1)) / 255.0
        v[6] = img.shape[0] / 64.0
        v[7] = img.shape[1] / 64.0
        hist, _ = np.histogram(img[..., 0], bins=8, range=(0, 256))
        v[8:16] = hist / max(1, img.shape[0] * img.shape[1])
        return {"features": v.tolist(), "width": img.shape[1],
                "height": img.shape[0]}

    return _per_payload(media, features, "media_ref string, "
                        "features array<float>, width int, height int")


def resize_images(media: DataFrame, target: int = 8) -> DataFrame:
    """Nearest-neighbor resize returning new payloads — exercises
    binary-in/binary-out Arrow round-tripping."""

    def resize(payload: bytes) -> dict:
        img = decode_image(payload)
        idx = (np.linspace(0, img.shape[0] - 1, target).astype(int),
               np.linspace(0, img.shape[1] - 1, target).astype(int))
        return {"payload": img[np.ix_(idx[0], idx[1])].tobytes(),
                "width": target, "height": target}

    return _per_payload(media, resize, "media_ref string, payload binary, "
                        "width int, height int")


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sampling plumbing for frame-bearing media: emits one row
    per sampled frame index (pure Catalyst: sequence + explode; the
    decode of each frame would plug into decode_image batch-wise).
    Restricted to image and video rows — audio rows reuse meta.n_frames
    as the SAMPLE count (up to ~1000s), which must not explode into bogus
    frame rows — and media with n_frames <= 0 emit no rows (not a
    phantom frame 0)."""
    return (
        media
        .where(F.col("kind").isin("image", "video")
               & (F.col("meta.n_frames") > 0))
        .select(
            "media_ref",
            F.explode(
                F.sequence(F.lit(0), F.col("meta.n_frames") - 1,
                           F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


# ---------------------------------------------------------------------------
# audio: REAL WAV codec (PCM16, G.711, IMA ADPCM) — pure numpy over the
# RIFF chunk writer/walker shared with the AVI codec (video.py), same
# discipline as the image codecs (round-trip tested, corrupt -> ValueError,
# anything non-WAV -> NotImplementedError)
# ---------------------------------------------------------------------------

# G.711 companding (ITU-T G.711 via the public-domain Sun reference
# formulas; stdlib audioop was removed in Python 3.13, so the 256-entry
# expansion tables are computed here directly). Encoding is the optimal
# quantizer against the decode table (nearest code, deterministic
# tie-break) — exactly what a table-driven G.711 encoder implements.

def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    ulaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
        ulaw[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[b] = t if (a & 0x80) else -t
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = _g711_tables()


def _g711_encode(samples: np.ndarray, table: np.ndarray) -> np.ndarray:
    """int16 -> companded uint8 by nearest decode-table value (sorted
    lookup + midpoint comparison; deterministic for the duplicate
    positive/negative zero codes)."""
    order = np.argsort(table, kind="stable")
    sorted_vals = table[order].astype(np.int32)
    idx = np.searchsorted(sorted_vals, samples.astype(np.int32))
    idx = np.clip(idx, 1, 255)
    left = sorted_vals[idx - 1]
    right = sorted_vals[idx]
    take_left = (samples.astype(np.int32) - left) <= \
        (right - samples.astype(np.int32))
    pick = np.where(take_left, idx - 1, idx)
    return order[pick].astype(np.uint8)


_WAV_FMT_PCM16, _WAV_FMT_ALAW, _WAV_FMT_ULAW = 1, 6, 7
_WAV_FMT_IMA_ADPCM = 0x11

# IMA/DVI ADPCM tables (public IMA ADPCM specification / RFC 3551 §4.5.1)
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767], dtype=np.int32)
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step_sample(nibble: int, pred: int, index: int) -> tuple[int, int]:
    """One IMA ADPCM reconstruction step — shared VERBATIM by encoder
    and decoder so the encoder's predictor tracks the decoder exactly."""
    step = int(_IMA_STEPS[index])
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_ADJ[nibble]))
    return pred, index


_IMA_SPB = 57  # samples per block: (spb-1) % 8 == 0 (4-byte word layout)


def _ima_encode(samples: np.ndarray) -> bytes:
    """[n, ch] int16 -> standard IMA-WAV block stream: per block, one
    4-byte header per channel (initial sample + step index), then the
    channels' nibble data interleaved in 4-byte words (8 samples per
    channel per word) — the layout external decoders expect."""
    n, ch = samples.shape
    indices = [0] * ch
    out = bytearray()
    for start in range(0, n, _IMA_SPB):
        chunk = samples[start:start + _IMA_SPB]
        if len(chunk) < _IMA_SPB:  # pad the tail block (fact chunk trims)
            chunk = np.concatenate([chunk, np.repeat(
                chunk[-1:], _IMA_SPB - len(chunk), axis=0)])
        nibs = []
        for c in range(ch):
            pred = int(chunk[0, c])
            index = indices[c]
            out += (pred & 0xFFFF).to_bytes(2, "little") + bytes([index, 0])
            ch_nibs = []
            for s in chunk[1:, c]:
                step = int(_IMA_STEPS[index])
                diff = int(s) - pred
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                for bit in (4, 2, 1):
                    if diff >= step:
                        nib |= bit
                        diff -= step
                    step >>= 1
                pred, index = _ima_step_sample(nib, pred, index)
                ch_nibs.append(nib)
            indices[c] = index
            nibs.append(ch_nibs)
        for w in range(0, _IMA_SPB - 1, 8):
            for c in range(ch):
                for i in range(w, w + 8, 2):
                    out.append(nibs[c][i] | (nibs[c][i + 1] << 4))
    return bytes(out)


def _ima_decode(data: bytes, ch: int, spb: int,
                block_align: int) -> np.ndarray:
    if block_align != ch * (4 + (spb - 1) // 2) or (spb - 1) % 8:
        raise ValueError("bad IMA ADPCM block geometry")
    if len(data) % block_align:
        raise ValueError("truncated IMA ADPCM block")
    out_blocks = []
    for b0 in range(0, len(data), block_align):
        block = data[b0:b0 + block_align]
        preds, indices = [], []
        for c in range(ch):
            preds.append(int.from_bytes(
                block[4 * c:4 * c + 2], "little", signed=True))
            idx = block[4 * c + 2]
            if idx > 88:
                raise ValueError("bad IMA ADPCM step index")
            indices.append(idx)
        samples = np.empty((spb, ch), dtype=np.int16)
        samples[0] = preds
        pos = 4 * ch
        nibs = [[] for _ in range(ch)]
        for _w in range(0, spb - 1, 8):
            for c in range(ch):
                for byte in block[pos:pos + 4]:
                    nibs[c].append(byte & 0x0F)
                    nibs[c].append(byte >> 4)
                pos += 4
        for c in range(ch):
            pred, index = preds[c], indices[c]
            for i, nib in enumerate(nibs[c][:spb - 1]):
                pred, index = _ima_step_sample(nib, pred, index)
                samples[i + 1, c] = pred
        out_blocks.append(samples)
    return np.concatenate(out_blocks) if out_blocks else \
        np.empty((0, ch), dtype=np.int16)


def encode_wav(samples: np.ndarray, sample_rate: int = 8000,
               codec: str = "pcm16") -> bytes:
    """[n] or [n, ch] int16 -> RIFF/WAVE payload. ``codec``: 'pcm16'
    (format tag 1, 16-bit PCM), 'ulaw' or 'alaw' (G.711 format tags
    7/6, 8-bit companded), or 'adpcm' (IMA ADPCM, format tag 0x11)."""
    from .video import _chunk

    if samples.ndim == 1:
        samples = samples[:, None]
    ch = samples.shape[1]
    if ch < 1 or sample_rate <= 0:
        raise ValueError(
            f"bad WAV parameters: {ch} channels at {sample_rate} Hz")
    if codec == "pcm16":
        tag = _WAV_FMT_PCM16
        data = samples.astype("<i2").tobytes()
        block_align = 2 * ch
        bits = 16
        ext = b""
        byte_rate = sample_rate * block_align
    elif codec == "adpcm":
        tag = _WAV_FMT_IMA_ADPCM
        data = _ima_encode(samples.astype(np.int16))
        block_align = ch * (4 + (_IMA_SPB - 1) // 2)
        bits = 4
        ext = (2).to_bytes(2, "little") \
            + _IMA_SPB.to_bytes(2, "little")  # cbSize=2, samplesPerBlock
        byte_rate = (sample_rate * block_align + _IMA_SPB - 1) // _IMA_SPB
    elif codec in ("ulaw", "alaw"):
        tag = _WAV_FMT_ULAW if codec == "ulaw" else _WAV_FMT_ALAW
        table = _ULAW_TABLE if codec == "ulaw" else _ALAW_TABLE
        data = _g711_encode(samples.astype(np.int16).reshape(-1),
                            table).tobytes()
        block_align = ch
        bits = 8
        ext = (0).to_bytes(2, "little")  # cbSize=0
        byte_rate = sample_rate * ch
    else:
        raise ValueError(f"unknown WAV codec {codec!r}")
    fmt = (tag.to_bytes(2, "little") + ch.to_bytes(2, "little")
           + sample_rate.to_bytes(4, "little")
           + byte_rate.to_bytes(4, "little")
           + block_align.to_bytes(2, "little")
           + bits.to_bytes(2, "little")
           + ext)
    # non-PCM format tags require the extended fmt (cbSize present) and
    # a 'fact' chunk with the frame count — strict external readers
    # (libsndfile, ACM) reject compressed WAVs without them
    fact = b"" if tag == _WAV_FMT_PCM16 else \
        _chunk(b"fact", samples.shape[0].to_bytes(4, "little"))
    return _chunk(b"RIFF", b"WAVE" + _chunk(b"fmt ", fmt) + fact
                  + _chunk(b"data", data))


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV payload -> ([n, ch] int16 array, sample_rate). PCM (9-16
    bit), G.711 u-law/A-law (format tags 7/6) via the expansion tables,
    and IMA ADPCM (tag 0x11). Corrupt RIFF/fmt data raises ValueError;
    non-WAV magic raises NotImplementedError (other compressed codecs
    need external libs)."""
    from .video import _chunks

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE PCM, G.711 or IMA ADPCM is decodable without "
            "audio libraries")
    # first occurrence of each chunk, wherever it sits
    chunks: dict = {}
    for cc, start, end in _chunks(payload, 12, len(payload)):
        chunks.setdefault(cc, payload[start:end])
    fmt = chunks.get(b"fmt ")
    if fmt is None:
        raise ValueError("WAV without fmt chunk")
    if len(fmt) < 16:
        raise ValueError("truncated WAV fmt chunk")
    data = chunks.get(b"data")
    if data is None:
        raise ValueError("WAV missing data chunk")
    tag = int.from_bytes(fmt[0:2], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    if tag == _WAV_FMT_IMA_ADPCM:
        out = _decode_wav_ima(fmt, data, chunks.get(b"fact"))
    elif tag in (_WAV_FMT_PCM16, _WAV_FMT_ULAW, _WAV_FMT_ALAW):
        out = _decode_wav_fixed(fmt, data, tag)
    else:
        raise ValueError(f"unsupported WAV format tag {tag}")
    # degenerate-but-parseable payloads must raise here, not divide by
    # zero / NaN downstream in audio_features (an empty data chunk
    # yields int(sqrt(nan)))
    if rate <= 0:
        raise ValueError(f"bad WAV sample rate {rate}")
    if out.shape[0] == 0:
        raise ValueError("empty WAV data chunk")
    return out, rate


def _decode_wav_ima(fmt: bytes, data: bytes,
                    fact: bytes | None) -> np.ndarray:
    if len(fmt) < 20:
        raise ValueError("truncated IMA ADPCM fmt chunk")
    ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    block_align = int.from_bytes(fmt[12:14], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    spb = int.from_bytes(fmt[18:20], "little")
    if ch <= 0 or rate <= 0 or bits != 4 or spb < 2:
        raise ValueError("bad IMA ADPCM WAV fmt parameters")
    out = _ima_decode(data, ch, spb, block_align)
    if fact is not None and len(fact) >= 4:
        n = int.from_bytes(fact[0:4], "little")
        if n > len(out):
            raise ValueError("IMA ADPCM fact count exceeds decoded data")
        out = out[:n]  # trim tail-block padding
    return out


def _decode_wav_fixed(fmt: bytes, data: bytes, tag: int) -> np.ndarray:
    """PCM (tag 1) and G.711 (tags 6/7): frames of ``ch`` fixed-width
    samples. PCM keeps the RIFF container rounding (9-16 valid bits are
    stored as 2-byte samples) and drops a trailing partial frame; a
    G.711 partial frame raises."""
    ch = int.from_bytes(fmt[2:4], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    pcm = tag == _WAV_FMT_PCM16
    if ch <= 0 or not (9 <= bits <= 16 if pcm else bits == 8):
        raise ValueError(f"bad WAV fmt parameters: {ch} channels, "
                         f"{bits} bits per sample")
    frame = ch * (2 if pcm else 1)
    if not pcm and len(data) % frame:
        raise ValueError("truncated WAV frame data")
    data = data[:len(data) - len(data) % frame]
    if pcm:
        return np.frombuffer(data, dtype="<i2").reshape(-1, ch)
    table = _ULAW_TABLE if tag == _WAV_FMT_ULAW else _ALAW_TABLE
    return table[np.frombuffer(data, dtype=np.uint8)].reshape(-1, ch)


def synth_audio_for_spans(spans_out: DataFrame) -> DataFrame:
    """Deterministic audio table for every media span: REAL WAV
    payloads (md5-seeded sine-ish int16 signals, 1-2 channels) cycling
    through PCM16, the two G.711 companded forms (u-law/A-law), and
    block-compressed IMA ADPCM (format tag 0x11) — the audio twin of
    synth_media_for_spans."""

    def gen(ref: str) -> dict:
        h = hashlib.md5(ref.encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
        n = 64 + h[1] * 4
        ch = 1 + h[2] % 2
        rate = (8000, 16000, 22050)[h[3] % 3]
        t = np.arange(n)[:, None]
        freq = 1 + h[4] % 40
        sig = (3000 * np.sin(2 * np.pi * freq * t / rate)
               + rng.integers(-500, 500, size=(n, ch)))
        codec = ("pcm16", "ulaw", "alaw", "adpcm")[h[5] % 4]
        payload = encode_wav(sig.astype(np.int16), rate,
                             codec=codec)
        return {
            "kind": "audio", "payload": payload,
            "meta": {"width": 0, "height": 0, "n_frames": n,
                     "sample_rate": rate, "mime": "audio/wav"},
        }

    return _synth_from_media_refs(spans_out, gen)


def audio_features(media: DataFrame) -> DataFrame:
    """(media_ref, n_samples, n_channels, sample_rate, duration_ms,
    rms, zero_crossings) over the REAL WAV decode — integer outputs
    only, so the pinned oracle is float-free. Narrow (no shuffle),
    bounded Arrow batches, the same per-payload shape as
    image_features."""

    def features(payload: bytes) -> dict:
        data, rate = decode_audio(payload)
        mono = data.mean(axis=1)
        return {"n_samples": data.shape[0], "n_channels": data.shape[1],
                "sample_rate": rate,
                "duration_ms": data.shape[0] * 1000 // rate,
                "rms": int(np.sqrt(np.mean(mono ** 2))),
                "zero_crossings": int(np.count_nonzero(
                    np.diff(np.signbit(mono))))}

    return _per_payload(media, features, "media_ref string, n_samples int, "
                        "n_channels int, sample_rate int, duration_ms int, "
                        "rms int, zero_crossings int")


# ---------------------------------------------------------------------------
# video: REAL MJPEG/AVI decode (operators/video.py) + batched features
# ---------------------------------------------------------------------------

def synth_video_for_spans(spans_out: DataFrame) -> DataFrame:
    """Deterministic video table for every media span: REAL MJPEG AVI
    payloads (2-5 drifting-gradient frames seeded from md5(media_ref)) —
    the video twin of synth_media_for_spans / synth_audio_for_spans."""
    from .video import encode_avi_mjpeg

    def gen(ref: str) -> dict:
        h = hashlib.md5(ref.encode()).digest()
        n_frames = 2 + h[1] % 4
        w = 8 + 8 * (h[2] % 2)
        ht = 8 + 8 * (h[3] % 2)
        fps = (5, 10, 25)[h[4] % 3]
        base = np.linspace(0, 200, w)[None, :, None]
        frames = []
        for i in range(n_frames):
            f = np.clip(base + 10 * i + h[5] % 40, 0, 255)
            frames.append(np.broadcast_to(
                f, (ht, w, 3)).astype(np.uint8))
        payload = encode_avi_mjpeg(frames, fps=fps,
                                   quality=80 + h[6] % 16)
        return {
            "kind": "video", "payload": payload,
            "meta": {"width": w, "height": ht, "n_frames": n_frames,
                     "sample_rate": fps, "mime": "video/x-msvideo"},
        }

    return _synth_from_media_refs(spans_out, gen)


def video_features(media: DataFrame) -> DataFrame:
    """(media_ref, n_frames, width, height, us_per_frame, mean_luma,
    motion) over the REAL MJPEG decode: mean_luma is the integer mean of
    the BT.601 luma over all frames, motion the integer mean absolute
    inter-frame luma difference. Integer outputs only, so the pinned
    oracle is float-free; narrow (no shuffle), bounded batches — the
    same per-payload shape as image/audio_features. Coarse frame
    SAMPLING belongs at the container walk (decode only every nth
    '00dc' chunk) — the metadata-level ``frame_sample`` op models that
    plan shape; this feature pass deliberately reads every frame."""
    from .video import decode_video

    def features(payload: bytes) -> dict:
        frames, uspf = decode_video(payload)
        sampled = frames.astype(np.float64)
        luma = (0.299 * sampled[..., 0] + 0.587 * sampled[..., 1]
                + 0.114 * sampled[..., 2])
        motion = (int(np.mean(np.abs(np.diff(luma, axis=0))))
                  if luma.shape[0] > 1 else 0)
        return {"n_frames": frames.shape[0], "width": frames.shape[2],
                "height": frames.shape[1], "us_per_frame": uspf,
                "mean_luma": int(np.mean(luma)), "motion": motion}

    return _per_payload(media, features, "media_ref string, n_frames int, "
                        "width int, height int, us_per_frame int, "
                        "mean_luma int, motion int")


# ---------------------------------------------------------------------------
# documents: REAL PDF text+layout extraction (operators/pdf.py) — the
# north rule's "PDF/layout parse" clause, integrated exactly like the
# image/audio/video codec paths
# ---------------------------------------------------------------------------

def synth_pdfs_for_spans(spans_out: DataFrame) -> DataFrame:
    """Deterministic PDF table for every media span: REAL PDF payloads
    (md5-seeded 1-3 pages; runs emitted in SHUFFLED content order and,
    on odd refs, laid out in two columns — so the features below only
    pin if the layout reading-order pass works; content streams cycle
    through the full §7.4 filter battery — plain, FlateDecode,
    LZWDecode, RunLengthDecode, ASCIIHexDecode, and the legacy
    ASCII85+Flate transport cascade — and ~half are MODERN 1.5+ files
    — xref stream + object stream + Up predictor — so the driver gate
    exercises both file structures and every decode path; ~half embed
    1-2 REAL JPEG image XObjects (baseline or progressive, cycling a
    bare /DCTDecode vs [ASCII85Decode|FlateDecode, DCTDecode]
    transport cascade) so the gate also runs the embedded-image decode
    end-to-end)."""
    from .jpeg import encode_jpeg
    from .pdf import encode_pdf

    _FILTER_CYCLE = ((), "FlateDecode", "LZWDecode",
                     "RunLengthDecode", "ASCIIHexDecode",
                     ["ASCII85Decode", "FlateDecode"])

    # the two CJK entries force a Type0/Identity-H font (+ ToUnicode
    # CMap) into every PDF whose rng draws them, so the driver gate
    # exercises the composite-font decode path, not just latin-1
    _WORDS = ("table", "spark", "corpus", "extract", "span", "layout",
              "query", "join", "column", "page", "表格抽取", "属性关系")

    def gen(ref: str) -> dict:
        h = hashlib.md5(ref.encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
        n_pages = 1 + h[1] % 3
        two_col = bool(h[2] % 2)
        pages = []
        for p in range(n_pages):
            n_lines = 2 + int(rng.integers(0, 4))
            runs = []
            for i in range(n_lines):
                words = " ".join(
                    _WORDS[int(w)] for w in
                    rng.integers(0, len(_WORDS), size=3))
                x = 320.0 if (two_col and i % 2) else 72.0
                y = 720.0 - 16.0 * (i // 2 if two_col else i)
                runs.append((x, y, 10 + int(rng.integers(0, 4)),
                             f"p{p} {words}"))
            rng.shuffle(runs)  # content order != reading order
            pages.append(runs)
        images = None
        transport = None
        if h[6] % 2:
            # 1-2 embedded JPEGs, always on page 0 (every PDF
            # has one); dims/pixels/quality/progressive all
            # md5-seeded like the standalone image corpus
            n_imgs = 1 + h[7] % 2
            page_imgs = []
            for j in range(n_imgs):
                iw = 4 + int(rng.integers(0, 13))
                ih = 4 + int(rng.integers(0, 13))
                img = rng.integers(0, 256, size=(ih, iw, 3),
                                   dtype=np.uint8)
                jp = encode_jpeg(img,
                                 quality=75 + int(rng.integers(0, 21)),
                                 progressive=bool((h[8] + j) % 2))
                page_imgs.append(
                    (jp, iw, ih, 72.0 + 40.0 * j, 80.0))
            images = [page_imgs] + [[] for _ in range(n_pages - 1)]
            transport = (None, "ASCII85Decode",
                         "FlateDecode")[h[9] % 3]
        # stream_filter drives the content streams; compress
        # still toggles the modern ObjStm's Flate so both its
        # states stay exercised
        payload = encode_pdf(
            pages, compress=bool(h[5] % 2), modern=bool(h[4] % 2),
            stream_filter=_FILTER_CYCLE[h[3] % len(_FILTER_CYCLE)],
            images=images, image_transport=transport)
        return {
            "kind": "pdf", "payload": payload,
            "meta": {"width": 612, "height": 792,
                     "n_frames": n_pages, "sample_rate": 0,
                     "mime": "application/pdf"},
        }

    return _synth_from_media_refs(spans_out, gen)


def pdf_features(media: DataFrame) -> DataFrame:
    """(media_ref, n_pages, n_runs, n_chars, text_md5, n_images,
    img_px_md5) through the REAL PDF parse + layout reading-order pass:
    text_md5 digests the page-ordered, line-ordered extracted text, so
    a regression in the xref walk, Flate bound, content interpreter,
    matrix composition, or the layout sort all fail the pinned driver
    row; img_px_md5 digests the DECODED RGB pixels of every embedded
    image XObject (page order, then resource-name order — through the
    real DCTDecode->jpeg.py path), so a JPEG or transport-cascade
    regression fails it too ('' when the PDF embeds no images). Narrow,
    the same per-payload shape as the other codec features."""
    from .pdf import (
        decode_pdf,
        extract_pdf_images,
        layout_pages,
        parse_pdf,
    )

    def features(payload: bytes) -> dict:
        doc = parse_pdf(payload)  # parse ONCE
        pages = decode_pdf(doc)
        joined = "\x0c".join(layout_pages(pages))
        img_pages = extract_pdf_images(doc)
        n_images = sum(len(p) for p in img_pages)
        d = hashlib.md5()
        for p in img_pages:
            for _name, arr in p:
                d.update(arr.tobytes())
        return {"n_pages": len(pages), "n_runs": sum(len(p) for p in pages),
                "n_chars": len(joined),
                "text_md5": hashlib.md5(joined.encode()).hexdigest(),
                "n_images": n_images,
                "img_px_md5": d.hexdigest() if n_images else ""}

    return _per_payload(media, features, "media_ref string, n_pages int, "
                        "n_runs int, n_chars int, text_md5 string, "
                        "n_images int, img_px_md5 string")
