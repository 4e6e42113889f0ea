"""The codec primitives PNG, PDF, TIFF, GIF and JPEG share
(operators/pdf.py), without Spark: PDF's PNG predictors over every row
filter, their malformed inputs, and the one image pixel bound; GIF's
use of the one LZW encoder and decoder; the PNG writer's and the LZW
encoder's pinned bytes; linear-time LZW and JPEG entropy coding; and
the RIFF chunk walk WAV shares with AVI (operators/video.py), which
reads chunks in any order and LISTs nested to any depth."""

import hashlib
import time

import numpy as np
import pytest

from webtableextractionsystem_spark.operators import gif as G
from webtableextractionsystem_spark.operators import jpeg as J
from webtableextractionsystem_spark.operators import multimodal as MM
from webtableextractionsystem_spark.operators import pdf as P
from webtableextractionsystem_spark.operators import tiff as TF
from webtableextractionsystem_spark.operators import video as V


@pytest.mark.parametrize("cols,colors", [(7, 3), (5, 1), (4, 4)])
def test_pdf_png_predictor_decodes_all_filter_types_mixed_per_row(cols, colors):
    """Each row picks its own PNG filter, as §7.4.4.4 allows for
    Predictor >= 10; a row filtered on its own reads only original
    bytes, so the mixed stream is cut from five whole-image encodings."""
    rng = np.random.default_rng(cols * 10 + colors)
    h, stride = 12, cols * colors
    rows = rng.integers(0, 256, size=(h, stride)).astype(np.int64)
    # few distinct values make Paeth ties (left and up equally near the
    # estimate) common; 0 and 255 push every filter through its wrap
    rows[::2] = rng.choice([0, 1, 2, 254, 255], size=(h // 2, stride))
    encoded = {ft: np.frombuffer(MM._png_filter_rows(rows, colors, ft),
                                 dtype=np.uint8).reshape(h, stride + 1)
               for ft in range(5)}
    types = [0, 1, 2, 3, 4, 4, 3, 2, 1, 0] + rng.integers(0, 5, 2).tolist()
    mixed = np.stack([encoded[ft][y] for y, ft in enumerate(types)])
    assert sorted(set(mixed[:, 0].tolist())) == [0, 1, 2, 3, 4]
    parms = {"Predictor": 15, "Columns": cols, "Colors": colors}
    assert P._apply_predictor(mixed.tobytes(), parms) \
        == rows.astype(np.uint8).tobytes()


def test_pdf_png_predictor_malformed_raises_value_error():
    parms = {"Predictor": 12, "Columns": 4, "Colors": 1}
    with pytest.raises(ValueError, match="length mismatch"):
        P._apply_predictor(b"\0" * 9, parms)
    with pytest.raises(ValueError, match="filter type 5"):
        P._apply_predictor(b"\5" + b"\0" * 4, parms)
    with pytest.raises(ValueError, match="bad PDF predictor 7"):
        P._apply_predictor(b"\0" * 5, {**parms, "Predictor": 7})
    with pytest.raises(ValueError, match="truncated PNG"):
        P._png_unfilter(b"\0" * 9, 2, 4, 1)


def test_one_pixel_bound_for_every_image_codec():
    assert P._MAX_PIXELS == 1 << 26
    for mod in (G, J, MM, TF):
        assert mod._MAX_PIXELS is P._MAX_PIXELS, mod.__name__


def test_gif_min_code_size_below_two_raises():
    """GIF89a allows LZW minimum code sizes 2..8. A 1x1 image whose
    stream is recoded at size 1 (Clear=2, pixel 0, End=3 at 2 bits) is
    refused rather than read with codes that never widen."""
    gif = G.encode_gif(np.zeros((1, 1, 3), dtype=np.uint8))
    assert gif.count(b"\x02\x02\x44\x01\x00") == 1
    bad = gif.replace(b"\x02\x02\x44\x01\x00", b"\x01\x01\x32\x00")
    with pytest.raises(ValueError, match="min code size 1"):
        G.decode_gif(bad)


@pytest.mark.parametrize("codec", ["pcm16", "ulaw", "alaw", "adpcm"])
def test_wav_data_chunk_before_fmt_decodes(codec):
    """RIFF fixes no chunk order: a data chunk ahead of fmt (and fact)
    decodes like the usual order, for every codec."""
    rng = np.random.default_rng(3)
    sig = rng.integers(-20000, 20000, size=(121, 2)).astype(np.int16)
    wav = MM.encode_wav(sig, 16000, codec=codec)
    at = wav.index(b"data")  # the encoder writes data last
    reordered = V._chunk(b"RIFF", b"WAVE" + wav[at:] + wav[12:at])
    want, rate = MM.decode_audio(wav)
    got, got_rate = MM.decode_audio(reordered)
    assert got_rate == rate == 16000
    assert np.array_equal(got, want)
    if codec == "pcm16":
        assert np.array_equal(got, sig)


def test_wav_pcm_valid_bits_round_up_to_container_bytes():
    """A PCM fmt declaring 9..16 valid bits stores 2-byte samples, so a
    12-bit header reads the same 16-bit samples; 8 and 17 bits are not
    2-byte PCM and raise."""
    sig = np.arange(-40, 40, dtype=np.int16).reshape(-1, 2) * 16
    wav = bytearray(MM.encode_wav(sig, 8000))
    assert wav[12:16] == b"fmt " and wav[34:36] == (16).to_bytes(2, "little")
    for bits in (9, 12):
        wav[34:36] = bits.to_bytes(2, "little")
        out, rate = MM.decode_audio(bytes(wav))
        assert rate == 8000 and out.dtype == np.int16
        assert np.array_equal(out, sig)
    for bits in (8, 17):
        wav[34:36] = bits.to_bytes(2, "little")
        with pytest.raises(ValueError):
            MM.decode_audio(bytes(wav))


def _nest(chunk: bytes, depth: int) -> bytes:
    """``chunk`` wrapped in ``depth`` nested LIST chunks."""
    for _ in range(depth):
        chunk = V._chunk(b"LIST", b"xxxx" + chunk)
    return chunk


def test_avi_deeply_nested_lists_walk_without_recursion():
    """The AVI walk keeps its own stack: 1,200 nested LISTs holding
    nothing are a corrupt container (ValueError, not RecursionError),
    and frames spread over top-level and deeply nested LISTs decode in
    document order."""
    with pytest.raises(ValueError):
        V.decode_video(V._chunk(b"RIFF", b"AVI " + _nest(b"", 1200)))

    frames = [np.full((8, 8, 3), 40 + 60 * i, dtype=np.uint8)
              for i in range(3)]
    avi = V.encode_avi_mjpeg(frames, fps=10)
    movi = avi.index(b"movi") - 8
    dc = list(V._chunks(avi, movi + 12, len(avi)))
    assert [cid for cid, _, _ in dc] == [b"00dc"] * 3
    c0, c1, c2 = (V._chunk(b"00dc", avi[a:b]) for _, a, b in dc)
    body = (avi[12:movi] + V._chunk(b"LIST", b"movi" + c0)
            + _nest(c1, 1200) + c2)
    out, us = V.decode_video(V._chunk(b"RIFF", b"AVI " + body))
    assert us == 100_000
    assert np.array_equal(out, np.stack(frames))


def test_lzw_coding_time_is_linear_in_stream_length():
    """The MSB-first reader and writer keep only their pending bits. An
    accumulator holding every bit so far made each shift cost the stream
    length: 200 KB of incompressible data took about 20 s to encode and
    as long to decode, where a linear coder takes well under one."""
    data = np.random.default_rng(8).integers(
        0, 256, size=200_000, dtype=np.uint8).tobytes()
    t0 = time.perf_counter()
    coded = P._lzw_encode(data, 1)
    assert P._lzw_decode(coded, 1) == data
    assert time.perf_counter() - t0 < 5.0


# md5 of encode_png's bytes per (image kind, interlace) over a seeded
# 13x11 and 3x2 image (the small one leaves Adam7 passes empty) and all
# five filters; the palette kinds draw their pixels from 2^depth colors
_ENCODE_PNG_MD5 = {
    ("gray", False): "d1d5ec2b18d7bf28f02ed6dd1de38dd3",
    ("gray", True): "421d4a0a6b3717a393289b89a7988c28",
    ("rgb", False): "7462ca391b988431acf395408931f290",
    ("rgb", True): "11c2c438c7426b34a20c8363422a0b11",
    ("rgba", False): "273a59b87f40bd27b77290169539a603",
    ("rgba", True): "c1e22d2fe4cf58f22d6f81f2f89b1929",
    ("pal1", False): "21b8241de05e14208ed35f0fde2672a1",
    ("pal1", True): "2fc04731344c77b02ce10cb19a289217",
    ("pal2", False): "a66845b6ffef6527845a4032fbfb3bf4",
    ("pal2", True): "95791b3d215cfa1a6461f4c212de8c98",
    ("pal4", False): "a02667e10dfa414439d81beadd336be1",
    ("pal4", True): "9ce9019a6f625918399e3e82ef48b87e",
    ("pal8", False): "4abadb9b4e5b35396a6e520ce06d094e",
    ("pal8", True): "917ad28d27e1f46c081d127a3eaa8737",
}


def test_encode_png_bytes_pinned():
    """encode_png's exact bytes for every color type, palette depth,
    filter and interlace method. A change to the pass walk, filtering,
    index packing, PLTE or a header shows as a changed digest."""
    rng = np.random.default_rng(17)
    imgs: dict[str, list] = {}
    for h, w in ((13, 11), (3, 2)):
        for kind, shape in (("gray", (h, w)), ("rgb", (h, w, 3)),
                            ("rgba", (h, w, 4))):
            imgs.setdefault(kind, []).append((rng.integers(
                0, 256, size=shape, dtype=np.uint8), None))
        for d in (1, 2, 4, 8):
            pal = rng.integers(0, 256, size=(1 << d, 3), dtype=np.uint8)
            imgs.setdefault(f"pal{d}", []).append(
                (pal[rng.integers(0, 1 << d, size=(h, w))], d))
    got = {(kind, il): hashlib.md5(b"".join(
               MM.encode_png(img, filter_type=ft, interlace=il, depth=d)
               for img, d in imgs[kind] for ft in range(5))).hexdigest()
           for kind, il in _ENCODE_PNG_MD5}
    assert got == _ENCODE_PNG_MD5


# md5 of the PDF/TIFF-side _lzw_encode bytes over a seeded data set:
# empty, one byte, 9,000 random bytes and 30,000 bytes over four
# symbols (both reach the table limit and Clear), and a repeating phrase
_LZW_ENCODE_MD5 = {
    "default": "bc79cd0c466c84411811a61c51ae47dc",
    (0, False): "231f94736735973c5b4709f9ee4c5ad5",
    (0, True): "f7dbebd1b50817cbb0e86a9ebc2a663d",
    (1, False): "bc79cd0c466c84411811a61c51ae47dc",
    (1, True): "8d4b49ae8a14182db08654ed5c08fad7",
}


def test_lzw_encode_bytes_pinned():
    rng = np.random.default_rng(19)
    datas = [b"", b"A", rng.integers(0, 256, 9000, dtype=np.uint8).tobytes(),
             rng.integers(0, 4, 30000, dtype=np.uint8).tobytes(),
             b"TOBEORNOTTOBEORTOBEORNOT" * 40]
    got = {"default": hashlib.md5(
        b"".join(P._lzw_encode(d) for d in datas)).hexdigest()}
    for early, full in [k for k in _LZW_ENCODE_MD5 if k != "default"]:
        got[(early, full)] = hashlib.md5(b"".join(
            P._lzw_encode(d, early, full_tables=full)
            for d in datas)).hexdigest()
    assert got == _LZW_ENCODE_MD5


@pytest.mark.parametrize("min_code", range(2, 9))
def test_gif_roundtrip_every_min_code_size(min_code):
    """encode_gif writes dictionary-grown LZW through the shared encoder
    at every GIF min code size. 128x128 noise over 2^min_code colors
    widens codes up to 12 bits (and, at larger sizes, fills the table
    and re-Clears); a tiled image compresses below the fixed-width
    stream, which only a growing dictionary can do. Both decode
    exactly, sequential and interlaced."""
    rng = np.random.default_rng(min_code)
    pal = rng.integers(0, 256, size=(1 << min_code, 3), dtype=np.uint8)
    pal[:, 0] = np.arange(1 << min_code)  # distinct colors
    noise = pal[rng.integers(0, 1 << min_code, size=(128, 128))]
    tiled = np.tile(noise[:3, :5], (40, 20, 1))
    # header, 2^min_code palette entries, image descriptor
    assert G.encode_gif(noise)[13 + 3 * (1 << min_code) + 10] == min_code
    for img in (noise, tiled):
        for interlace in (False, True):
            gif = G.encode_gif(img, interlace=interlace)
            assert np.array_equal(G.decode_gif(gif), img)
    fixed_width = tiled.shape[0] * tiled.shape[1] * (min_code + 1) // 8
    assert len(G.encode_gif(tiled)) < fixed_width // 4


def test_jpeg_decode_time_is_linear_in_scan_length():
    """The entropy reader keeps only its unread bits. An accumulator
    holding every byte of the scan made each shift cost the scan read so
    far: a 256x256 noise baseline at quality 85 (about 100 KB) took
    about 12 s to decode, where a linear reader takes well under one."""
    img = np.random.default_rng(5).integers(
        0, 256, size=(256, 256, 3), dtype=np.uint8)
    payload = J.encode_jpeg(img, 85)
    t0 = time.perf_counter()
    out = J.decode_jpeg(payload)
    assert time.perf_counter() - t0 < 3.0
    assert out.shape == img.shape
