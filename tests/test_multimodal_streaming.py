"""Multimodal plumbing + Structured Streaming incremental extraction."""

import os

import pytest
from pyspark.sql import functions as F

from webtableextractionsystem_spark.datagen import gen_documents_df
from webtableextractionsystem_spark.operators.extraction import extract_all, spans_view
from webtableextractionsystem_spark.operators import multimodal as MM
from webtableextractionsystem_spark.streaming.incremental import incremental_extract


@pytest.fixture(scope="module")
def media(spark):
    docs = gen_documents_df(spark, 60)
    spans = spans_view(extract_all(docs, num_buckets=8))
    m = MM.synth_media_for_spans(spans).cache()
    assert m.count() > 0
    return m


def test_media_schema_and_determinism(spark, media):
    row = media.orderBy("media_ref").first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["mime"] in (
        "image/x-portable-pixmap", "image/bmp", "image/png", "image/jpeg",
        "image/gif")
    # deterministic: same ref -> same payload across a second build
    docs = gen_documents_df(spark, 60)
    spans = spans_view(extract_all(docs, num_buckets=4))
    m2 = MM.synth_media_for_spans(spans)
    r2 = m2.orderBy("media_ref").first()
    assert bytes(row["payload"]) == bytes(r2["payload"])


def test_synth_media_payloads_real_decode(media):
    """Every synthesized payload decodes through the REAL codec path and
    matches its declared meta dimensions."""
    rows = media.collect()
    mimes = set()
    for r in rows:
        img = MM.decode_image(bytes(r["payload"]))
        assert img.shape == (r["meta"]["height"], r["meta"]["width"], 3)
        mimes.add(r["meta"]["mime"])
    assert mimes == {"image/x-portable-pixmap", "image/bmp", "image/png",
                     "image/jpeg", "image/gif", "image/tiff"}


def test_decode_stub_raises_without_fake():
    # compressed/unknown formats still stub out
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"abc")
    # corrupt file of a SUPPORTED format: distinct diagnosis (ValueError),
    # not a misleading "format unsupported"
    with pytest.raises(ValueError):
        MM.decode_image(b"P6 garbage")
    with pytest.raises(ValueError):
        MM.decode_image(b"BM\x01\x02")


def _test_img():
    import numpy as np

    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)


def test_ppm_roundtrip_real_decode():
    import numpy as np

    img = _test_img()
    out = MM.decode_image(MM.encode_ppm(img))
    assert np.array_equal(out, img)
    # header comments + maxval parsing
    payload = b"P6\n# a comment\n7 5\n255\n" + img.tobytes()
    assert np.array_equal(MM.decode_image(payload), img)


def test_bmp_roundtrip_real_decode():
    import numpy as np

    img = _test_img()  # width 7 -> stride padding exercised (21 -> 24)
    out = MM.decode_image(MM.encode_bmp(img))
    assert np.array_equal(out, img)


def test_png_roundtrip_all_filters():
    """RGB PNG through every scanline filter type (None/Sub/Up/Average/
    Paeth) must un-filter back to the exact pixels."""
    import numpy as np

    img = _test_img()
    for ftype in range(5):
        out = MM.decode_image(MM.encode_png(img, filter_type=ftype))
        assert np.array_equal(out, img), f"filter {ftype}"


def test_png_rgba_and_grayscale():
    import numpy as np

    rng = np.random.default_rng(11)
    rgba = rng.integers(0, 256, size=(6, 4, 4), dtype=np.uint8)
    out = MM.decode_image(MM.encode_png(rgba, filter_type=4))
    assert np.array_equal(out, rgba[..., :3])  # alpha dropped
    gray = rng.integers(0, 256, size=(3, 9), dtype=np.uint8)
    out = MM.decode_image(MM.encode_png(gray, filter_type=1))
    assert np.array_equal(out, np.repeat(gray[..., None], 3, axis=2))


def test_png_roundtrip_property():
    """Property test: any uint8 image (1..24 px per side, gray/RGB/RGBA,
    any filter type) survives encode->decode exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 24), w=st.integers(1, 24),
        ch=st.sampled_from([0, 3, 4]),
        ftype=st.integers(0, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, ch, ftype, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if ch == 0 else (h, w, ch)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = MM.decode_image(MM.encode_png(img, filter_type=ftype))
        if ch == 0:
            want = np.repeat(img[..., None], 3, axis=2)
        else:
            want = img[..., :3]
        assert np.array_equal(out, want)

    check()


def test_png_corruption_diagnosis():
    """Bit-flips and truncations are ValueError (corrupt supported
    format), never NotImplementedError, never a wrong silent decode."""
    import pytest

    payload = bytearray(MM.encode_png(_test_img(), filter_type=2))
    flipped = bytearray(payload)
    flipped[40] ^= 0xFF  # inside IDAT -> CRC mismatch
    with pytest.raises(ValueError):
        MM.decode_image(bytes(flipped))
    with pytest.raises(ValueError):
        MM.decode_image(bytes(payload[:30]))  # truncated chunk
    # invalid interlace method (2) -> unsupported-variant ValueError
    # (rebuild the header with a fixed-up CRC so only the variant is
    # wrong); interlace=1 is Adam7 and SUPPORTED since round 4
    import zlib
    ihdr = bytearray(payload[16:29])
    ihdr[12] = 2
    crc = (zlib.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF).to_bytes(4, "big")
    bad = payload[:16] + bytes(ihdr) + crc + payload[33:]
    with pytest.raises(ValueError, match="interlace"):
        MM.decode_image(bytes(bad))
    # a sequential stream mislabeled Adam7 is CORRUPT, not a wrong decode
    ihdr[12] = 1
    crc = (zlib.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF).to_bytes(4, "big")
    mislabeled = payload[:16] + bytes(ihdr) + crc + payload[33:]
    with pytest.raises(ValueError):
        MM.decode_image(bytes(mislabeled))


def test_jpeg_roundtrip_and_variants():
    """Baseline JPEG codec: flat blocks survive exactly (DC-only),
    textured images round-trip above a PSNR floor, grayscale broadcasts,
    and unsupported/corrupt variants diagnose correctly."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 99 if mse == 0 else 10 * np.log10(255 ** 2 / mse)

    rng = np.random.default_rng(3)
    flat = np.full((16, 16, 3), 120, dtype=np.uint8)
    assert np.array_equal(J.decode_jpeg(J.encode_jpeg(flat, 85)), flat)
    noise = rng.integers(0, 256, size=(17, 23, 3), dtype=np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(noise, 95))
    assert out.shape == noise.shape and psnr(noise, out) > 30
    g = rng.integers(0, 256, size=(9, 11), dtype=np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(g, 90))
    assert out.shape == (9, 11, 3)
    assert psnr(np.repeat(g[..., None], 3, 2), out) > 30
    # flat GRAYSCALE must survive exactly too (the gray path rounds like
    # the color path — truncation would bias it one LSB low)
    gflat = np.full((8, 8), 120, dtype=np.uint8)
    assert np.array_equal(J.decode_jpeg(J.encode_jpeg(gflat, 85)),
                          np.full((8, 8, 3), 120, dtype=np.uint8))
    # header-shaped garbage diagnoses as ValueError
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\xff\xd8\xff\xc0\x00\x04\x08")
    # decode_image sniffs the JPEG magic onto the real path
    assert np.array_equal(MM.decode_image(J.encode_jpeg(flat, 85)), flat)

    payload = bytearray(J.encode_jpeg(noise, 85))
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(payload[:60]))  # truncated pre-scan
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(payload[:-40]))  # truncated entropy stream
    # genuinely unsupported SOFs name the feature (SOF2 is now decoded;
    # SOF3 lossless is not)
    sof0 = bytes(payload).find(b"\xff\xc0")
    lossless = bytes(payload[:sof0 + 1]) + b"\xc3" + bytes(payload[sof0 + 2:])
    with pytest.raises(ValueError, match="non-baseline"):
        J.decode_jpeg(lossless)
    # a baseline stream whose SOF is flipped to SOF2 is MALFORMED
    # progressive (a baseline SOS header breaks Annex G's scan rules) —
    # must diagnose, never silently half-decode
    flipped = bytes(payload[:sof0 + 1]) + b"\xc2" + bytes(payload[sof0 + 2:])
    with pytest.raises(ValueError, match="progressive"):
        J.decode_jpeg(flipped)


def test_avi_mjpeg_roundtrip_and_variants():
    """MJPEG/AVI container: frames round-trip through the real per-frame
    JPEG decode (PSNR-bounded — flat frames exact), fps survives, and
    foreign codecs / corrupt containers diagnose correctly."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import video as V

    frames = [np.full((16, 16, 3), 60 + 20 * i, dtype=np.uint8)
              for i in range(3)]
    payload = V.encode_avi_mjpeg(frames, fps=10, quality=85)
    out, uspf = V.decode_video(payload)
    assert out.shape == (3, 16, 16, 3) and uspf == 100_000
    for i in range(3):
        assert np.array_equal(out[i], frames[i])  # flat frames: exact

    with pytest.raises(NotImplementedError):
        V.decode_video(b"\x00\x00\x00\x00mp4-ish")  # non-AVI magic
    with pytest.raises(ValueError):
        V.decode_video(payload[:60])  # truncated container
    # foreign codec fourcc -> unsupported, not corrupt
    foreign = payload.replace(b"vidsMJPG", b"vidsXVID", 1)
    with pytest.raises(NotImplementedError, match="XVID"):
        V.decode_video(foreign)


def test_video_features_real_decode(spark):
    """End-to-end video path: synthesized AVI payloads through the
    batched Arrow feature pass — values must match a local decode."""
    import numpy as np

    from webtableextractionsystem_spark.datagen import gen_documents_df
    from webtableextractionsystem_spark.operators.extraction import (
        extract_all,
        spans_view,
    )
    from webtableextractionsystem_spark.operators.video import decode_video

    spans = spans_view(extract_all(gen_documents_df(spark, 40), num_buckets=4))
    vids = MM.synth_video_for_spans(spans).cache()
    feats = {r["media_ref"]: r for r in MM.video_features(vids).collect()}
    rows = vids.collect()
    assert rows and len(feats) == len(rows)
    for r in rows:
        frames, uspf = decode_video(bytes(r["payload"]))
        f = feats[r["media_ref"]]
        assert f["n_frames"] == frames.shape[0] == r["meta"]["n_frames"]
        assert (f["height"], f["width"]) == frames.shape[1:3]
        assert f["us_per_frame"] == uspf == 1_000_000 // r["meta"]["sample_rate"]
        luma = (0.299 * frames[..., 0].astype(float)
                + 0.587 * frames[..., 1] + 0.114 * frames[..., 2])
        assert f["mean_luma"] == int(np.mean(luma))
        assert f["motion"] == int(np.mean(np.abs(np.diff(luma, axis=0))))


def test_wav_roundtrip_and_corruption():
    import numpy as np
    import pytest

    rng = np.random.default_rng(5)
    sig = rng.integers(-30000, 30000, size=(100, 2), dtype=np.int16)
    data, rate = MM.decode_audio(MM.encode_wav(sig, 16000))
    assert rate == 16000 and np.array_equal(data, sig)
    mono = rng.integers(-100, 100, size=50, dtype=np.int16)
    data, rate = MM.decode_audio(MM.encode_wav(mono, 8000))
    assert data.shape == (50, 1) and np.array_equal(data[:, 0], mono)
    with pytest.raises(NotImplementedError):
        MM.decode_audio(b"ID3\x04mp3-ish")  # non-WAV: unsupported codec
    with pytest.raises(ValueError):
        MM.decode_audio(MM.encode_wav(mono)[:20])  # corrupt container


def test_audio_features_real_decode(spark):
    """End-to-end audio path: synthesized WAV payloads through the
    batched Arrow feature pass — values must match a local decode."""
    import numpy as np

    from webtableextractionsystem_spark.datagen import gen_documents_df
    from webtableextractionsystem_spark.operators.extraction import (
        extract_all,
        spans_view,
    )

    spans = spans_view(extract_all(gen_documents_df(spark, 40), num_buckets=4))
    audio = MM.synth_audio_for_spans(spans).cache()
    feats = {r["media_ref"]: r for r in MM.audio_features(audio).collect()}
    rows = audio.collect()
    assert rows and len(feats) == len(rows)
    for r in rows:
        data, rate = MM.decode_audio(bytes(r["payload"]))
        f = feats[r["media_ref"]]
        assert f["n_samples"] == data.shape[0] == r["meta"]["n_frames"]
        assert f["sample_rate"] == rate == r["meta"]["sample_rate"]
        mono = data.mean(axis=1)
        assert f["rms"] == int(np.sqrt(np.mean(mono ** 2)))
        assert f["duration_ms"] == data.shape[0] * 1000 // rate


def test_image_features_on_real_payloads(spark):
    """End to end: real PPM/BMP payloads through the batched
    Arrow feature pass — mean channel features must match numpy."""
    import numpy as np

    img = _test_img()
    rows = [("m://ppm", "image", bytearray(MM.encode_ppm(img)),
             {"width": 7, "height": 5, "n_frames": 1, "sample_rate": 0,
              "mime": "image/x-portable-pixmap"}),
            ("m://bmp", "image", bytearray(MM.encode_bmp(img)),
             {"width": 7, "height": 5, "n_frames": 1, "sample_rate": 0,
              "mime": "image/bmp"})]
    media = spark.createDataFrame(rows, MM.MEDIA)
    got = {r["media_ref"]: r for r in
           MM.image_features(media).collect()}
    want_mean = img.mean(axis=(0, 1)) / 255.0
    for ref in ("m://ppm", "m://bmp"):
        r = got[ref]
        assert (r["width"], r["height"]) == (7, 5)
        assert np.allclose(r["features"][0:3], want_mean, atol=1e-6)


def test_image_features_shape(media):
    feats = MM.image_features(media)
    rows = feats.collect()
    assert all(len(r["features"]) == MM.N_IMG_FEATURES for r in rows)
    assert all(0 <= r["features"][0] <= 1 for r in rows)
    assert feats.count() == media.count()


def test_resize_binary_roundtrip(media):
    small = MM.resize_images(media, target=8)
    rows = small.collect()
    assert all(len(bytes(r["payload"])) == 8 * 8 * 3 for r in rows)
    assert all(r["width"] == 8 for r in rows)


def test_frame_sample_plumbing(spark, media):
    frames = MM.frame_sample(media, every_n=1)
    # n_frames==1 for images -> exactly one frame row each
    assert frames.count() == media.count()
    assert frames.columns == ["media_ref", "frame_idx"]


def test_incremental_extract_exactly_once(spark, tmp_path, monkeypatch):
    """Each run extracts exactly the files that arrived since the last
    one. A file:// output root gives the same result as a plain path
    and leaves no relative 'file:' directory in the working directory."""
    monkeypatch.chdir(tmp_path)
    for scheme in ("", "file://"):
        run = tmp_path / ("uri" if scheme else "path")
        in_dir, ckpt = str(run / "in"), str(run / "ckpt")
        out_dir = scheme + str(run / "out")
        os.makedirs(in_dir)

        gen_documents_df(spark, 40).coalesce(1).write.mode("append") \
            .parquet(in_dir)
        incremental_extract(spark, in_dir, out_dir, ckpt, num_buckets=8)
        first = spark.read.parquet(out_dir)
        assert first.select("doc_id").distinct().count() == 40

        # second wave of files; rerun processes ONLY the new ones
        gen_documents_df(spark, 70).where(F.col("doc_id") >= "doc-00000040") \
            .coalesce(1).write.mode("append").parquet(in_dir)
        incremental_extract(spark, in_dir, out_dir, ckpt, num_buckets=8)
        out = spark.read.parquet(out_dir)
        assert out.count() == 70
        assert out.select("doc_id").distinct().count() == 70  # no reprocessing

        # idempotent third run with nothing new
        incremental_extract(spark, in_dir, out_dir, ckpt, num_buckets=8)
        assert spark.read.parquet(out_dir).count() == 70
    assert not [e for e in os.listdir(tmp_path) if e.startswith("file:")]


def test_incremental_extract_refuses_legacy_flat_layout(spark, tmp_path):
    """An output_dir holding flat parquet files (the pre-partitioned
    append layout) is refused with a named error BEFORE any batch
    writes — mixing flat files with batch=<id> dirs would break
    partition discovery and silently change the read schema."""
    import pytest

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "legacy_out")
    os.makedirs(in_dir)
    gen_documents_df(spark, 5).coalesce(1).write.mode("append") \
        .parquet(in_dir)
    # simulate the old sink: flat files at the output root
    gen_documents_df(spark, 3).coalesce(1).write.mode("append") \
        .parquet(out_dir)
    with pytest.raises(ValueError, match="flat parquet"):
        incremental_extract(spark, in_dir, out_dir,
                            str(tmp_path / "ckpt2"), num_buckets=8)


def test_row_minhash_matches_aggregate_form(spark):
    """Per-row array_min minhash must equal the explode->groupBy(min)
    signatures for every doc (same algebra, different plan shape)."""
    from webtableextractionsystem_spark.operators import dedup as DD

    sf = "/root/testdata/sf0.001"
    agg = {r["doc_id"]: tuple(r[f"mh{s}"] for s in range(DD.N_SEEDS))
           for r in DD.minhash_signatures(spark, sf).collect()}
    row = {r["doc_id"]: tuple(r[f"mh{s}"] for s in range(DD.N_SEEDS))
           for r in DD.row_minhash(DD.tokenized(
               DD.load_documents(spark, sf), "doc_id")).select(
               "doc_id", *[f"mh{s}" for s in range(DD.N_SEEDS)]).collect()}
    assert agg == row


def test_png_decodes_reference_repo_real_files():
    """External-interop evidence: the PNG decoder handles REAL PNGs
    written by third-party tools (the reference repo's GUI icons, 7
    files incl. a 72x72), with every chunk CRC and the zlib adler32
    verified en route; the .ico files correctly diagnose as unrecognized
    magic rather than mis-decoding."""
    import glob

    import pytest

    pngs = sorted(glob.glob("/root/reference/file/images/*.png"))
    assert len(pngs) >= 7
    shapes = set()
    for p in pngs:
        img = MM.decode_image(open(p, "rb").read())
        assert img.ndim == 3 and img.shape[2] == 3
        shapes.add(img.shape[:2])
    assert (72, 72) in shapes and (16, 16) in shapes
    for p in sorted(glob.glob("/root/reference/file/images/*.ico")):
        with pytest.raises(NotImplementedError):
            MM.decode_image(open(p, "rb").read())


def test_gif_roundtrip_and_interlace():
    """GIF is lossless indexed color: exact round-trips, sequential and
    interlaced, down to 1x1 and 2-color palettes."""
    import numpy as np

    from webtableextractionsystem_spark.operators import gif as G

    rng = np.random.default_rng(9)
    for shape, il in [((5, 7, 3), False), ((13, 11, 3), True),
                      ((1, 1, 3), False), ((16, 16, 3), True)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(
            G.decode_gif(G.encode_gif(img, interlace=il)), img)
    flat = np.full((6, 6, 3), 42, np.uint8)
    assert np.array_equal(MM.decode_image(G.encode_gif(flat)), flat)
    with pytest.raises(ValueError):
        G.decode_gif(G.encode_gif(flat)[:20])  # truncated
    with pytest.raises(ValueError, match="distinct colors"):
        big = np.stack([np.arange(300) % 256, np.arange(300) // 256,
                        np.zeros(300)], axis=-1).astype(np.uint8)
        G.encode_gif(big.reshape(300, 1, 3))


def test_gif_decoder_handles_dictionary_grown_lzw():
    """The decoder reads streams the package's encoder did not make: an
    independent LZW compressor written here (its own LSB-first bit
    packing, dictionary growth + width bumps, the KwKwK pattern
    included) must decode back to its pixels."""
    import numpy as np

    from webtableextractionsystem_spark.operators import gif as G

    def lzw_compress(pixels, min_code):
        clear, end = 1 << min_code, (1 << min_code) + 1
        acc = nbits = 0

        def write(code, width):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width

        width = min_code + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code = clear + 2
        write(clear, width)
        prev = b""
        for p in pixels:
            cur = prev + bytes([int(p)])
            if cur in table:
                prev = cur
                continue
            write(table[prev], width)
            table[cur] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
            prev = bytes([int(p)])
        if prev:
            write(table[prev], width)
        write(end, width)
        return acc.to_bytes((nbits + 7) // 8, "little")

    rng = np.random.default_rng(21)
    for min_code in (2, 5, 8):
        # repetitive pixels -> real dictionary reuse incl. KwKwK patterns
        base = rng.integers(0, 1 << min_code, size=64, dtype=np.uint8)
        pixels = np.tile(base, 40)  # 2560 px, heavy repetition
        stream = lzw_compress(pixels, min_code)
        out = G._lzw_decode(stream, early=0, min_code=min_code, lsb=True,
                            n_out=len(pixels))
        assert out == pixels.tobytes()


def test_tiff_roundtrip_all_forms():
    """Baseline TIFF is lossless: exact round-trips across both byte
    orders, all three compressions (none/LZW/PackBits), predictor 2,
    grayscale and RGB, multi-strip organizations, through both the
    module API and the decode_image dispatch."""
    import numpy as np

    from webtableextractionsystem_spark.operators import tiff as T

    rng = np.random.default_rng(17)
    for shape in ((1, 1, 3), (5, 7, 3), (16, 16, 3), (13, 3, 3)):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for comp in ("none", "lzw", "packbits"):
            for pred in ((1,) if comp == "none" else (1, 2)):
                for be in (False, True):
                    t = T.encode_tiff(img, compression=comp,
                                      predictor=pred, big_endian=be,
                                      rows_per_strip=2)
                    assert np.array_equal(T.decode_tiff(t), img)
                    g = T.encode_tiff(img, compression=comp,
                                      predictor=pred, big_endian=be,
                                      grayscale=True)
                    assert np.array_equal(
                        T.decode_tiff(g),
                        np.repeat(img[:, :, :1], 3, axis=2))
    # decode_image dispatch on both magics
    flat = np.full((6, 6, 3), 42, np.uint8)
    assert np.array_equal(
        MM.decode_image(T.encode_tiff(flat, big_endian=False)), flat)
    assert np.array_equal(
        MM.decode_image(T.encode_tiff(flat, big_endian=True)), flat)


def test_tiff_honest_boundaries():
    """Unsupported baseline variants raise ValueError NAMING the
    feature; malformed structure diagnoses instead of misparsing."""
    import struct

    import numpy as np

    from webtableextractionsystem_spark.operators import tiff as T

    img = np.full((4, 4, 3), 9, np.uint8)
    base = T.encode_tiff(img)

    with pytest.raises(ValueError, match="not a TIFF"):
        T.decode_tiff(b"II+\x00junk")
    # 16-bit samples
    bits16 = base.replace(b"\x08\x00\x08\x00\x08\x00",
                          b"\x10\x00\x10\x00\x10\x00", 1)
    with pytest.raises(ValueError, match="BitsPerSample"):
        T.decode_tiff(bits16)

    def with_tag(tag, typ, val):
        # rewrite (or sorted-insert — the IFD sits at the file tail)
        # one inline IFD entry in the little-endian file
        (ifd,) = struct.unpack_from("<I", base, 4)
        (cnt,) = struct.unpack_from("<H", base, ifd)
        entry = struct.pack("<HHIHH", tag, typ, 1, val, 0)
        out = bytearray(base)
        for i in range(cnt):
            t, = struct.unpack_from("<H", base, ifd + 2 + 12 * i)
            if t == tag:
                out[ifd + 2 + 12 * i:ifd + 14 + 12 * i] = entry
                return bytes(out)
            if t > tag:
                out[ifd + 2 + 12 * i:ifd + 2 + 12 * i] = entry
                struct.pack_into("<H", out, ifd, cnt + 1)
                return bytes(out)
        out[ifd + 2 + 12 * cnt:ifd + 2 + 12 * cnt] = entry
        struct.pack_into("<H", out, ifd, cnt + 1)
        return bytes(out)

    for tag, val, name in ((259, 7, "JPEG"), (259, 4, "CCITT"),
                           (262, 3, "PhotometricInterpretation"),
                           (317, 3, "Predictor"), (284, 2, "Planar")):
        with pytest.raises(ValueError, match=name):
            T.decode_tiff(with_tag(tag, 3, val))
    # strip pointing past EOF
    with pytest.raises(ValueError, match="strip"):
        T.decode_tiff(with_tag(273, 4, len(base) + 100))
    # truncated LZW strip
    lz = T.encode_tiff(img, compression="lzw")
    with pytest.raises(ValueError):
        T.decode_tiff(lz[:40] + lz[41:])
    # truncated STRUCTURE must still be ValueError, never struct.error
    # or IndexError escaping into decode_image's ValueError-only
    # contract (review finding)
    with pytest.raises(ValueError):
        T.decode_tiff(b"II*\x00")
    with pytest.raises(ValueError):
        T.decode_tiff(base[:10])
    # count=0 on a required tag: one()'s vals[0] must not IndexError
    (ifd,) = struct.unpack_from("<I", base, 4)
    (cnt,) = struct.unpack_from("<H", base, ifd)
    zeroed = bytearray(base)
    for i in range(cnt):
        t, = struct.unpack_from("<H", base, ifd + 2 + 12 * i)
        if t == 256:  # ImageWidth
            struct.pack_into("<I", zeroed, ifd + 2 + 12 * i + 4, 0)
    with pytest.raises(ValueError):
        T.decode_tiff(bytes(zeroed))


def test_gif_roundtrip_property():
    """Property test: any small uint8 RGB image (palette fits by pixel
    count), interlaced or not, survives GIF encode->decode exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webtableextractionsystem_spark.operators import gif as G

    @settings(max_examples=40, deadline=None)
    @given(h=st.integers(1, 16), w=st.integers(1, 16),
           interlace=st.booleans(), seed=st.integers(0, 2**31 - 1))
    def check(h, w, interlace, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = G.decode_gif(G.encode_gif(img, interlace=interlace))
        assert np.array_equal(out, img)

    check()


def test_wav_roundtrip_property():
    """Property test: any int16 sample block (1-2 channels, the three
    synth rates) survives WAV encode->decode exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(n=st.integers(1, 300), ch=st.integers(1, 2),
           rate=st.sampled_from([8000, 16000, 22050]),
           seed=st.integers(0, 2**31 - 1))
    def check(n, ch, rate, seed):
        rng = np.random.default_rng(seed)
        sig = rng.integers(-32768, 32768, size=(n, ch)).astype(np.int16)
        data, got_rate = MM.decode_audio(MM.encode_wav(sig, rate))
        assert got_rate == rate and np.array_equal(data, sig)

    check()


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn support end-to-end: encoding with restart intervals must
    emit the markers and decode bit-identically to the restart-free
    stream (DC predictors reset + byte alignment on both sides)."""
    import numpy as np

    from webtableextractionsystem_spark.operators import jpeg as J

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)  # 15 MCUs
    base = J.decode_jpeg(J.encode_jpeg(img, 90))
    for ri in (1, 2, 4):
        payload = J.encode_jpeg(img, 90, restart_interval=ri)
        n_rst = sum(payload.count(bytes([0xFF, 0xD0 + i]))
                    for i in range(8))
        assert n_rst == (15 - 1) // ri
        assert np.array_equal(J.decode_jpeg(payload), base)


def test_jpeg_roundtrip_property():
    """Property test: any small image (gray or RGB, any quality tier,
    with or without restarts) decodes at the right shape with a PSNR
    floor; flat images survive exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webtableextractionsystem_spark.operators import jpeg as J

    @settings(max_examples=25, deadline=None)
    @given(h=st.integers(1, 20), w=st.integers(1, 20),
           gray=st.booleans(), q=st.sampled_from([60, 85, 95]),
           ri=st.sampled_from([0, 2]), seed=st.integers(0, 2**31 - 1))
    def check(h, w, gray, q, ri, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if gray else (h, w, 3)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = J.decode_jpeg(J.encode_jpeg(img, q, restart_interval=ri))
        assert out.shape == (h, w, 3)
        want = np.repeat(img[..., None], 3, 2) if gray else img
        mse = np.mean((out.astype(float) - want.astype(float)) ** 2)
        # per-quality floors with margin under the empirical worst cases
        # over 300 seeded images (q60: 12.7 dB — tiny random-noise blocks
        # at low quality legitimately quantize that hard; q85: 23.6;
        # q95: 35.0)
        floor = {60: 9, 85: 19, 95: 30}[q]
        assert mse == 0 or 10 * np.log10(255 ** 2 / mse) > floor

    check()


def test_progressive_jpeg_decodes_bit_identical_to_baseline():
    """Progressive (SOF2) and baseline (SOF0) encodes of one image carry
    the SAME quantized coefficients, so their decodes must be
    bit-identical — across gray/color, every subsampling, odd dims, and
    quality tiers. This pins the whole spectral-selection +
    successive-approximation pipeline (scan script, point transforms,
    EOB/ZRL coding, refinement bits) against the long-golden baseline
    path."""
    import numpy as np

    from webtableextractionsystem_spark.operators import jpeg as J

    rng = np.random.default_rng(7)
    cases = [((16, 16, 3), "444", 75), ((24, 17, 3), "420", 75),
             ((9, 31, 3), "422", 60), ((8, 8), "444", 95),
             ((21, 13), "444", 85), ((48, 40, 3), "420", 85)]
    for shape, sub, q in cases:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        base = J.encode_jpeg(img, q, subsampling=sub)
        prog = J.encode_jpeg(img, q, subsampling=sub, progressive=True)
        assert prog[2:4] != base[2:4] or b"\xff\xc2" in prog  # SOF2 emitted
        assert np.array_equal(J.decode_jpeg(base), J.decode_jpeg(prog)), \
            (shape, sub, q)
    # regression: these seeds produce a coefficient sitting EXACTLY on a
    # .5 quantization boundary — a batched-einsum DCT summed in a
    # different order than the baseline matmul and rounded it the other
    # way (review finding; fuzz 2/120). Both paths must share the exact
    # per-block expression.
    for hh, ww, qq in [(42, 34, 84), (42, 41, 72)]:
        img = np.random.default_rng(0).integers(
            0, 256, size=(hh, ww), dtype=np.uint8)
        assert np.array_equal(
            J.decode_jpeg(J.encode_jpeg(img, qq)),
            J.decode_jpeg(J.encode_jpeg(img, qq, progressive=True))), \
            (hh, ww, qq)


def test_progressive_jpeg_restart_intervals():
    """RSTn inside SOF2 scans: predictors AND EOB runs reset, stream
    realigns — decode stays bit-identical to the restart-free baseline
    decode."""
    import numpy as np

    from webtableextractionsystem_spark.operators import jpeg as J

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(40, 56, 3), dtype=np.uint8)
    want = J.decode_jpeg(J.encode_jpeg(img, 80, subsampling="420"))
    for ri in (1, 3, 7):
        prog = J.encode_jpeg(img, 80, restart_interval=ri,
                             subsampling="420", progressive=True)
        assert np.array_equal(J.decode_jpeg(prog), want)


def test_progressive_jpeg_eobn_and_scan_prefix():
    """Hand-built SOF2 stream exercising what our encoder never emits
    but real files (libjpeg custom tables) do: an EOBn>0 symbol whose
    run spans multiple blocks, plus a DHT redefinition BETWEEN scans.
    Also pins the progressive contract that a valid scan PREFIX + EOI
    renders (coarser), like a browser's progressive paint."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    ones = np.ones((8, 8), dtype=np.int64)
    sof = J._seg(0xC2, bytes([8]) + (8).to_bytes(2, "big")
                 + (24).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    # scan 1: DC, Al=0, blocks DC = [4, 8, -4] -> diffs [4, 4, -12]
    dctab = J._build_code_table(*J.DC_LUM)
    bw = J._BitWriter()
    for diff in (4, 4, -12):
        size, code = J._encode_value(diff)
        hc, hl = dctab[size]
        bw.write(hc, hl)
        bw.write(code, size)
    scan1 = (J._seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + bw.flush())
    # scan 2: AC 1..63 Al=0 with a CUSTOM table: 00 -> EOB2-3 (0x10),
    # 01 -> (run 0, size 2). Block 0 gets zz[1]=3, then EOB with ext
    # bit 1 = run of 3 blocks total (ends block 0, skips blocks 1, 2).
    custom = J._dht(1, 0, [0, 2] + [0] * 14, [0x10, 0x02])
    bw = J._BitWriter()
    bw.write(0b01, 2)   # (0,2) symbol
    bw.write(3, 2)      # value 3
    bw.write(0b00, 2)   # EOBn r=1
    bw.write(1, 1)      # ext bit -> run 2 + 1 = 3
    scan2 = J._seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + bw.flush()
    head = (b"\xff\xd8" + J._dqt(0, ones)
            + sof + J._dht(0, 0, *J.DC_LUM) + scan1)
    full = head + custom + scan2 + b"\xff\xd9"

    def expect(dc_ac):  # [(dc, {zz_k: v})] -> 8x(8*n)x3 expected pixels
        outs = []
        for dc, acs in dc_ac:
            r = np.zeros(64)
            r[J.ZIGZAG[0]] = dc
            for k, v in acs.items():
                r[J.ZIGZAG[k]] = v
            out = J._T.T @ r.reshape(8, 8) @ J._T + 128
            outs.append(out)
        y = np.round(np.clip(np.hstack(outs), 0, 255))
        return np.repeat(y[..., None], 3, axis=2).astype(np.uint8)

    got = J.decode_jpeg(full)
    assert np.array_equal(got, expect([(4, {1: 3}), (8, {}), (-4, {})]))
    # prefix: DC scan only + EOI -> DC-only render
    got_dc = J.decode_jpeg(head + b"\xff\xd9")
    assert np.array_equal(got_dc, expect([(4, {}), (8, {}), (-4, {})]))
    # no EOI -> truncation error, not a silent partial image
    with pytest.raises(ValueError, match="truncated progressive"):
        J.decode_jpeg(head + custom + scan2)
    # ZRL runs past the band end must raise (the baseline decoder's
    # pinned contract, regressed-then-fixed in review for progressive):
    # a 1-bit only-ZRL table, five ZRLs -> k = 1 + 80 > 63
    zrl_tab = J._dht(1, 0, [1] + [0] * 15, [0xF0])
    bw = J._BitWriter()
    for _ in range(5):
        bw.write(0, 1)
    zrl_scan = J._seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + bw.flush()
    with pytest.raises(ValueError, match="AC run past band end"):
        J.decode_jpeg(head + zrl_tab + zrl_scan + b"\xff\xd9")


def test_progressive_jpeg_real_reference_photo_bit_exact():
    """The reference manual's real 734x1234 4:2:0 photo re-encoded
    progressively decodes bit-identically to its baseline re-encode —
    real-web content through every progressive scan stage."""
    import numpy as np

    from webtableextractionsystem_spark.operators import jpeg as J

    with open("/root/reference/file/说明书/images/系统详细设计图.jpg",
              "rb") as f:
        px = J.decode_jpeg(f.read())
    # crop to keep the three decodes inside a few seconds of test budget
    px = px[:256, :320]
    base = J.encode_jpeg(px, 60, subsampling="420")
    prog = J.encode_jpeg(px, 60, subsampling="420", progressive=True)
    assert b"\xff\xc2" in prog and b"\xff\xc2" not in base
    assert np.array_equal(J.decode_jpeg(base), J.decode_jpeg(prog))


def test_jpeg_zrl_past_block_end_raises():
    """A corrupt AC stream whose ZRL symbols push k past 63 must raise,
    not silently exit the block loop and desync later blocks (T.81
    F.1.2.2: a final all-zero tail is coded with EOB, never ZRL)."""
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    # minimal hand-built baseline JPEG: 1-bit Huffman tables where the
    # only DC symbol is size 0 and the only AC symbol is ZRL (0xF0), so
    # an all-zero entropy byte decodes as DC=0 then ZRL,ZRL,ZRL,ZRL...
    dqt = b"\xff\xdb\x00\x43\x00" + b"\x01" * 64
    dht_dc = b"\xff\xc4\x00\x14\x00" + bytes([1] + [0] * 15) + b"\x00"
    dht_ac = b"\xff\xc4\x00\x14\x10" + bytes([1] + [0] * 15) + b"\xf0"
    sof = b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    sos = b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    payload = (b"\xff\xd8" + dqt + dht_dc + dht_ac + sof + sos
               + b"\x00" + b"\xff\xd9")
    with pytest.raises(ValueError, match="AC run past block end"):
        J.decode_jpeg(payload)


def test_jpeg_sequential_eobn_symbol_raises():
    """T.81 F.1.2.2 defines no AC symbol (r, 0) with 0 < r < 15 in a
    sequential scan: EOBn runs exist only in progressive AC scans. A
    SOF0 stream that codes one is corrupt and must raise, not read it as
    a run of zeros and decode a flat image."""
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    # 1-bit Huffman tables: the only DC symbol is size 0; the AC table
    # maps '0' to 0x10 (EOB1 in a progressive scan) and '1' to EOB, so
    # the entropy byte 0x3F reads DC=0, then 0x10, then EOB
    dqt = b"\xff\xdb\x00\x43\x00" + b"\x01" * 64
    dht_dc = b"\xff\xc4\x00\x14\x00" + bytes([1] + [0] * 15) + b"\x00"
    dht_ac = b"\xff\xc4\x00\x15\x10" + bytes([2] + [0] * 15) + b"\x10\x00"
    sof = b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    sos = b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    payload = (b"\xff\xd8" + dqt + dht_dc + dht_ac + sof + sos
               + b"\x3f" + b"\xff\xd9")
    with pytest.raises(ValueError, match="EOBn"):
        J.decode_jpeg(payload)


_ENCODE_JPEG_MD5 = {
    ("gray", "444", 0, False): "4b416aad8a538cb070df74bef538dbbc",
    ("gray", "444", 0, True): "2544d282854cf749d9758f0a6bb0c608",
    ("gray", "444", 3, False): "a3aeaef6fd2b4fdb781e08180c70d686",
    ("gray", "444", 3, True): "66820a63975c7a1943a6df4e7411dfff",
    ("rgb", "444", 0, False): "2189c64d2ee90e2e8fee5da99f571990",
    ("rgb", "444", 0, True): "2482f178e9cc29f45085bba5c8eb7567",
    ("rgb", "444", 3, False): "b620525db7f0682b2e9eedf485e41705",
    ("rgb", "444", 3, True): "b4c06df48cefa69306b508b471e5f679",
    ("rgb", "420", 0, False): "c8aa1957c85ad241f3b282aac67bb9a3",
    ("rgb", "420", 0, True): "a4f7ff55b4de8a4b25edd8ef14fd93b2",
    ("rgb", "420", 3, False): "db915007b25cdb5b0238553179832b36",
    ("rgb", "420", 3, True): "8c9276fcc0a03f5bd90ac959fb954d66",
    ("rgb", "422", 0, False): "61184123382d5e051a0855f288d607e8",
    ("rgb", "422", 0, True): "d40e9235a67510a2c8f4e27b1b41436e",
    ("rgb", "422", 3, False): "f571a2292c4ec71936fad7b15240e06c",
    ("rgb", "422", 3, True): "eef2eef3639f89e8c446db7f02e5aa4e",
}


def test_encode_jpeg_bytes_pinned():
    """encode_jpeg's exact bytes over a seeded matrix: gray and RGB,
    each chroma subsampling, restart interval 0 and 3, baseline and
    progressive. A change to quantization, the MCU walk, the scan
    script, the entropy coder or a header shows as a changed digest."""
    import hashlib

    import numpy as np

    from webtableextractionsystem_spark.operators import jpeg as J

    rng = np.random.default_rng(13)
    imgs = {"rgb": rng.integers(0, 256, size=(19, 23, 3), dtype=np.uint8),
            "gray": rng.integers(0, 256, size=(19, 23), dtype=np.uint8)}
    got = {(name, sub, ri, prog): hashlib.md5(J.encode_jpeg(
               imgs[name], 75, restart_interval=ri, subsampling=sub,
               progressive=prog)).hexdigest()
           for name, sub, ri, prog in _ENCODE_JPEG_MD5}
    assert got == _ENCODE_JPEG_MD5


def test_jpeg_fill_bytes_and_lengthless_markers():
    """T.81 B.1.1.2 permits 0xFF fill bytes before any marker, and TEM
    (0x01) / stray RSTn are lengthless — the header walk must not read
    their following bytes as a segment length."""
    import numpy as np

    from webtableextractionsystem_spark.operators import jpeg as J

    rng = np.random.default_rng(33)
    img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    clean = J.encode_jpeg(img, 90)
    want = J.decode_jpeg(clean)
    # insert a fill byte, a TEM marker, and a stray RST4 right after SOI
    patched = clean[:2] + b"\xff" + b"\xff\x01" + b"\xff\xd4" + clean[2:]
    assert np.array_equal(J.decode_jpeg(patched), want)


def test_gif_encode_input_validation():
    """encode_gif rejects non-HxWxC and empty inputs up front instead of
    mis-slicing a 2D array's columns as channels."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import gif as G

    with pytest.raises(ValueError, match="HxWx"):
        G.encode_gif(np.zeros((4, 3), dtype=np.uint8))  # 2D, W==3 trap
    with pytest.raises(ValueError, match="HxWx"):
        G.encode_gif(np.zeros((4, 4, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match="empty"):
        G.encode_gif(np.zeros((0, 5, 3), dtype=np.uint8))


def test_gif_offset_frame_composites_onto_canvas():
    """A first frame smaller than / offset within the logical screen
    composites onto a background-color canvas at (left, top) — what any
    player renders — instead of decoding to frame-only dimensions."""
    import numpy as np

    from webtableextractionsystem_spark.operators import gif as G

    img = np.full((2, 2, 3), 200, np.uint8)
    img[0, 0] = (10, 20, 30)
    enc = bytearray(G.encode_gif(img))
    pal = np.unique(img.reshape(-1, 3), axis=0)  # encoder's palette order
    # patch logical screen to 4x5, background index 0, frame at (1, 2)
    enc[6:8] = (5).to_bytes(2, "little")   # screen width
    enc[8:10] = (4).to_bytes(2, "little")  # screen height
    enc[11] = 0                            # background color index
    desc = enc.index(0x2C)
    enc[desc + 1:desc + 3] = (1).to_bytes(2, "little")  # left
    enc[desc + 3:desc + 5] = (2).to_bytes(2, "little")  # top
    out = G.decode_gif(bytes(enc))
    assert out.shape == (4, 5, 3)
    want = np.broadcast_to(pal[0], (4, 5, 3)).copy()
    want[2:4, 1:3] = img
    assert np.array_equal(out, want)
    # frame exceeding the canvas is corrupt
    enc[6:8] = (2).to_bytes(2, "little")
    import pytest
    with pytest.raises(ValueError, match="beyond logical screen"):
        G.decode_gif(bytes(enc))


def test_avi_missing_avih_falls_back_to_strh_rate():
    """avih is mandatory; without it the decoder derives us_per_frame
    from the video strh's scale/rate instead of silently returning 0,
    and raises when neither source exists."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import video as V

    img = np.full((8, 8, 3), 99, np.uint8)
    payload = bytearray(V.encode_avi_mjpeg([img, img], fps=10))
    # surgically remove the avih chunk (8-byte header + 56-byte body at
    # offset 24: RIFF(12) + 'LIST'+size+'hdrl'(12)) and fix both sizes
    assert payload[24:28] == b"avih"
    removed = 8 + 56
    riff = int.from_bytes(payload[4:8], "little") - removed
    hdrl = int.from_bytes(payload[16:20], "little") - removed
    payload[4:8] = riff.to_bytes(4, "little")
    payload[16:20] = hdrl.to_bytes(4, "little")
    del payload[24:24 + removed]
    frames, us = V.decode_video(bytes(payload))
    assert frames.shape[0] == 2 and us == 100_000  # 1e6 * scale(1)/rate(10)
    # zero the strh rate too -> no usable duration source -> ValueError
    strh = payload.index(b"strh")
    payload[strh + 8 + 24:strh + 8 + 28] = (0).to_bytes(4, "little")
    with pytest.raises(ValueError, match="avih"):
        V.decode_video(bytes(payload))


def test_jpeg_chroma_subsampling_roundtrip():
    """4:2:0 and 4:2:2 — the dominant real-web JPEG forms: round-trips
    at the right shape across odd dimensions and restart intervals, with
    a PSNR floor on a smooth gradient (the representative content class;
    noise is chroma subsampling's designed-in worst case)."""
    import numpy as np

    from webtableextractionsystem_spark.operators import jpeg as J

    gx, gy = np.meshgrid(np.linspace(0, 255, 40), np.linspace(255, 0, 24))
    img = np.stack([gx, gy, np.full_like(gx, 128)], -1).astype(np.uint8)
    for ss, floor in (("420", 30), ("422", 33)):
        for ri in (0, 2):
            out = J.decode_jpeg(
                J.encode_jpeg(img, 90, restart_interval=ri, subsampling=ss))
            assert out.shape == img.shape
            mse = np.mean((out.astype(float) - img.astype(float)) ** 2)
            assert 10 * np.log10(255 ** 2 / mse) > floor, (ss, ri)
    # odd / tiny dims keep exact output shape
    rng = np.random.default_rng(11)
    for shape in [(9, 13, 3), (1, 1, 3), (17, 8, 3), (8, 17, 3)]:
        x = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for ss in ("420", "422"):
            assert J.decode_jpeg(
                J.encode_jpeg(x, 95, subsampling=ss)).shape == shape
    import pytest
    with pytest.raises(ValueError, match="subsampling"):
        J.encode_jpeg(img, 90, subsampling="411")


def test_png_palette_roundtrip_and_errors():
    """Color-type-3 PNG (the real-web icon/sprite form): exact
    round-trips at depths 1/2/4/8 across all five scanline filters;
    malformed palettes diagnose as ValueError."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import multimodal as MM

    rng = np.random.default_rng(3)
    img8 = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    for ft in range(5):
        enc = MM.encode_png(img8, filter_type=ft, depth=8)
        assert np.array_equal(MM.decode_image(enc), img8)
    for depth in (1, 2, 4):
        pal = rng.integers(0, 256, size=(1 << depth, 3), dtype=np.uint8)
        img = pal[rng.integers(0, 1 << depth, size=(11, 7))]
        for ft in (0, 1, 2, 3, 4):
            enc = MM.encode_png(img, filter_type=ft, depth=depth)
            assert np.array_equal(MM.decode_image(enc), img), (depth, ft)
    with pytest.raises(ValueError, match="exceed"):
        MM.encode_png(
            rng.integers(0, 256, size=(30, 30, 3), dtype=np.uint8), depth=2)
    # PLTE stripped out -> missing-palette diagnosis (rebuild the chunk
    # walk without PLTE, CRCs intact)
    enc = bytearray(MM.encode_png(img8, depth=8))
    p = enc.index(b"PLTE") - 4
    ln = int.from_bytes(enc[p:p + 4], "big")
    del enc[p:p + 12 + ln]
    with pytest.raises(ValueError, match="PLTE"):
        MM.decode_image(bytes(enc))


def test_png_adam7_interlace_roundtrip():
    """Adam7 interlacing (PNG spec §8.2): per-pass filtering + scatter
    reassembly round-trips exactly for gray/RGB/RGBA and palette at
    every depth, across odd/tiny dimensions where several passes are
    empty (empty passes contribute zero bytes)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webtableextractionsystem_spark.operators import multimodal as MM

    rng = np.random.default_rng(17)
    for depth in (1, 2, 4, 8):
        pal = rng.integers(0, 256, size=(1 << depth, 3), dtype=np.uint8)
        img = pal[rng.integers(0, 1 << depth, size=(11, 7))]
        out = MM.decode_image(
            MM.encode_png(img, 4, interlace=True, depth=depth))
        assert np.array_equal(out, img), depth

    @settings(max_examples=30, deadline=None)
    @given(h=st.integers(1, 20), w=st.integers(1, 20),
           ch=st.sampled_from([0, 3, 4]), ftype=st.integers(0, 4),
           seed=st.integers(0, 2**31 - 1))
    def check(h, w, ch, ftype, seed):
        r = np.random.default_rng(seed)
        shape = (h, w) if ch == 0 else (h, w, ch)
        img = r.integers(0, 256, size=shape, dtype=np.uint8)
        out = MM.decode_image(
            MM.encode_png(img, filter_type=ftype, interlace=True))
        want = np.repeat(img[..., None], 3, 2) if ch == 0 else img[..., :3]
        assert np.array_equal(out, want)

    check()


def test_avi_zero_usperframe_falls_back_to_strh_rate():
    """An avih that is PRESENT but carries dwMicroSecPerFrame == 0
    (encoders that rely on strh dwScale/dwRate) must fall back to the
    strh pair, not return a silent 0 duration."""
    import numpy as np

    from webtableextractionsystem_spark.operators import video as V

    img = np.full((8, 8, 3), 99, np.uint8)
    payload = bytearray(V.encode_avi_mjpeg([img, img], fps=10))
    assert payload[24:28] == b"avih"
    payload[32:36] = (0).to_bytes(4, "little")  # dwMicroSecPerFrame = 0
    frames, us = V.decode_video(bytes(payload))
    assert frames.shape[0] == 2 and us == 100_000


def test_jpeg_rejects_four_component_frame():
    """A 4-component SOF0 (Adobe CMYK/YCCK) must raise, not have its
    first three planes misread as YCbCr."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    enc = bytearray(J.encode_jpeg(np.full((8, 8, 3), 77, np.uint8), 90))
    sof = enc.index(bytes([0xFF, 0xC0]))
    assert enc[sof + 9] == 3  # ncomp byte of the SOF0 body
    enc[sof + 9] = 4
    with pytest.raises(ValueError, match="4 components"):
        J.decode_jpeg(bytes(enc))


def test_jpeg_encode_validates_subsampling_on_gray_path():
    """An invalid subsampling argument raises on the grayscale path too,
    not only when the input happens to be RGB."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    with pytest.raises(ValueError, match="411"):
        J.encode_jpeg(np.full((8, 8), 50, np.uint8), 90, subsampling="411")


def test_gif_giant_logical_screen_bounded():
    """Logical-screen dims are attacker-controlled header fields; a tiny
    payload declaring 65535x65535 must raise instead of attempting a
    ~12.8 GB canvas allocation."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import gif as G

    enc = bytearray(G.encode_gif(np.full((2, 2, 3), 10, np.uint8)))
    enc[6:8] = (65535).to_bytes(2, "little")
    enc[8:10] = (65535).to_bytes(2, "little")
    with pytest.raises(ValueError, match="decode bound"):
        G.decode_gif(bytes(enc))


def test_real_world_media_goldens_from_reference_repo():
    """The strongest external-interop evidence available in this
    sandbox: the reference repo's manual ships REAL third-party media —
    a 94 KB camera-class baseline JFIF JPEG that is 4:2:0 subsampled
    (the dominant real-web form), a 250 KB GIF89a ANIMATION (first
    frame decoded, real LZW with dictionary growth), and 14 screenshot
    PNGs up to 1920x1030 — all decoded by the pure-stdlib codecs with
    pinned shapes and pixel digests (regression pins: any codec change
    that alters real-file output fails here, not in a synthetic
    round-trip). Files under /root/reference/file/说明书/images/."""
    import hashlib

    from webtableextractionsystem_spark.operators import gif as G
    from webtableextractionsystem_spark.operators import jpeg as J
    from webtableextractionsystem_spark.operators import multimodal as MM

    root = "/root/reference/file/说明书/images"

    jp = open(f"{root}/系统详细设计图.jpg", "rb").read()
    # header check: really 4:2:0 (luma 2x2, chroma 1x1)
    sof = jp.index(bytes([0xFF, 0xC0]))
    assert [(jp[sof + 11 + 3 * c] >> 4, jp[sof + 11 + 3 * c] & 0xF)
            for c in range(jp[sof + 9])] == [(2, 2), (1, 1), (1, 1)]
    img = J.decode_jpeg(jp)
    assert img.shape == (734, 1234, 3)
    assert hashlib.md5(img.tobytes()).hexdigest() == \
        "47dae2abf681af2408a42251df8bc95a"

    gf = open(f"{root}/毕设演示动图.gif", "rb").read()
    assert gf[:6] == b"GIF89a"
    frame = G.decode_gif(gf)
    assert frame.shape == (360, 640, 3)
    assert hashlib.md5(frame.tobytes()).hexdigest() == \
        "bd2189ea53b5af492cbee4bd5c50c268"

    pngs = [
        ("Image-030621-123938.984.png", (377, 687, 3),
         "1ff1d91f7cb5eb5b8f4c989ea7df9765"),
        ("Image-310521-035311.872.png", (290, 1017, 3),
         "32f3e76d9e70cbad1a4b9b24e9fe1112"),
        ("Image-310521-035921.830.png", (287, 1060, 3),
         "daa5a040f7331ec311c1af855f26f5f9"),
        ("Image-310521-040935.896.png", (363, 1099, 3),
         "a53131757d2897b207fc1341670d8faf"),
        ("Image-310521-041507.326.png", (765, 871, 3),
         "b6fce6fc93d9ded0c6730160f4a3daf7"),
        ("Image-310521-092403.844.png", (1030, 1920, 3),
         "596aafd4f2dbdf27d2af315909fd623e"),
        ("Image-310521-092703.097.png", (639, 1078, 3),
         "99fbb8e8f73796f390d99b230a3d52dd"),
        ("Image-310521-094147.996.png", (1030, 1920, 3),
         "f9412bfe2f81b867dacdf8f1615df850"),
        ("Image-310521-094359.589.png", (325, 864, 3),
         "b4ffc6cd34458ee7057d5f5431212e57"),
        ("Image-310521-094515.063.png", (178, 630, 3),
         "e05e15c8dd45433ccbc2cd625cd469f1"),
        ("Image-310521-094553.414.png", (178, 630, 3),
         "e05e15c8dd45433ccbc2cd625cd469f1"),
        ("爬虫详细逻辑图.png", (492, 713, 3),
         "b6a81a7acfdef5b3a5a05c718b041be2"),
        ("表格抽取系统逻辑图.png", (482, 122, 3),
         "f36a2bebc90665ba22b03d64226fb1b5"),
        ("设置页面.png", (323, 1137, 3),
         "0e2c30ed69bb1303c0407e604c381454"),
    ]
    for name, shape, digest in pngs:
        out = MM.decode_image(open(f"{root}/{name}", "rb").read())
        assert out.shape == shape, name
        assert hashlib.md5(out.tobytes()).hexdigest() == digest, name


def test_png_giant_declared_dims_bounded_before_alloc():
    """IHDR dims are untrusted: a tiny payload declaring 65535x65535 must
    raise before the h*w canvas allocation OR the IDAT inflate (the Adam7
    path allocates the full canvas up front)."""
    import zlib

    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import multimodal as MM

    for interlace in (0, 1):
        enc = bytearray(MM.encode_png(np.full((4, 4, 3), 9, np.uint8),
                                      interlace=bool(interlace)))
        sig = len(MM._PNG_SIG)
        # IHDR data starts after sig + 4-byte len + 4-byte type
        ih = sig + 8
        enc[ih:ih + 4] = (65535).to_bytes(4, "big")      # width
        enc[ih + 4:ih + 8] = (65535).to_bytes(4, "big")  # height
        # re-stamp the IHDR CRC so the bound (not the CRC check) fires
        crc = zlib.crc32(bytes(enc[sig + 4:ih + 13])) & 0xFFFFFFFF
        enc[ih + 13:ih + 17] = crc.to_bytes(4, "big")
        with pytest.raises(ValueError, match="decode bound"):
            MM._decode_png(bytes(enc))


def test_png_deflate_bomb_inflate_is_capped():
    """A deflate bomb whose inflated size vastly exceeds the declared
    dims' scanline bytes must raise from the capped inflate, not
    materialize the bomb: tiny declared dims + an IDAT inflating to
    ~64 MB."""
    import zlib

    import pytest

    from webtableextractionsystem_spark.operators import multimodal as MM

    bomb = zlib.compress(b"\x00" * (64 << 20), 9)  # ~64 KB compressed
    ihdr = ((4).to_bytes(4, "big") + (4).to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))  # 4x4 RGB sequential
    payload = (MM._PNG_SIG + MM._png_chunk(b"IHDR", ihdr)
               + MM._png_chunk(b"IDAT", bomb)
               + MM._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="longer than header"):
        MM._decode_png(payload)


def test_jpeg_giant_declared_dims_bounded():
    """SOF0 fh/fw are untrusted; a tiny payload declaring 65535x65535
    must raise before allocating ~50 GB of planes."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    enc = bytearray(J.encode_jpeg(np.full((8, 8, 3), 70, np.uint8), 90))
    sof = enc.index(bytes([0xFF, 0xC0]))
    enc[sof + 5:sof + 7] = (65535).to_bytes(2, "big")  # height
    enc[sof + 7:sof + 9] = (65535).to_bytes(2, "big")  # width
    with pytest.raises(ValueError, match="decode bound"):
        J.decode_jpeg(bytes(enc))


def test_gif_giant_frame_dims_bounded_before_lzw():
    """The pixel bound must fire BEFORE the LZW decode: dictionary
    growth amplifies small crafted inputs, so a 65535x65535 FRAME (not
    just logical screen) must raise at the descriptor."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import gif as G

    enc = bytearray(G.encode_gif(np.full((2, 2, 3), 10, np.uint8)))
    desc = enc.index(0x2C)
    for off in (5, 7):  # frame w, h
        enc[desc + off:desc + off + 2] = (65535).to_bytes(2, "little")
    with pytest.raises(ValueError, match="decode bound"):
        G.decode_gif(bytes(enc))


def test_pdf_roundtrip_and_layout():
    """encode_pdf -> decode_pdf is exact on positions/sizes/text for
    Flate and plain streams, multi-page, with every string-escape class;
    extract_pdf_text orders two-column layouts in reading order no
    matter the content-stream emission order."""
    from webtableextractionsystem_spark.operators import pdf as P

    pages = [
        [(72.0, 720.0, 12.0, "Hello world"),
         (72.0, 700.0, 12.0, "escapes: (parens) \\ back\nnewline"),
         (300.5, 720.0, 10.0, "latin-1: \xe9\xfc\xdf")],
        [(72.0, 720.0, 14.0, "page two")],
    ]
    for compress in (True, False):
        got = P.decode_pdf(P.encode_pdf(pages, compress=compress))
        assert [[(round(x, 2), round(y, 2), s, t) for x, y, s, t in pg]
                for pg in got] == pages

    # two columns, emitted right-column-first: reading order must
    # interleave by line (top-to-bottom, left-to-right)
    twocol = [[(320.0, 720.0, 10.0, "R1"), (320.0, 704.0, 10.0, "R2"),
               (72.0, 720.0, 10.0, "L1"), (72.0, 704.0, 10.0, "L2")]]
    assert P.extract_pdf_text(P.encode_pdf(twocol)) == ["L1 R1\nL2 R2"]


def test_pdf_content_operators_hand_built():
    """The operator set our encoder never emits but real PDFs use:
    TD/T*/'/" line stepping, TJ arrays with kerning numbers, hex
    strings, q/cm/Q graphics-state translation of text space."""
    import zlib

    from webtableextractionsystem_spark.operators import pdf as P

    content = b"""
q 1 0 0 1 10 20 cm
BT
/F1 12 Tf
1 0 0 1 100 700 Tm
[ (ab) -120 (cd) ] TJ
0 -14 TD
(line2) Tj
T*
(line3) Tj
(line4) '
<6869> Tj
ET
Q
BT /F1 9 Tf 5 5 Td (after Q) Tj ET
"""
    data = zlib.compress(content)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 4 0 R ] /Count 1 >>",
        3: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
        4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
        5: (b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(data)
            + data + b"\nendstream"),
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for oid in sorted(objs):
        offs[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for oid in range(1, 6):
        out += b"%010d 00000 n \n" % offs[oid]
    out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
            % xref_at)

    (runs,) = P.decode_pdf(bytes(out))
    # q/cm translates everything by (10, 20); TD sets leading 14
    assert runs == [
        (110.0, 720.0, 12.0, "abcd"),       # TJ concat, kerning dropped
        (110.0, 706.0, 12.0, "line2"),      # TD
        (110.0, 692.0, 12.0, "line3"),      # T*
        (110.0, 678.0, 12.0, "line4"),      # ' (next line + show)
        (110.0, 678.0, 12.0, "hi"),         # hex string, same line
        (5.0, 5.0, 9.0, "after Q"),         # CTM restored by Q
    ]


def test_pdf_embedded_images_roundtrip():
    """Image XObjects: embedded JPEGs (baseline AND progressive) come
    back pixel-exact through extract_pdf_images in both classic and
    modern files and through every transport cascade; raw
    DeviceRGB/DeviceGray sample streams decode; pages without images
    report []; text extraction is unaffected by the Do operators."""
    import numpy as np

    from webtableextractionsystem_spark.operators import pdf as P
    from webtableextractionsystem_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    img1 = rng.integers(0, 256, size=(8, 12, 3), dtype=np.uint8)
    img2 = rng.integers(0, 256, size=(16, 5, 3), dtype=np.uint8)
    j1 = encode_jpeg(img1, quality=90)
    j2 = encode_jpeg(img2, quality=80, progressive=True)
    pages = [[(72.0, 700.0, 12.0, "hello table")],
             [(72.0, 700.0, 12.0, "第二页 表格抽取")]]
    images = [[(j1, 12, 8, 72.0, 600.0)],
              [(j2, 5, 16, 100.0, 500.0), (j1, 12, 8, 300.0, 500.0)]]
    for modern in (False, True):
        for transport in (None, "ASCII85Decode", "FlateDecode",
                          "RunLengthDecode"):
            pdf = P.encode_pdf(pages, modern=modern, images=images,
                               image_transport=transport)
            text = P.extract_pdf_text(pdf)
            assert text[0] == "hello table" and "表格抽取" in text[1]
            got = P.extract_pdf_images(pdf)
            assert [[n for n, _ in pg] for pg in got] == \
                [["Im0"], ["Im0", "Im1"]]
            assert np.array_equal(got[0][0][1], decode_jpeg(j1))
            assert np.array_equal(got[1][0][1], decode_jpeg(j2))
            assert np.array_equal(got[1][1][1], decode_jpeg(j1))
    # no images -> empty per-page lists
    assert P.extract_pdf_images(P.encode_pdf(pages)) == [[], []]

    # raw (no image coding) sample streams: RGB exact, Gray broadcast
    base = P.encode_pdf([[(72.0, 720.0, 12.0, "x")]],
                        images=[[(j1, 12, 8, 72.0, 600.0)]])
    rgb = img1.tobytes()
    raw_obj = (b"<< /Type /XObject /Subtype /Image /Width 12 /Height 8 "
               b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Length %d "
               b">>\nstream\n" % len(rgb) + rgb + b"\nendstream")
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 4 0 R ] /Count 1 >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> "
            b"/XObject << /ImA 6 0 R /ImB 7 0 R >> >> "
            b"/Contents 5 0 R >>"),
        5: b"<< /Length 0 >>\nstream\n\nendstream",
        6: raw_obj,
        7: (b"<< /Type /XObject /Subtype /Image /Width 3 /Height 2 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 6 "
            b">>\nstream\n\x00\x10\x20\x30\x40\x50\nendstream"),
    }
    (pg,) = P.extract_pdf_images(_mini_pdf(objs))
    assert [n for n, _ in pg] == ["ImA", "ImB"]
    assert np.array_equal(pg[0][1], img1)
    assert pg[1][1].shape == (2, 3, 3)
    assert np.array_equal(pg[1][1][:, :, 0],
                          np.array([[0, 16, 32], [48, 64, 80]]))
    assert np.array_equal(pg[1][1][:, :, 0], pg[1][1][:, :, 2])

    import pytest

    # '/Filter [ ]' (legal: zero filters) on an image stream takes the
    # raw-sample path instead of IndexError (review finding)
    empty_filt = dict(objs)
    empty_filt[6] = raw_obj.replace(
        b"/BitsPerComponent 8 ", b"/BitsPerComponent 8 /Filter [ ] ")
    (pg2,) = P.extract_pdf_images(_mini_pdf(empty_filt))
    assert np.array_equal(pg2[0][1], img1)

    # parse-once API: one parse_pdf result feeds both extractors
    doc = P.parse_pdf(P.encode_pdf(pages, images=images))
    assert P.extract_pdf_text(P.encode_pdf(pages, images=images)) == \
        P.layout_pages(P.decode_pdf(doc))
    assert [len(p) for p in P.extract_pdf_images(doc)] == [1, 2]

    # the remaining image codings stay honest named raises (same-length
    # name swap keeps every xref offset valid)
    one = P.encode_pdf([[(72.0, 720.0, 12.0, "x")]],
                       images=[[(j1, 12, 8, 72.0, 600.0)]])
    bad = one.replace(b"/DCTDecode", b"/JPXDecode")
    with pytest.raises(ValueError, match="JPXDecode"):
        P.extract_pdf_images(bad)
    # header/frame dimension disagreement is diagnosed, not mislabeled
    lying = P.encode_pdf([[(72.0, 720.0, 12.0, "x")]],
                         images=[[(j1, 12, 9, 72.0, 600.0)]])
    with pytest.raises(ValueError, match="disagree"):
        P.extract_pdf_images(lying)
    # DCT on a NON-image stream (content) still raises as before
    # (covered by test_pdf_honest_boundaries_and_dos)


def test_pdf_honest_boundaries_and_dos():
    """Encrypted, xref-stream (1.5+), Type0-font, non-Flate-filter and
    deflate-bomb payloads raise ValueError naming the feature; bad xref
    offsets and truncated streams diagnose instead of misparse."""
    import re
    import zlib

    import pytest

    from webtableextractionsystem_spark.operators import pdf as P

    base = P.encode_pdf([[(72.0, 720.0, 12.0, "x")]], compress=False)

    with pytest.raises(ValueError, match="not a PDF"):
        P.decode_pdf(b"GIF89a junk")
    # encrypted: inject /Encrypt into the trailer
    enc = base.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    with pytest.raises(ValueError, match="encrypted"):
        P.decode_pdf(enc)
    # startxref into the middle of an object that is NOT an xref
    # stream: a diagnosed ValueError, never a misparse
    xs = re.sub(rb"startxref\n\d+", b"startxref\n9", base)
    with pytest.raises(ValueError):
        P.decode_pdf(xs)
    # Type0 font
    t0 = base.replace(b"/Subtype /Type1", b"/Subtype /Type0")
    with pytest.raises(ValueError, match="Type0"):
        P.decode_pdf(t0)
    # unsupported filter (image coding): SAME-LENGTH name swap so xref
    # offsets stay valid
    basec = P.encode_pdf([[(72.0, 720.0, 12.0, "x")]], compress=True)
    dct = basec.replace(b"/FlateDecode", b"/DCTDecode  ")
    assert len(dct) == len(basec)
    with pytest.raises(ValueError, match="DCTDecode"):
        P.decode_pdf(dct)
    # Flate bytes routed to the (now-supported) LZW decoder still fail
    # as the contractual ValueError, not silent garbage
    lzw = basec.replace(b"/FlateDecode", b"/LZWDecode  ")
    with pytest.raises(ValueError):
        P.decode_pdf(lzw)

    # deflate bomb in a content stream: inflate is capped. Hand-built so
    # every xref offset is correct.
    bomb = zlib.compress(b"BT ET " * (24 << 20))  # ~67 KB -> ~144 MB
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 4 0 R ] /Count 1 >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
        5: (b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(bomb)
            + bomb + b"\nendstream"),
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for oid in sorted(objs):
        offs[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for oid in range(1, 6):
        out += b"%010d 00000 n \n" % offs[oid]
    out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
            % xref_at)
    with pytest.raises(ValueError, match="inflate bound"):
        P.decode_pdf(bytes(out))


def _mini_pdf(objs: dict) -> bytes:
    """Assemble a classic PDF from {obj_num: body bytes} with a correct
    xref table — shared by the hand-built PDF tests."""
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for oid in sorted(objs):
        offs[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    xref_at = len(out)
    n = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % n
    for oid in range(1, n):
        out += (b"%010d 00000 n \n" % offs[oid]) if oid in offs \
            else b"0000000000 00000 f \n"
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
            % (n, xref_at))
    return bytes(out)


def test_pdf_modern_xref_and_object_streams():
    """PDF 1.5+ structure round-trips bit-identically to the classic
    form: cross-reference STREAM (W=[1,4,2], FlateDecode, PNG Up
    predictor) + catalog/pages/font packed in an OBJECT STREAM. Also:
    hybrid-reference files (classic table + /XRefStm supplement) find
    their compressed objects, and the ObjStm honesty boundaries raise."""
    import re

    import pytest

    from webtableextractionsystem_spark.operators import pdf as P

    pages = [
        [(72.0, 720.0, 12.0, "modern (xref) streams"),
         (300.0, 720.0, 10.0, "right")],
        [(72.0, 700.0, 14.0, "page 2 \xe9")],
    ]
    want = P.decode_pdf(P.encode_pdf(pages))
    for compress in (True, False):
        enc = P.encode_pdf(pages, compress=compress, modern=True)
        assert enc.startswith(b"%PDF-1.5")
        assert b"/Type /ObjStm" in enc and b"/Predictor 12" in enc
        assert b"\ntrailer\n" not in enc  # no classic trailer at all
        assert P.decode_pdf(enc) == want
    assert P.extract_pdf_text(P.encode_pdf(pages, modern=True)) == \
        P.extract_pdf_text(P.encode_pdf(pages))

    # hybrid-reference: a classic-table file whose trailer points at a
    # supplementary xref stream carrying extra type-1 entries. Build it
    # from the modern file: wrap with a classic table that lists NO
    # objects and defers entirely to /XRefStm.
    modern = P.encode_pdf(pages, modern=True)
    m = re.search(rb"startxref\n(\d+)", modern)
    xref_stream_at = int(m.group(1))
    body = modern[:m.start()]
    hybrid = bytearray(body)
    table_at = len(hybrid)
    hybrid += (b"xref\n0 1\n0000000000 65535 f \n"
               b"trailer\n<< /Size 1 /Root 1 0 R /XRefStm %d >>\n"
               b"startxref\n%d\n%%%%EOF" % (xref_stream_at, table_at))
    assert P.decode_pdf(bytes(hybrid)) == want

    # ObjStm-in-ObjStm is rejected (build: point a type-2 entry's
    # container at an object that is itself type-2) — simplest check:
    # a type-2 entry whose container is NOT an ObjStm raises
    notobjstm = modern.replace(b"/Type /ObjStm", b"/Type /NtObjSm")
    with pytest.raises(ValueError, match="object stream"):
        P.decode_pdf(notobjstm)


def test_pdf_modern_review_fixes():
    """Fourth review pass, each PoC pinned: (1) an all-zero /W xref
    stream must raise instead of spinning unboundedly over /Index;
    (2) an ObjStm whose /Length ref points into itself raises
    'circular', not RecursionError; (3) a non-integer /Predictor raises
    ValueError, not TypeError; (4) /DecodeParms predictors apply to
    CONTENT streams too (an Up-predicted page decodes correctly);
    (5) a negative ObjStm pair offset is diagnosed, never parsed from
    the stream tail."""
    import re
    import time
    import zlib

    import pytest

    from webtableextractionsystem_spark.operators import pdf as P

    pages = [[(72.0, 720.0, 12.0, "x")]]
    modern = P.encode_pdf(pages, modern=True)

    # (1) W=[0,0,0] + huge Index: must fail fast
    zw = modern.replace(b"/W [1 4 2]", b"/W [0 0 0]")
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="/W"):
        P.decode_pdf(zw)
    assert time.monotonic() - t0 < 2

    # (3) non-integer predictor
    badp = modern.replace(b"/Predictor 12", b"/Predictor /X")
    with pytest.raises(ValueError, match="predictor"):
        P.decode_pdf(badp)

    # (4) content stream with an Up predictor: build the classic file,
    # swap its content stream for a predictor-coded equivalent
    content = b"BT\n/F1 12 Tf\n1 0 0 1 72 720 Tm\n(x) Tj\nET"
    cols = 16
    pad = (-len(content)) % cols
    padded = content + b" " * pad
    rows = [padded[i:i + cols] for i in range(0, len(padded), cols)]
    pred = bytearray()
    prev = bytes(cols)
    for row in rows:
        pred.append(2)
        pred += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    data = zlib.compress(bytes(pred))
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 4 0 R ] /Count 1 >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
        5: (b"<< /Filter /FlateDecode /DecodeParms << /Predictor 12 "
            b"/Columns %d >> /Length %d >>\nstream\n" % (cols, len(data))
            + data + b"\nendstream"),
    }
    assert P.decode_pdf(_mini_pdf(objs)) == [[(72.0, 720.0, 12.0, "x")]]

    # (2) circular /Length: the CATALOG (object 1) lives inside ObjStm
    # 5, whose own /Length points at object 6 — also inside ObjStm 5.
    # Resolving Root -> obj(1) -> ObjStm 5 -> resolve(Length 6) ->
    # ObjStm 5 again: the guard must diagnose, not RecursionError.
    cat = b"<< /Type /Catalog /Pages 2 0 R >>\n"
    pairs_hdr = b"1 0 6 %d\n" % len(cat)
    stm = pairs_hdr + cat + b"<< /Length 1 >>\n"
    objs2 = {
        2: b"<< /Type /Pages /Kids [] /Count 0 >>",
        5: (b"<< /Type /ObjStm /N 2 /First %d /Length 6 0 R >>\nstream\n"
            % len(pairs_hdr) + stm + b"\nendstream"),
    }
    out = bytearray(b"%PDF-1.5\n")
    offs = {}
    for oid in sorted(objs2):
        offs[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs2[oid] + b"\nendobj\n"
    xref_at = len(out)
    size = 8
    rows = []
    for onum in range(size):
        if onum in offs:
            rows.append((1, offs[onum], 0))
        elif onum == 1:
            rows.append((2, 5, 0))
        elif onum == 6:
            rows.append((2, 5, 1))
        else:
            rows.append((0, 0, 65535))
    xraw = b"".join(bytes([t]) + f2.to_bytes(4, "big")
                    + f3.to_bytes(2, "big") for t, f2, f3 in rows)
    out += (b"7 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
            b"/Length %d >>\nstream\n" % (size, len(xraw)) + xraw
            + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF" % xref_at)
    with pytest.raises(ValueError, match="circular"):
        P.decode_pdf(bytes(out))

    # (5) negative pair offset inside a valid ObjStm: the plain-stream
    # modern file's pair table reads "1 0 2 34 3 78" — flip the SECOND
    # pair's multi-digit offset to a same-length negative so the guard
    # (not a length change) is what fires. The catalog resolves via
    # pair 1, then /Pages (object 2, offset -4) must be diagnosed.
    plainm = P.encode_pdf(pages, compress=False, modern=True)
    m = re.search(rb"/Type /ObjStm /N (\d+) /First (\d+) "
                  rb"/Length (\d+) >>\nstream\n", plainm)
    assert m
    body_at = m.end()
    pair2 = re.compile(rb"(\d+) (\d+) (\d+) (\d+)").match(
        plainm, body_at)
    o_old = pair2.group(4)
    assert len(o_old) > 1  # encoder layout guarantees a 2+-digit offset
    o_new = b"-" + o_old[1:]
    patched = (plainm[:pair2.start(4)] + o_new + plainm[pair2.end(4):])
    with pytest.raises(ValueError, match="missing from its"):
        P.decode_pdf(patched)


def test_pdf_review_fixes_inheritance_inline_images_and_robustness():
    """Review-pass findings, each pinned: (1) /Resources inherited from
    the /Pages root still trips the Type0 guard; (2) inline-image data
    (BI..ID..EI) never reaches the lexer even when it contains
    '(x) Tj'-shaped bytes; (3) a page without /Contents is a blank page,
    not an error; (4) unbalanced Q keeps the CTM; (5) a non-string Tj
    operand and a malformed xref offset raise ValueError, never
    AttributeError/TypeError."""
    import pytest

    from webtableextractionsystem_spark.operators import pdf as P

    def page_objs(content: bytes, font: bytes, resources_on_root: bool):
        res = b"/Resources << /Font << /F1 3 0 R >> >> "
        return {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: (b"<< /Type /Pages /Kids [ 4 0 R ] /Count 1 "
                + (res if resources_on_root else b"") + b">>"),
            3: font,
            4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                + (b"" if resources_on_root else res)
                + b"/Contents 5 0 R >>"),
            5: (b"<< /Length %d >>\nstream\n" % len(content)
                + content + b"\nendstream"),
        }

    simple = b"BT /F1 12 Tf 10 20 Td (ok) Tj ET"
    t1 = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    t0 = b"<< /Type /Font /Subtype /Type0 /BaseFont /X >>"
    # (1) inherited resources: Type1 works, Type0 raises — from the ROOT
    assert P.decode_pdf(_mini_pdf(page_objs(simple, t1, True))) == \
        [[(10.0, 20.0, 12.0, "ok")]]
    with pytest.raises(ValueError, match="Type0"):
        P.decode_pdf(_mini_pdf(page_objs(simple, t0, True)))

    # (2) inline image whose raw data contains text-operator bytes
    ii = (b"BT /F1 12 Tf 10 20 Td (real) Tj ET\n"
          b"BI /W 2 /H 2 /BPC 8 /CS /RGB ID \x00(fake) Tj\xff\x28 EI\n"
          b"BT /F1 12 Tf 10 40 Td (after) Tj ET")
    got = P.decode_pdf(_mini_pdf(page_objs(ii, t1, False)))
    assert got == [[(10.0, 20.0, 12.0, "real"), (10.0, 40.0, 12.0, "after")]]

    # (3) blank page: no /Contents at all
    objs = page_objs(simple, t1, False)
    objs[4] = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
               b"/Resources << /Font << /F1 3 0 R >> >> >>")
    assert P.decode_pdf(_mini_pdf(objs)) == [[]]

    # (4) unbalanced Q: CTM survives (run stays translated by cm)
    uq = b"2 0 0 2 0 0 cm Q BT /F1 12 Tf 1 0 0 1 50 50 Tm (x) Tj ET"
    assert P.decode_pdf(_mini_pdf(page_objs(uq, t1, False))) == \
        [[(100.0, 100.0, 12.0, "x")]]

    # (5a) non-string show operand -> ValueError
    bad = b"BT /F1 12 Tf 5 Tj ET"
    with pytest.raises(ValueError, match="malformed PDF content|not a string"):
        P.decode_pdf(_mini_pdf(page_objs(bad, t1, False)))
    # (5b) non-integer xref offset -> ValueError at parse
    doc = bytearray(_mini_pdf(page_objs(simple, t1, False)))
    at = doc.find(b"\n0000000009")  # first 'n' entry (after the f row)
    first_n = doc.find(b" n \n")    # locate any in-use entry
    row_start = doc.rfind(b"\n", 0, first_n) + 1
    doc[row_start:row_start + 10] = b"00000000xx"
    with pytest.raises(ValueError):
        P.decode_pdf(bytes(doc))


def test_wav_g711_companding_roundtrip_and_boundaries():
    """G.711 u-law/A-law WAV (format tags 7/6): the 256-entry expansion
    tables are self-consistent (every code survives encode(decode(b))
    by VALUE; every interior int16 quantizes within half the largest
    code gap), containers round-trip through encode_wav/decode_audio
    with bounded companding error, and corrupt fmt data raises."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import multimodal as MM

    x = np.arange(-32768, 32768, dtype=np.int16)
    for table in (MM._ULAW_TABLE, MM._ALAW_TABLE):
        enc = MM._g711_encode(x, table)
        dec = table[enc].astype(np.int32)
        err = np.abs(dec - x.astype(np.int32))
        interior = (x >= table.min()) & (x <= table.max())
        gaps = np.diff(np.sort(table.astype(np.int32)))
        assert err[interior].max() <= (gaps.max() + 1) // 2
        back = MM._g711_encode(table.astype(np.int16), table)
        assert (table[back] == table).all()

    sig = (3000 * np.sin(np.arange(200) / 7)).astype(np.int16)
    sig = sig.reshape(-1, 2)
    for codec, bound in (("pcm16", 0), ("ulaw", 64), ("alaw", 64)):
        wav = MM.encode_wav(sig, 8000, codec=codec)
        out, rate = MM.decode_audio(wav)
        assert rate == 8000 and out.shape == sig.shape
        assert np.abs(out.astype(int) - sig.astype(int)).max() <= bound

    with pytest.raises(ValueError):
        MM.encode_wav(sig, 8000, codec="mp3")
    # corrupt G.711 fmt: zero channels
    wav = bytearray(MM.encode_wav(sig, 8000, codec="ulaw"))
    at = wav.find(b"fmt ")
    wav[at + 10:at + 12] = (0).to_bytes(2, "little")  # nchannels = 0
    with pytest.raises(ValueError, match="fmt"):
        MM.decode_audio(bytes(wav))


def test_wav_ima_adpcm_roundtrip_and_boundaries():
    """IMA ADPCM WAV (format tag 0x11): standard block layout (per-
    channel 4-byte headers + 4-byte-word interleaved nibbles) round-
    trips mono and stereo at a 4-bit-codec SNR floor; tail blocks pad
    and the fact chunk trims; corrupt geometry and step indices raise."""
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import multimodal as MM

    rng = np.random.default_rng(3)
    for n, ch in ((200, 1), (313, 2), (57, 1), (56, 2)):
        t = np.arange(n)[:, None]
        sig = (6000 * np.sin(2 * np.pi * 5 * t / 500)
               + rng.integers(-300, 300, size=(n, ch))).astype(np.int16)
        wav = MM.encode_wav(sig, 8000, codec="adpcm")
        out, rate = MM.decode_audio(wav)
        assert rate == 8000 and out.shape == sig.shape
        err = (out.astype(float) - sig.astype(float))
        snr = 10 * np.log10((sig.astype(float) ** 2).mean()
                            / (err ** 2).mean())
        assert snr > 18  # 4-bit predictive codec floor on this signal

    wav = bytearray(MM.encode_wav(
        np.zeros((100, 1), np.int16), 8000, codec="adpcm"))
    # corrupt step index in the first block header
    at = wav.find(b"data") + 8
    wav[at + 2] = 99
    with pytest.raises(ValueError, match="step index"):
        MM.decode_audio(bytes(wav))
    # truncated block
    good = MM.encode_wav(np.zeros((100, 1), np.int16), 8000, codec="adpcm")
    at = good.find(b"data")
    ln = int.from_bytes(good[at + 4:at + 8], "little")
    bad = (good[:at + 4] + (ln - 3).to_bytes(4, "little")
           + good[at + 8:at + 8 + ln - 3])
    with pytest.raises(ValueError):
        MM.decode_audio(bad)


def test_pdf_mutation_fuzz_honest_errors():
    """The PDF parser's contract is 'corrupt data raises ValueError':
    mutate valid classic AND modern payloads (byte flips, truncations,
    chunk deletions) and assert every outcome is either a successful
    decode or a ValueError — never another exception type and never a
    hang. This is the same honesty fuzz the image codecs carry."""
    import numpy as np

    from webtableextractionsystem_spark.operators import pdf as P

    pages = [[(72.0, 720.0, 12.0, "fuzz target (x) \\ <>"),
              (300.0, 700.0, 10.0, "col2")],
             [(72.0, 720.0, 11.0, "p2")]]
    seeds = [P.encode_pdf(pages),
             P.encode_pdf(pages, compress=False),
             P.encode_pdf(pages, modern=True),
             P.encode_pdf(pages, compress=False, modern=True),
             # the §7.4 filter battery: every decoder must hold the
             # decode-or-ValueError contract under mutation too
             P.encode_pdf(pages, stream_filter="LZWDecode"),
             P.encode_pdf(pages, stream_filter="RunLengthDecode",
                          modern=True),
             P.encode_pdf(pages, stream_filter="ASCIIHexDecode"),
             P.encode_pdf(pages,
                          stream_filter=["ASCII85Decode", "FlateDecode"])]
    rng = np.random.default_rng(99)
    n_ok = n_err = 0
    for payload in seeds:
        arr = bytearray(payload)
        for _ in range(120):
            mode = rng.integers(0, 3)
            if mode == 0:  # flip 1-4 bytes
                mut = bytearray(arr)
                for _ in range(int(rng.integers(1, 5))):
                    i = int(rng.integers(0, len(mut)))
                    mut[i] = int(rng.integers(0, 256))
            elif mode == 1:  # truncate
                mut = bytearray(arr[:int(rng.integers(1, len(arr)))])
            else:  # delete a random span
                a = int(rng.integers(0, len(arr) - 1))
                b = int(rng.integers(a + 1, len(arr) + 1))
                mut = bytearray(arr[:a]) + bytearray(arr[b:])
            try:
                P.extract_pdf_text(bytes(mut))
                n_ok += 1
            except ValueError:
                n_err += 1
            # anything else (TypeError, IndexError, RecursionError,
            # zlib.error, struct.error...) propagates and FAILS the test
    assert n_err > 100  # mutations overwhelmingly get diagnosed


def test_pdf_filter_battery_roundtrip_and_boundaries():
    """The §7.4 filter battery beyond Flate: LZWDecode (MSB-first
    9..12-bit codes, /EarlyChange, dictionary reset), ASCIIHexDecode,
    ASCII85Decode, RunLengthDecode, and TIFF predictor 2. Round trips
    over adversarial payload shapes, a differential check against the
    stdlib's independent base85/hex codecs, hand-built spec fixtures,
    and a named-ValueError boundary per malformation class."""
    import base64
    import binascii
    import os
    import random

    import pytest

    from webtableextractionsystem_spark.operators import pdf as P

    random.seed(7)
    payloads = [
        b"", b"a", b"aaaa", b"hello world " * 50,
        bytes(range(256)) * 4,
        b"\0" * 4096,
        "中文内容测试".encode() * 20,
        os.urandom(1000),
        # low-entropy long input: grows the LZW table past 4093 codes,
        # forcing the encoder's mid-stream Clear + the decoder's resync
        bytes(random.randrange(4) for _ in range(9000)),
        # high-entropy long input: ~1 new table entry per code, the
        # fastest route to the 12-bit ceiling
        os.urandom(20000),
    ]
    for d in payloads:
        assert P._ascii_hex_decode(P._ascii_hex_encode(d)) == d
        assert P._ascii85_decode(P._ascii85_encode(d)) == d
        assert P._run_length_decode(P._run_length_encode(d)) == d
        for early in (0, 1):
            assert P._lzw_decode(P._lzw_encode(d, early), early) == d
        # differential for the DECODER: stdlib-produced base85/hex must
        # decode exactly (the encode side IS stdlib a85encode, so an
        # encode-vs-stdlib assert would be tautological)
        assert P._ascii85_decode(base64.a85encode(d) + b"~>") == d
        assert P._ascii_hex_decode(binascii.hexlify(d) + b">") == d

    # spec fixtures
    assert P._ascii85_decode(b"z~>") == b"\0\0\0\0"        # zero shorthand
    assert P._ascii_hex_decode(b"48 65\n6c6C 6f>") == b"Hello"
    assert P._ascii_hex_decode(b"7>") == b"\x70"           # odd pad
    assert P._run_length_decode(b"\x02abc\xfeX\x80") == b"abcXXX"

    # boundaries: every malformation class raises ValueError
    bad = [
        (P._ascii_hex_decode, b"4g>"),        # bad hex char
        (P._ascii_hex_decode, b"48"),         # missing EOD
        (P._ascii85_decode, b"v~>"),          # char past 'u'
        (P._ascii85_decode, b"!z~>"),         # 'z' inside a group
        (P._ascii85_decode, b"uuuuu~>"),      # group value >= 2^32
        (P._ascii85_decode, b"!!"),           # missing EOD
        (P._ascii85_decode, b"!~>"),          # dangling final char
        (P._run_length_decode, b"\x05ab"),    # truncated literal
        (P._run_length_decode, b"\x81"),      # truncated run
        (P._run_length_decode, b"\x00a"),     # missing EOD
        (P._lzw_decode, b""),                 # empty / truncated
        (P._lzw_decode, b"\xff\xff\xff\xff"),  # invalid code
    ]
    for fn, data in bad:
        with pytest.raises(ValueError):
            fn(data)
    with pytest.raises(ValueError):
        P._lzw_early({"EarlyChange": True})   # bool is not 0/1
    with pytest.raises(ValueError):
        P._lzw_early({"EarlyChange": 2})
    # an unknown filter name on the ENCODE side is the contractual
    # ValueError too, not a KeyError (review finding)
    with pytest.raises(ValueError, match="DCTDecode"):
        P.encode_pdf([[(72.0, 720.0, 12.0, "x")]],
                     stream_filter="DCTDecode")
    # the A85 expansion cap: 'z' amplifies 1 byte -> 4, so an 'z'-run
    # stream must hit the inflate bound, not materialize unbounded
    # output (review finding; cap shrunk via monkeypatch for speed)
    orig = P._MAX_STREAM_BYTES
    try:
        P._MAX_STREAM_BYTES = 1 << 10
        with pytest.raises(ValueError, match="inflate bound"):
            P._ascii85_decode(b"z" * 300 + b"~>")
        with pytest.raises(ValueError, match="inflate bound"):
            P._ascii85_decode(b"!!!!!" * 300 + b"~>")
    finally:
        P._MAX_STREAM_BYTES = orig

    # TIFF predictor 2: horizontal differencing decodes as a per-row
    # cumulative sum over 3-component pixels
    import numpy as np

    rows = np.frombuffer(os.urandom(60), np.uint8).reshape(5, 12) \
        .astype(np.int16)
    diff = rows.copy()
    diff[:, 3:] = (rows[:, 3:] - rows[:, :-3]) % 256
    dec = P._apply_predictor(
        diff.astype(np.uint8).tobytes(),
        {"Predictor": 2, "Columns": 4, "Colors": 3})
    assert dec == rows.astype(np.uint8).tobytes()
    with pytest.raises(ValueError):
        P._apply_predictor(b"\0" * 11, {"Predictor": 2, "Columns": 4,
                                        "Colors": 3})  # row mismatch

    # end-to-end: every filter chain through real files, both structures
    pages = [[(72.0, 720.0, 12.0, "hello filters"),
              (300.0, 700.0, 10.0, "col two")]]
    chains = ["FlateDecode", "LZWDecode", "ASCIIHexDecode",
              "ASCII85Decode", "RunLengthDecode",
              ["ASCII85Decode", "FlateDecode"],
              ["ASCIIHexDecode", "LZWDecode"]]
    for chain in chains:
        for modern in (False, True):
            got = P.decode_pdf(
                P.encode_pdf(pages, modern=modern, stream_filter=chain))
            assert [(x, y, s, t) for x, y, s, t in got[0]] == pages[0], \
                (chain, modern)


def test_pdf_type0_identity_h_fonts():
    """Type0/Identity-H composite fonts (§9.7): 2-byte CIDs resolved
    through the /ToUnicode CMap. Round trips cover CJK, mixed
    latin/CJK runs, non-BMP (surrogate-pair destinations), both file
    structures and filtered content streams; the CMap generator emits
    bfranges for consecutive codepoints and bfchars otherwise, so both
    §9.10.3 destination forms are decoded. Boundaries: no /ToUnicode,
    predefined CMap names, odd-length show strings, and unmapped CIDs
    all raise the named ValueError."""
    import pytest

    from webtableextractionsystem_spark.operators import pdf as P

    pages = [
        [(72.0, 720.0, 12.0, "latin only"),
         (72.0, 700.0, 12.0, "表格抽取系统测试"),
         (72.0, 680.0, 11.0, "mixed abc 中文 xyz"),
         (300.0, 720.0, 10.0, "emoji \U0001F600\U0001F601 pair")],
        [(72.0, 720.0, 14.0, "página dos café")],   # latin-1 stays /F1
    ]
    for modern in (False, True):
        for sf in (None, "LZWDecode", ["ASCII85Decode", "FlateDecode"]):
            kw = {"modern": modern}
            if sf is not None:
                kw["stream_filter"] = sf
            got = P.decode_pdf(P.encode_pdf(pages, **kw))
            assert [[(x, y, s, t) for x, y, s, t in pg]
                    for pg in got] == pages, (modern, sf)
    txt = P.extract_pdf_text(P.encode_pdf(pages))
    assert "表格抽取系统测试" in txt[0] and "café" in txt[1]

    # the generated CMap really uses BOTH forms
    cm = P._tounicode_cmap(
        sorted(set("表格抽取系统测试中文abcxyz \U0001F600"))).decode("latin-1")
    assert "beginbfrange" in cm and "beginbfchar" in cm
    # non-BMP chars must be bfchar singletons (their UTF-16 is a
    # surrogate pair; the bfrange increment rule can't span them)
    assert "<D83D" not in cm.split("beginbfrange")[1].split("endbfrange")[0]

    # array-form bfrange: hand-built CMap exercising the explicit list
    cmap = P._parse_tounicode(
        b"2 beginbfrange\n"
        b"<0001> <0002> [<4E2D> <6587>]\n"
        b"<0005> <0006> <0041>\n"
        b"endbfrange\n"
        b"1 beginbfchar\n<0009> <D83DDE00>\nendbfchar\n")
    assert cmap == {1: "中", 2: "文", 5: "A", 6: "B",
                    9: "\U0001F600"}

    # boundaries
    pl = P.encode_pdf([[(72.0, 720.0, 12.0, "中")]])
    with pytest.raises(ValueError, match="ToUnicode"):
        P.decode_pdf(pl.replace(b"/ToUnicode ", b"/ToUnicodX "))
    with pytest.raises(ValueError, match="Identity-H only"):
        P.decode_pdf(pl.replace(b"/Identity-H", b"/Identity-V"))
    with pytest.raises(ValueError, match="bfrange array length"):
        P._parse_tounicode(b"1 beginbfrange\n<0001> <0003> [<41> <42>]\n"
                           b"endbfrange\n")
    with pytest.raises(ValueError, match="bfrange bounds"):
        P._parse_tounicode(b"1 beginbfrange\n<0005> <0001> <0041>\n"
                           b"endbfrange\n")
    # q/Q must save/restore the TEXT state too (§8.4.2 Table 52): a Q
    # restoring only the CTM would leave the wrong font decoder active
    # and show silent mojibake (review finding)
    import re

    qpl = P.encode_pdf([[(72.0, 720.0, 12.0, "中"),
                         (72.0, 700.0, 10.0, "ok")]], compress=False)
    m = re.search(rb"stream\n(BT\n.*?ET)\nendstream", qpl, re.S)
    content = m.group(1)
    # wrap the latin run in q/Q, then re-show the CID string AFTER Q
    # with no intervening Tf — it must decode through /F2 again
    hexshow = re.search(rb"<([0-9A-F]+)> Tj", content).group(0)
    f2sel = re.search(rb"/F2 [\d.]+ Tf", content).group(0)
    crafted = (b"BT\n" + f2sel + b"\n1 0 0 1 72 720 Tm\n"
               + b"q\n/F1 10 Tf\n(ok) Tj\nQ\n" + hexshow + b"\nET")
    doc2 = P._Doc(qpl)
    page2 = doc2.pages()[0]
    decs2 = {k: P._font_decoder(doc2, v)
             for k, v in doc2.page_fonts(page2).items()}
    runs2 = P._interpret_content(crafted, decs2)
    assert [r[3] for r in runs2] == ["ok", "中"]

    # a malformed bfrange entry (missing destination) must raise, not
    # misalign onto the next entry's bounds (review finding)
    with pytest.raises(ValueError, match="malformed PDF ToUnicode"):
        P._parse_tounicode(b"2 beginbfrange\n<0001> <0002>\n"
                           b"<0003> <0004> <0041>\nendbfrange\n")
    # >65535 unique non-latin-1 chars must fail at ENCODE time (a
    # 5-hex-digit CID would misframe the show strings)
    big = "".join(chr(0x20000 + i) for i in range(0x10100))
    assert len(set(big)) > 0xFFFF
    with pytest.raises(ValueError, match="65535"):
        P.encode_pdf([[(72.0, 720.0, 8.0, big)]])

    # unmapped CID + odd-length show string through a real decoder
    doc = P._Doc(pl)
    page = doc.pages()[0]
    decs = {k: P._font_decoder(doc, v)
            for k, v in doc.page_fonts(page).items()}
    f2 = decs["F2"]
    with pytest.raises(ValueError, match="missing from the /ToUnicode"):
        f2(b"\x00\x99")
    with pytest.raises(ValueError, match="odd-length"):
        f2(b"\x00")


def test_pdf_file_level_hardening_fixes():
    """File-level review findings, each with a repro: incremental-
    update precedence (an older classic table must not override a
    newer xref stream's type-2 entry), inline images with boolean /
    array header values are VALID, unescaped CR/CRLF in literal
    strings normalizes to 0x0A (§7.3.4.2), truncated Flate raises
    instead of yielding silent partial text, a doubling page tree is
    rejected instead of walking 2^63 nodes, and bool-as-int /Length
    raises."""
    import re
    import time
    import zlib

    import pytest

    from webtableextractionsystem_spark.operators import pdf as P

    base = P.encode_pdf([[(72.0, 720.0, 12.0, "v2 text")]], modern=True)

    # (1) incremental precedence: append an OLDER-style classic table
    # mapping the ObjStm-packed catalog (obj 1) to a bogus offset; the
    # newer xref stream (parsed first) must win. Build: new startxref
    # still points at the xref stream, whose dict gets /Prev to our
    # appended table. Simpler equivalent unit check: simulate the map
    # fill order directly.
    doc = P._Doc(base)
    assert 1 in doc.in_stream          # catalog is type-2 packed
    before = dict(doc.in_stream)
    # replay an older table section claiming object 1 at offset 0
    lx = P._Lexer(b"1 1\n0000000000 00000 n \ntrailer\n<< /Size 9 "
                  b"/Root 1 0 R >>", 0)
    doc._parse_xref_table(lx)
    assert 1 not in doc.offsets        # older entry did NOT override
    assert doc.in_stream == before

    # (2) inline image with boolean + array header values
    content = (b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (a) Tj ET\n"
               b"BI /IM true /W 1 /H 1 /BPC 1 /D [1 0] ID \x00 EI\n"
               b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (b) Tj ET")
    runs = P._interpret_content(content)
    assert [r[3] for r in runs] == ["a", "b"]

    # (3) unescaped EOLs in literal strings -> 0x0A
    assert P._Lexer(b"(l1\r\nl2\rl3\nl4)", 0).token() == b"l1\nl2\nl3\nl4"

    # (4) truncated Flate raises, never partial text
    full = zlib.compress(b"BT /F1 10 Tf (hello) Tj ET" * 50)
    with pytest.raises(ValueError, match="truncated PDF Flate"):
        P._flate_decode(full[:-8])

    # (5) doubling page tree: 40 Pages nodes, each /Kids [next next] —
    # 2^40 leaf visits without the repeat guard; must raise fast
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    for k in range(2, 42):
        objs[k] = (f"<< /Type /Pages /Kids [ {k + 1} 0 R {k + 1} 0 R ] "
                   f"/Count 2 >>").encode()
    objs[42] = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b">>")
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for oid in sorted(objs):
        offsets[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for oid in range(1, len(objs) + 1):
        out += b"%010d 00000 n \n" % offsets[oid]
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n"
            b"%%%%EOF" % (len(objs) + 1, xref_at))
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="repeats a node"):
        P.decode_pdf(bytes(out))
    assert time.monotonic() - t0 < 2.0

    # (6) '/Length true' must raise, not read 1 byte
    classic = P.encode_pdf([[(72.0, 720.0, 12.0, "x")]], compress=False)
    m = re.search(rb"/Length (\d\d)", classic)
    swapped = classic.replace(b"/Length " + m.group(1),
                              b"/Length tru", 1)  # same byte length
    with pytest.raises(ValueError):
        P.decode_pdf(swapped)


def test_pdf_filter_codecs_property_roundtrip():
    """Hypothesis property: for ARBITRARY byte strings, every §7.4
    filter codec round-trips exactly (both LZW EarlyChange values, and
    the full-table LZW mode) — the generative complement of the seeded
    fuzz, which can only sample shapes someone thought of."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webtableextractionsystem_spark.operators import pdf as P

    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=4096))
    def check(data):
        assert P._ascii_hex_decode(P._ascii_hex_encode(data)) == data
        assert P._ascii85_decode(P._ascii85_encode(data)) == data
        assert P._run_length_decode(P._run_length_encode(data)) == data
        for early in (0, 1):
            assert P._lzw_decode(P._lzw_encode(data, early), early) \
                == data
        assert P._lzw_decode(
            P._lzw_encode(data, 1, full_tables=True), 1) == data

    check()


def test_pdf_round6_review_fixes():
    """Round-6 whole-round review findings, each with a repro: (1) Q
    must restore `leading` (TL) too, or T* after Q steps by the stale
    inner leading; (2) full-table LZW streams (Clear deferred until
    4096 entries, permitted by §7.4.4.2) must decode, not raise at the
    width recomputation; (3) ToUnicode CMap parsing must be linear —
    a large crafted block parses in bounded time (the per-entry slice
    was quadratic: 23.5 s for 2.8 MB)."""
    import os
    import random
    import time

    from webtableextractionsystem_spark.operators import pdf as P

    # (1) leading save/restore: TL 20 outside, TL 5 inside q/Q; the
    # T* after Q must step by 20 (y=700), not the stale 5 (y=715)
    content = (b"BT /F1 10 Tf 20 TL 1 0 0 1 72 720 Tm (a) Tj "
               b"q 5 TL Q T* (b) Tj ET")
    runs = P._interpret_content(content)
    assert [(r[3], r[1]) for r in runs] == [("a", 720.0), ("b", 700.0)]

    # (2) full-table LZW: low-entropy long input -> >4095 table
    # entries before the deferred Clear, both EarlyChange values
    random.seed(11)
    data = bytes(random.randrange(5) for _ in range(40000))
    for early in (0, 1):
        enc = P._lzw_encode(data, early, full_tables=True)
        assert P._lzw_decode(enc, early) == data

    # (3) linear CMap parse: 200k-entry bfchar block (~2.8 MB, all
    # mapping one CID so the entry cap never trips) must parse fast
    block = (b"200000 beginbfchar\n"
             + b"<0001> <4E2D>\n" * 200000 + b"endbfchar\n")
    t0 = time.monotonic()
    cmap = P._parse_tounicode(block)
    assert cmap == {1: "中"}
    assert time.monotonic() - t0 < 5.0


def test_pdf_lzw_earlychange_parm_hand_built():
    """/DecodeParms << /EarlyChange 0 >> must reach the LZW decoder: an
    early=0 stream decoded with the early=1 default desynchronizes the
    code width exactly at table size 511, so this fixture (long enough
    to cross that boundary) passes ONLY if the parm is honored."""
    import zlib

    import pytest

    from webtableextractionsystem_spark.operators import pdf as P

    # >511 distinct table entries: varied text, ~2KB
    text = b" ".join(b"tok%d" % i for i in range(600))
    content = b"BT /F1 10 Tf 1 0 0 1 72 720 Tm (" + \
        text.replace(b"(", b"").replace(b")", b"") + b") Tj ET"
    data = P._lzw_encode(content, early=0)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 4 0 R ] /Count 1 >>",
        3: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>"),
        4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
        5: (b"<< /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >> "
            b"/Length %d >>\nstream\n" % len(data) + data
            + b"\nendstream"),
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for oid in sorted(objs):
        offsets[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for oid in range(1, 6):
        out += b"%010d 00000 n \n" % offsets[oid]
    out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
            % xref_at)
    got = P.decode_pdf(bytes(out))
    assert got[0][0][3].encode("latin-1") == text
    # the desync really exists: the same stream via the early=1 default
    # must NOT silently decode to the same text (a wrong-width read
    # yields either garbage or an invalid-code ValueError)
    try:
        assert P._lzw_decode(data, early=1) != content
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# round-6 file-level review regressions: degenerate media payloads
# ---------------------------------------------------------------------------


def test_ppm_low_maxval_rescales_to_8bit():
    """Spec-valid P6 with maxval<255 must rescale: an all-maxval (white)
    image decodes to 255s, not raw low-intensity sample bytes."""
    payload = b"P6\n2 2\n15\n" + bytes([15] * 12)
    img = MM._decode_ppm(payload)
    assert img.shape == (2, 2, 3)
    assert img.max() == img.min() == 255
    mid = b"P6\n1 1\n15\n" + bytes([7, 0, 15])
    assert MM._decode_ppm(mid)[0, 0].tolist() == [7 * 255 // 15, 0, 255]


def test_bmp_zero_dims_raise():
    import numpy as np
    import pytest

    good = MM.encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    bad = bytearray(good)
    bad[18:22] = (0).to_bytes(4, "little")  # biWidth = 0
    with pytest.raises(ValueError, match="dimensions"):
        MM._decode_bmp(bytes(bad))


def test_decode_audio_degenerate_wavs_raise():
    import numpy as np
    import pytest

    wav = bytearray(MM.encode_wav(np.ones((4, 1), dtype=np.int16), 8000))
    # fmt chunk starts at 12+8; dwSamplesPerSec at fmt+4
    assert wav[12:16] == b"fmt "
    rate0 = bytearray(wav)
    rate0[24:28] = (0).to_bytes(4, "little")
    with pytest.raises(ValueError, match="sample rate"):
        MM.decode_audio(bytes(rate0))
    empty = MM.encode_wav(np.zeros((0, 1), dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="empty WAV data"):
        MM.decode_audio(bytes(empty))


def test_frame_sample_skips_audio_and_frameless_media(spark):
    rows = [
        ("m://img", "image", bytearray(b""),
         {"width": 1, "height": 1, "n_frames": 1, "sample_rate": 0,
          "mime": "image/bmp"}),
        ("m://vid", "video", bytearray(b""),
         {"width": 1, "height": 1, "n_frames": 4, "sample_rate": 5,
          "mime": "video/x-msvideo"}),
        # audio reuses n_frames as the SAMPLE count — must not explode
        ("m://wav", "audio", bytearray(b""),
         {"width": 0, "height": 0, "n_frames": 500, "sample_rate": 8000,
          "mime": "audio/wav"}),
        # frame-less media must emit no rows, not a phantom frame 0
        ("m://nil", "video", bytearray(b""),
         {"width": 1, "height": 1, "n_frames": 0, "sample_rate": 5,
          "mime": "video/x-msvideo"}),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA)
    got = {(r["media_ref"], r["frame_idx"])
           for r in MM.frame_sample(media, every_n=2).collect()}
    assert got == {("m://img", 0), ("m://vid", 0), ("m://vid", 2)}


def test_jpeg_oversized_dc_size_symbol_raises_baseline():
    """T.81 F.1: DC size (SSSS) is at most 11 at 8-bit precision — a
    corrupt table symbol of 100 must raise ValueError, not overflow
    the coefficient store with a 2^100 magnitude (an OverflowError
    would escape callers that handle the codecs' ValueError)."""
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    dqt = b"\xff\xdb\x00\x43\x00" + b"\x01" * 64
    dht_dc = b"\xff\xc4\x00\x14\x00" + bytes([1] + [0] * 15) + b"\x64"
    dht_ac = b"\xff\xc4\x00\x14\x10" + bytes([1] + [0] * 15) + b"\x00"
    sof = b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    sos = b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    payload = (b"\xff\xd8" + dqt + dht_dc + dht_ac + sof + sos
               + b"\x00\xff\xd9")
    with pytest.raises(ValueError, match="DC size symbol"):
        J.decode_jpeg(payload)


def _entropy_bytes(bits: str) -> bytes:
    """Pack a bit string into entropy-coded bytes with 0xFF stuffing
    and 1-fill padding (T.81 F.1.2.3)."""
    bits = bits + "1" * (-len(bits) % 8)
    out = bytearray()
    for i in range(0, len(bits), 8):
        b = int(bits[i:i + 8], 2)
        out.append(b)
        if b == 0xFF:
            out.append(0x00)
    return bytes(out)


def test_progressive_jpeg_dc_predictor_overflow_raises():
    """SOF2 DC scans accumulate the predictor across blocks into an
    int32 store (shifted by Al): legit-sized diffs repeated across
    blocks must raise past the range check, not wrap silently
    (numpy<2) or OverflowError (numpy>=2)."""
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    dqt = b"\xff\xdb\x00\x43\x00" + b"\x01" * 64
    # single 1-bit DC code for size 11 (max legit diff 2047)
    dht_dc = b"\xff\xc4\x00\x14\x00" + bytes([1] + [0] * 15) + b"\x0b"
    # 8x136 gray SOF2 -> 17 blocks; 17 * 2047 = 34799 > 2^15
    sof = b"\xff\xc2\x00\x0b\x08\x00\x08\x00\x88\x01\x01\x11\x00"
    sos = b"\xff\xda\x00\x08\x01\x01\x00\x00\x00\x00"  # Ss=Se=0, Ah=Al=0
    entropy = _entropy_bytes(("0" + "1" * 11) * 17)
    payload = (b"\xff\xd8" + dqt + dht_dc + sof + sos + entropy
               + b"\xff\xd9")
    with pytest.raises(ValueError, match="DC predictor out of range"):
        J.decode_jpeg(payload)


def test_encode_jpeg_rejects_16bit_dim_overflow():
    import numpy as np
    import pytest

    from webtableextractionsystem_spark.operators import jpeg as J

    with pytest.raises(ValueError, match="65535"):
        J.encode_jpeg(np.zeros((70000, 8), dtype=np.uint8))
    with pytest.raises(ValueError, match="65535"):
        J.encode_jpeg(np.zeros((8, 70000, 3), dtype=np.uint8),
                      progressive=True)
