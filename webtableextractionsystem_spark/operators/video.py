"""Real video container support: Motion-JPEG in AVI, pure stdlib.

With the baseline JPEG codec (operators/jpeg.py) in place, MJPEG video
is just a RIFF/AVI container walk plus one JPEG decode per frame — no
external libraries. This turns the video modality from plumbing-only
(frame_sample over metadata) into a REAL decode path, same discipline
as the image/audio codecs:

* ``encode_avi_mjpeg`` builds a minimal standard AVI (hdrl with
  avih/strh/strf, movi with one '00dc' chunk per JPEG frame) that the
  paired decoder — and any MJPEG-capable player — can read;
* ``decode_video`` walks the RIFF tree, validates the MJPG fourcc, and
  decodes every frame; corrupt containers raise ValueError, non-AVI
  magic and non-MJPEG codecs raise NotImplementedError (the same
  corrupt-vs-unsupported taxonomy as decode_image/decode_audio).

Container layout from the public AVI RIFF spec (Microsoft "AVI RIFF
File Reference"); JPEG per ITU T.81 via operators/jpeg.py.
"""

from __future__ import annotations

import numpy as np

from .jpeg import decode_jpeg, encode_jpeg


def _chunk(fourcc: bytes, data: bytes) -> bytes:
    """One RIFF chunk: the writer shared by the AVI and WAV encoders."""
    pad = b"\x00" if len(data) % 2 else b""  # RIFF chunks are word-aligned
    return fourcc + len(data).to_bytes(4, "little") + data + pad


def _chunks(data: bytes, off: int, end: int):
    """Yield (fourcc, body_start, body_end) per RIFF chunk in
    data[off:end], skipping pad bytes: the walker shared by the AVI and
    WAV decoders. A chunk running past ``end`` raises ValueError."""
    while off + 8 <= end:
        size = int.from_bytes(data[off + 4:off + 8], "little")
        body_end = off + 8 + size
        if body_end > end:
            raise ValueError("truncated RIFF chunk")
        yield data[off:off + 4], off + 8, body_end
        off = body_end + size % 2


def _list(fourcc: bytes, data: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + data)


def encode_avi_mjpeg(frames: list[np.ndarray] | np.ndarray,
                     fps: int = 10, quality: int = 85) -> bytes:
    """[n] HxWx3 uint8 frames -> minimal MJPEG AVI payload."""
    frames = list(frames)
    if not frames:
        raise ValueError("empty frame list")
    if not 1 <= fps <= 1000:
        raise ValueError(f"fps {fps} out of range")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("all frames must share one size")
    jpegs = [encode_jpeg(f, quality) for f in frames]
    max_size = max(len(j) for j in jpegs)
    us_per_frame = 1_000_000 // fps

    avih = (us_per_frame.to_bytes(4, "little")
            + (max_size * fps).to_bytes(4, "little")
            + (0).to_bytes(4, "little")          # padding granularity
            + (0).to_bytes(4, "little")          # flags: NO index chunk
            + len(jpegs).to_bytes(4, "little")
            + (0).to_bytes(4, "little")          # initial frames
            + (1).to_bytes(4, "little")          # streams
            + max_size.to_bytes(4, "little")
            + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + b"\x00" * 16)                      # reserved
    strh = (b"vids" + b"MJPG"
            + b"\x00" * 12     # dwFlags + wPriority + wLanguage + dwInitial
            + (1).to_bytes(4, "little")           # scale
            + fps.to_bytes(4, "little")           # rate (fps = rate/scale)
            + (0).to_bytes(4, "little")           # start
            + len(jpegs).to_bytes(4, "little")    # length in frames
            + max_size.to_bytes(4, "little")
            + (0xFFFFFFFF).to_bytes(4, "little")  # quality: default
            + (0).to_bytes(4, "little")           # sample size
            + (0).to_bytes(4, "little")           # rcFrame left/top
            + w.to_bytes(2, "little") + h.to_bytes(2, "little"))
    strf = ((40).to_bytes(4, "little")
            + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + b"MJPG" + (w * h * 3).to_bytes(4, "little")
            + b"\x00" * 16)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(b"00dc", j) for j in jpegs))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_video(payload: bytes) -> tuple[np.ndarray, int]:
    """MJPEG AVI payload -> ([n, h, w, 3] uint8 frames, us_per_frame).
    Corrupt containers raise ValueError; non-AVI magic or a non-MJPEG
    video codec raises NotImplementedError."""
    if payload[:4] != b"RIFF":
        raise NotImplementedError(
            "only RIFF/AVI (MJPEG) video is decodable without libraries")
    if len(payload) < 12:
        raise ValueError("truncated RIFF header")  # corrupt, not foreign
    if payload[8:12] != b"AVI ":
        raise NotImplementedError(
            f"RIFF form {payload[8:12]!r} is not AVI")

    us_per_frame = None
    scale_rate: list[tuple[int, int]] = []
    fourccs: list[bytes] = []
    raw_frames: list[bytes] = []

    # an explicit stack of chunk iterators, not recursion: a LIST body
    # is walked before its parent's next chunk (document order for
    # avih, strh and frames), and LIST nesting depth is bounded only by
    # the payload size
    stack = [_chunks(payload, 12, len(payload))]
    while stack:
        for cid, body, body_end in stack[-1]:
            if cid == b"LIST":
                stack.append(_chunks(payload, body + 4, body_end))
                break
            if cid == b"avih":
                us_per_frame = int.from_bytes(payload[body:body + 4], "little")
            elif cid == b"strh" and payload[body:body + 4] == b"vids":
                strh = payload[body:body + 28]
                fourccs.append(strh[4:8])
                # dwScale/dwRate (fps = rate/scale) live after
                # fccType+handler+dwFlags+wPriority+wLanguage+dwInitial
                scale_rate.append((int.from_bytes(strh[20:24], "little"),
                                   int.from_bytes(strh[24:28], "little")))
            elif cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                raw_frames.append(payload[body:body_end])
        else:
            stack.pop()
    if not us_per_frame:
        # avih absent OR dwMicroSecPerFrame == 0 (encoders that rely on
        # strh dwScale/dwRate): fall back to the video strh's rate/scale
        # pair rather than silently reporting a 0 us frame duration
        derived = [1_000_000 * s // r for s, r in scale_rate if r and s]
        if not derived:
            raise ValueError(
                "AVI frame duration unrecoverable: avih absent or its "
                "dwMicroSecPerFrame is 0, and no usable strh "
                "scale/rate to derive it")
        us_per_frame = derived[0]
    # codec validation BEFORE any frame decode: a foreign codec must
    # diagnose as unsupported, not as "frame is not JPEG" corruption —
    # and a container with NO video stream header at all is corrupt
    if not fourccs:
        raise ValueError("AVI missing its video stream header (strh)")
    foreign = [f for f in fourccs if f not in (b"MJPG", b"mjpg")]
    if foreign:
        raise NotImplementedError(
            f"AVI video codec {foreign[0]!r} unsupported (MJPEG only)")
    if not raw_frames:
        raise ValueError("AVI container has no video frames")
    frames = []
    for raw in raw_frames:
        if raw[:2] != b"\xff\xd8":
            raise ValueError("AVI MJPEG frame chunk is not JPEG data")
        frames.append(decode_jpeg(raw))
    if any(f.shape != frames[0].shape for f in frames):
        raise ValueError("AVI frames disagree on dimensions")
    return np.stack(frames), us_per_frame
