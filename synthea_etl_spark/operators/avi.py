"""Motion-JPEG video in an AVI (RIFF) container — REAL compressed
video decode, pure Python + numpy, no av library.

Beyond-reference multimodal surface (the reference repo has no media
code; builder's-brief LLM-pipeline scope). Public knowledge only: the
RIFF/AVI file layout from the public multimedia programming interface
spec (LIST hdrl / avih / strl / strh / strf, LIST movi, '##dc' frame
chunks, even-size padding) and the OpenDML MJPEG convention that
frames are baseline JPEGs which MAY omit their Huffman tables (the
decoder must then supply the T.81 Annex-K defaults —
operators/jpeg.ensure_huffman_tables).

With operators/jpeg.py able to decode baseline AND progressive JPEG,
an MJPEG AVI decodes end-to-end with no codec stub: container walk
here, per-frame entropy decode there. Remaining undecodable video is
inter-frame codecs (H.26x/VP/AV1) only.

Strict-reject + bomb-cap posture matches the other decoders: ragged
chunks, wrong handler, frame/container dimension mismatch, or any
frame that fails JPEG decode return None; frame count and declared
raster are capped before allocation.
"""

from __future__ import annotations

import struct

from synthea_etl_spark.operators.jpeg import (
    decode_jpeg_pixels,
    ensure_huffman_tables,
)

_AVI_MAX_FRAMES = 4096
_AVI_MAX_PIXELS = 1 << 24  # per-frame cap, same as the image decoders


def _chunks(b: bytes, pos: int, end: int):
    """Iterate RIFF chunks (fourcc, payload) in b[pos:end]; yields
    nothing further on a ragged chunk (caller checks coverage)."""
    while pos + 8 <= end:
        cc = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if pos + 8 + size > end:
            return
        yield cc, b[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size % 2)  # chunks pad to even offsets


def parse_avi_mjpeg(
    b: bytes,
) -> tuple[int, int, list[float]] | None:
    """Parse an MJPEG AVI into (width, height, frames) where frames
    is a list of (mean_r, mean_g, mean_b) tuples, one per '##dc'
    chunk in movi order. Every frame must be a decodable JPEG of
    exactly the container's declared dimensions (DHT-less frames get
    the Annex-K defaults per the MJPEG convention); anything else
    returns None."""
    b = bytes(b)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    riff_size = int.from_bytes(b[4:8], "little")
    if riff_size + 8 > len(b):
        return None
    width = height = None
    handler_ok = False
    movi: list[bytes] = []
    saw_movi = False
    for cc, payload in _chunks(b, 12, min(len(b), riff_size + 8)):
        if cc != b"LIST" or len(payload) < 4:
            continue  # idx1 / JUNK / unknown top-level chunks skip
        list_type = payload[:4]
        if list_type == b"hdrl":
            for cc2, p2 in _chunks(payload, 4, len(payload)):
                if cc2 == b"avih" and len(p2) >= 40:
                    width = int.from_bytes(p2[32:36], "little")
                    height = int.from_bytes(p2[36:40], "little")
                elif cc2 == b"LIST" and p2[:4] == b"strl":
                    fcc_type = fcc_handler = compression = None
                    for cc3, p3 in _chunks(p2, 4, len(p2)):
                        if cc3 == b"strh" and len(p3) >= 8:
                            fcc_type = p3[0:4]
                            fcc_handler = p3[4:8]
                        elif cc3 == b"strf" and len(p3) >= 20:
                            compression = p3[16:20]
                    if fcc_type == b"vids" and (
                        (fcc_handler or b"").upper() == b"MJPG"
                        or (compression or b"").upper() == b"MJPG"
                    ):
                        handler_ok = True
        elif list_type == b"movi":
            saw_movi = True
            for cc2, p2 in _chunks(payload, 4, len(payload)):
                # video frame chunks: '##dc' (compressed) / '##db'
                if cc2[2:4] in (b"dc", b"db") and cc2[:2].isdigit():
                    movi.append(p2)
                    if len(movi) > _AVI_MAX_FRAMES:
                        return None
    if not (handler_ok and saw_movi and movi):
        return None
    if not width or not height or width * height > _AVI_MAX_PIXELS:
        return None
    frames: list[tuple[float, float, float]] = []
    for raw in movi:
        dec = decode_jpeg_pixels(ensure_huffman_tables(raw))
        if dec is None:
            return None
        fw, fh, mr, mg, mb = dec
        if (fw, fh) != (width, height):
            return None  # frame disagrees with the container header
        frames.append((mr, mg, mb))
    return (width, height, frames)


def encode_avi_mjpeg(
    width: int,
    height: int,
    jpeg_frames: list[bytes],
    fps: int = 25,
    strip_dht: bool = False,
) -> bytes:
    """Encoder twin: wrap ready-made JPEG payloads into a spec-valid
    single-stream MJPEG AVI (LIST hdrl with avih + strl/strh/strf,
    LIST movi with '00dc' chunks, trailing idx1). ``strip_dht=True``
    removes every DHT segment from the frames first — producing the
    DHT-less streams real MJPEG hardware emits, which the parser must
    decode via the Annex-K default-table convention."""

    def chunk(cc: bytes, payload: bytes) -> bytes:
        return cc + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) % 2 else b""
        )

    def lst(list_type: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", list_type + payload)

    frames = []
    for f in jpeg_frames:
        if strip_dht:
            f = _remove_dht(f)
        frames.append(f)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, 0, 0, 0x10, len(frames), 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIi4h", 0, 0, 0, 0, 1, fps, 0,
                      len(frames), 0, 10000, -1, 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3,
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_payload = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_payload)
    # idx1: one entry per frame (fourcc, flags=KEYFRAME, offset, size)
    idx = bytearray()
    off = 4  # offsets are relative to the start of the movi list data
    for f in frames:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) % 2)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


AVI_FRAME_STATS_SCHEMA = (
    "id long, frame_idx int, n_frames int, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def avi_frame_stats(df, every_n: int = 1):
    """REAL distributed compressed-video decode: parse_avi_mjpeg per
    payload, keeping every ``every_n``-th frame — the same 1-to-many
    shape as video_frame_stats (Y4M) and gif_frame_stats. Malformed
    payloads yield a single null-stats row."""
    from synthea_etl_spark.operators.multimodal import payload_rows

    def rows(b):
        parsed = parse_avi_mjpeg(b)
        if parsed is None:
            return None
        w, h, frames = parsed
        return [
            (fi, len(frames), w, h, *frames[fi])
            for fi in range(0, len(frames), every_n)
        ]

    return payload_rows(df, AVI_FRAME_STATS_SCHEMA, rows)


def _remove_dht(b: bytes) -> bytes:
    """Strip every DHT segment from a JPEG stream (the MJPEG
    hardware convention ensure_huffman_tables reverses)."""
    out = bytearray(b[:2])
    pos = 2
    n = len(b)
    while pos + 2 <= n:
        if b[pos] != 0xFF:
            break
        marker = b[pos + 1]
        if marker == 0xDA:
            out += b[pos:]  # SOS: entropy data follows to EOI
            return bytes(out)
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            out += b[pos : pos + 2]
            pos += 2
            continue
        seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
        seg = b[pos : pos + 2 + seglen]
        pos += 2 + seglen
        if marker != 0xC4:
            out += seg
    return bytes(out)
