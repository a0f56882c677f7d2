"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode/feature-extraction as Arrow-batched pandas stages
(beyond-reference surface; BASELINE.json north star).

Media (image/audio/video) is carried as a `binary` column plus a typed
metadata struct — the layout that works at 100 TB: payloads stay
columnar in parquet, metadata predicates (content_type, n_bytes,
width...) prune row groups WITHOUT touching payload bytes, and decode
runs distributed via mapInPandas (Arrow batches, bounded memory per
task via maxRecordsPerBatch).

No image/audio codec library is a dependency. Every per-payload
decoder runs through one stage, ``payload_rows``: the operator gives
it a function from one payload to its output rows, and the stage owns
the batch loop, the null-row contract and the Arrow conversion.
``decode_features`` is a deterministic byte-level feature pass (the
payload-plumbing smoke path), not a media decode; it and
``resize_payloads`` keep their own batch loops (whole-batch numpy, and
a null row that carries the input ``meta``).

These paths are REAL, no codec dependency:

- container-header metadata: ``parse_image_dims`` reads PNG/JPEG/GIF/
  BMP dimensions straight from the fixed-layout header bytes, run
  distributed by ``image_metadata``;
- pixel decode: ``decode_pixels`` walks 24-bit BI_RGB BMP (stride
  padding, bottom-up/top-down row order), binary PPM (P6,
  comment-aware header), PNG in all five color types —
  gray/RGB/palette/gray+alpha/RGBA — at bit depth 8 or 16,
  interlaced (Adam7) or not (stdlib zlib inflate + spec filter
  reversal — Sub/Up/Average/Paeth), AND baseline JPEG (SOF0:
  Huffman entropy decode, dequant, float64 IDCT, JFIF YCbCr;
  operators/jpeg.py), AND GIF (variable-width LZW, global/local
  color tables, extension skipping; operators/gif.py) — to
  per-channel pixel statistics, run distributed by ``pixel_stats``;
- video frame decode: ``parse_y4m`` walks the Y4M (YUV4MPEG2)
  container — ASCII stream/FRAME markers, raw planar YUV under
  4:2:0 / 4:2:2 / 4:4:4 / mono subsampling — to per-frame plane
  statistics, run distributed by ``video_frame_stats`` (1-to-many
  frame sampling);
- audio decode: ``decode_wav`` walks the RIFF/WAVE chunk list (unknown
  chunks skipped, odd-size pad bytes honored) once, to the sample
  array: PCM u8 / s16le / s24le, IEEE float32, G.711 mu-law / A-law
  and IMA ADPCM (operators/audio_codecs). ``parse_wav`` reduces it to
  exact per-channel means, run distributed by ``audio_stats``;
  ``audio_spectral`` (rfft -> dominant frequency bin) and
  ``audio_rms_windows`` read the same array;
- raster transform: ``resize_payloads`` decodes spatial rasters
  (``decode_raster``: BMP, PPM, baseline TIFF, 8-bit PNG —
  interlaced or not, Adam7 spatially reassembled),
  nearest-neighbor resamples with exact integer index arithmetic,
  and re-encodes as binary PPM (``encode_ppm``). What still needs a
  codec is therefore arithmetic-coded JPEG, compressed video, and
  compressed audio only — every common still-image format,
  INCLUDING progressive (SOF2) JPEG, decodes for real
  (operators/jpeg.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "id long, n_bytes long, mean_byte double, head_hex string, content_type string"
)


def attach_payload(df: DataFrame, text_col: str, id_col: str, content_type: str = "application/octet-stream") -> DataFrame:
    """Build a multimodal-shaped frame from a text column: payload =
    utf-8 bytes, metadata struct alongside. (Real pipelines read the
    bytes from object storage with `binaryFile` format — same shape.)"""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("id"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit(content_type).alias("content_type"),
        ).alias("meta"),
    )


def payload_rows(
    df: DataFrame,
    schema: str,
    rows: Callable[[bytes], list[tuple] | None],
) -> DataFrame:
    """The one per-payload decode stage of the media operators.

    ``df`` has ``id`` and ``payload`` columns; ``schema`` is a flat DDL
    string whose first column is ``id``. ``rows(payload)`` returns a
    list of tuples holding the other columns of ``schema``, in schema
    order. The stage emits ``(id, *t)`` for each tuple ``t``: no row
    for ``[]``, and for ``None`` one row with ``id`` set and every
    other column null (a mixed corpus keeps flowing; filter on a
    decoded column downstream). It is one Arrow-batched
    ``mapInPandas``: no shuffle, no collect, payload bytes never leave
    the executor. Columns are built as object Series and the Arrow
    conversion casts them to ``schema``, so a ``rows`` function returns
    plain Python/numpy scalars and ``None``."""
    names = [field.split()[0] for field in schema.split(",")]
    null = (None,) * (len(names) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for id_, payload in zip(pdf["id"], pdf["payload"]):
                got = rows(payload)
                out += [(id_, *t) for t in ([null] if got is None else got)]
            cols = list(zip(*out)) if out else [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=object) for n, c in zip(names, cols)}
            )

    return df.mapInPandas(run, schema=schema)


def decode_features(df: DataFrame) -> DataFrame:
    """BYTE-level feature extraction over payloads via mapInPandas —
    the payload-plumbing smoke path (binaryFile source contract,
    batch shape). For real media decode use ``pixel_stats`` /
    ``image_metadata`` / ``dhash_fingerprints`` / the audio+video
    stats operators, which decode PNG/JPEG/GIF/BMP/TIFF/WAV/FLAC/...
    from scratch. Features are vectorized per Arrow batch: payload
    bytes concatenate once (C-speed) and per-row sums come from one
    ``np.add.reduceat`` — no per-row Python arithmetic."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [bytes(b) for b in pdf["payload"]]
            lens = np.fromiter((len(b) for b in blobs), dtype=np.int64,
                               count=len(blobs))
            cat = np.frombuffer(b"".join(blobs), dtype=np.uint8)
            starts = np.zeros(len(blobs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sums = np.zeros(len(blobs), dtype=np.int64)
            nz = lens > 0
            if cat.size:
                # reduceat needs strictly valid offsets: compute only
                # for non-empty rows (empty rows keep sum 0)
                sums[nz] = np.add.reduceat(cat, starts[nz])
                # reduceat sums run to the NEXT offset; trailing empty
                # rows collapse to the same start, already excluded
            mean = np.where(nz, sums / np.maximum(lens, 1), 0.0)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_bytes": lens,
                    "mean_byte": mean,
                    "head_hex": [b[:8].hex() for b in blobs],
                    "content_type": [m["content_type"] for m in pdf["meta"]],
                }
            )

    return df.mapInPandas(extract, schema=FEATURE_SCHEMA)


# JPEG start-of-frame markers that carry dimensions. C4/C8/CC are
# huffman/arithmetic/extension tables, not frames.
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
# JPEG standalone markers with no length field (RSTn, SOI, EOI, TEM).
_JPEG_STANDALONE = frozenset(range(0xD0, 0xDA)) | {0x01}


def parse_image_dims(b: bytes) -> tuple[str | None, int | None, int | None]:
    """(format, width, height) parsed from container headers in pure
    Python — PNG IHDR, JPEG SOF marker walk, GIF logical screen
    descriptor, BMP DIB header. No image codec involved: only the
    fixed-layout header bytes are read, so this is safe to run over
    arbitrary payloads at scale (returns (None, None, None) for
    anything unrecognized or truncated)."""
    b = bytes(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        return (
            "png",
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )
    if b[:2] == b"\xff\xd8":  # JPEG SOI; walk marker segments to a SOF
        pos = 2
        while pos + 1 < len(b):
            if b[pos] != 0xFF:
                return ("jpeg", None, None)  # corrupt stream
            marker = b[pos + 1]
            if marker == 0xFF:  # fill byte
                pos += 1
                continue
            if marker in _JPEG_STANDALONE:
                pos += 2
                continue
            if pos + 4 > len(b):
                break
            seg_len = int.from_bytes(b[pos + 2 : pos + 4], "big")
            if marker in _JPEG_SOF:
                # segment: len(2) precision(1) height(2) width(2)
                if pos + 9 > len(b):
                    break
                return (
                    "jpeg",
                    int.from_bytes(b[pos + 7 : pos + 9], "big"),
                    int.from_bytes(b[pos + 5 : pos + 7], "big"),
                )
            if seg_len < 2:
                return ("jpeg", None, None)
            pos += 2 + seg_len
        return ("jpeg", None, None)
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return (
            "gif",
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    if b[:2] == b"BM" and len(b) >= 26:
        return (
            "bmp",
            int.from_bytes(b[18:22], "little", signed=True),
            # negative height = top-down row order; magnitude is the size
            abs(int.from_bytes(b[22:26], "little", signed=True)),
        )
    return (None, None, None)


IMAGE_META_SCHEMA = (
    "id long, format string, width int, height int, n_bytes long"
)


def image_metadata(df: DataFrame) -> DataFrame:
    """REAL distributed image-metadata extraction: parse container
    dimensions from payload headers via ``parse_image_dims``. It needs
    no codec — it reads fixed-layout header bytes only; unrecognized
    payloads yield null format/dims."""
    return payload_rows(
        df, IMAGE_META_SCHEMA, lambda b: [(*parse_image_dims(b), len(b))]
    )


def _ppm_header(b: bytes) -> tuple[int, int, int, int] | None:
    """Parse a binary-PPM (P6) or binary-PGM (P5) header: returns
    (width, height, maxval, pixel_data_offset) or None. Handles
    arbitrary whitespace runs and '#' comments between tokens per the
    netpbm spec. The magic byte at b[1] distinguishes gray (P5, one
    sample per pixel) from RGB (P6)."""
    if b[:2] not in (b"P6", b"P5"):
        return None
    pos, vals = 2, []
    n = len(b)
    while len(vals) < 3:
        while pos < n and b[pos : pos + 1].isspace():
            pos += 1
        if pos < n and b[pos] == 0x23:  # '#' comment to end of line
            while pos < n and b[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < n and b[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            return None
        vals.append(int(b[start:pos]))
    if pos >= n or not b[pos : pos + 1].isspace():
        return None
    return vals[0], vals[1], vals[2], pos + 1  # single ws then raster


def _png_unfilter(raw: bytes, stride: int, h: int, bpp: int) -> bytearray | None:
    """Reverse PNG per-row filtering (spec §9: None/Sub/Up/Average/
    Paeth). ``stride`` is the row length in BYTES (for sub-8-bit
    depths this is ceil(w*depth/8), and the filter unit ``bpp`` is 1
    byte per spec §9.2). Returns the reconstructed raster or None on
    a malformed stream. Per-byte Python on the sequential filters —
    correctness path; at scale compressed decode belongs behind a
    codec."""
    if len(raw) < h * (stride + 1):
        return None
    out = bytearray(h * stride)
    prev = bytearray(stride)
    pos = 0
    for r in range(h):
        ftype = raw[pos]
        row = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                bb = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        elif ftype != 0:
            return None
        out[r * stride : (r + 1) * stride] = row
        prev = row
    return out


# channels per pixel by PNG color type:
# 0 gray, 2 RGB, 3 palette index, 4 gray+alpha, 6 RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# adversarial-input guard: bound the decoded raster (<= 16.7M pixels,
# worst case ~134 MB for 16-bit RGBA plus the filtered copy) so a
# few-KB crafted IDAT can't expand to gigabytes
_PNG_MAX_PIXELS = 1 << 24
# Adam7 interlace passes: (x_start, y_start, x_step, y_step). Every
# pixel belongs to exactly one pass, so for channel SUMS the passes
# never need spatial reassembly — unfilter each and accumulate.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_pass_dims(w: int, h: int) -> list[tuple[int, int]]:
    """(width, height) of each NON-EMPTY Adam7 pass sub-image. Empty
    passes (tiny images) contribute zero bytes — not even filter
    bytes (spec §8.2)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        wp = (w - x0 + dx - 1) // dx
        hp = (h - y0 + dy - 1) // dy
        if wp > 0 and hp > 0:
            out.append((wp, hp))
    return out


def _decode_png_samples(b: bytes):
    """Shared PNG decode core (zlib is stdlib — no codec needed): all
    five color types — gray(0) / RGB(2) / palette(3) / gray+alpha(4) /
    RGBA(6) — at every legal bit depth (1/2/4 for gray and palette,
    8 for all types, 16 for non-palette; sub-8 rows are MSB-first
    bit-packed per spec §7.2), interlaced (Adam7) or not. Returns
    (w, h, bitdepth, interlace, px) with px an N x 1 (gray) or N x 3
    array of RAW sample values, palette resolved through PLTE and
    alpha dropped; None on any malformation. For non-interlaced
    images px is in row-major raster order; interlaced px is in pass
    order (sufficient for statistics, not for spatial use).

    Decode is bomb-safe for arbitrary corpora: total pixels are capped
    (``_PNG_MAX_PIXELS``) and inflate is bounded to the exact filtered
    raster size via ``decompressobj(...).decompress(data,
    max_length)`` — a stream that would expand past it is rejected
    without ever allocating the excess."""
    import zlib

    if b[:8] != b"\x89PNG\r\n\x1a\n" or len(b) < 33 or b[12:16] != b"IHDR":
        return None
    w = int.from_bytes(b[16:20], "big")
    h = int.from_bytes(b[20:24], "big")
    bitdepth, colortype, comp, filt, interlace = b[24:29]
    if bitdepth not in (1, 2, 4, 8, 16) or colortype not in _PNG_CHANNELS:
        return None
    # sub-8 depths exist only for gray and palette images (spec §11.2.2)
    if bitdepth < 8 and colortype not in (0, 3):
        return None
    if (colortype == 3 and bitdepth == 16) or comp or filt or interlace > 1:
        return None
    if not (0 < w <= 1 << 15 and 0 < h <= 1 << 15):
        return None
    if w * h > _PNG_MAX_PIXELS:
        return None
    channels = _PNG_CHANNELS[colortype]
    # filter unit = bytes per pixel, floored at one byte for packed
    # sub-8 depths (spec §9.2)
    bpp = max(1, channels * bitdepth // 8)
    # walk chunks, concatenating IDAT payloads; keep PLTE for type 3
    idat = bytearray()
    plte = None
    pos = 8
    n = len(b)
    while pos + 8 <= n:
        clen = int.from_bytes(b[pos : pos + 4], "big")
        ctype = b[pos + 4 : pos + 8]
        if clen > n - pos - 8:
            return None
        if ctype == b"IDAT":
            idat += b[pos + 8 : pos + 8 + clen]
        elif ctype == b"PLTE":
            plte = b[pos + 8 : pos + 8 + clen]
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if not idat:
        return None
    segs = _png_pass_dims(w, h) if interlace else [(w, h)]

    def row_bytes(wp: int) -> int:
        return (wp * channels * bitdepth + 7) // 8

    expected = sum(hp * (row_bytes(wp) + 1) for wp, hp in segs)
    d = zlib.decompressobj()
    try:
        raw = d.decompress(bytes(idat), expected)
        # spec: the stream inflates to EXACTLY the filtered raster;
        # reject short streams, oversized streams (the bounded call
        # parked the rest in unconsumed_tail — probe one byte, never
        # inflate the excess), and trailing garbage after stream end
        if (
            len(raw) != expected
            or d.decompress(d.unconsumed_tail, 1)
            or d.unused_data
        ):
            return None
    except zlib.error:
        return None
    parts = []
    off = 0
    for wp, hp in segs:
        rb = row_bytes(wp)
        size = hp * (rb + 1)
        rec = _png_unfilter(raw[off : off + size], rb, hp, bpp)
        if rec is None:
            return None
        if bitdepth < 8:
            # unpack MSB-first bit groups per row, dropping the final
            # byte's padding bits (spec §7.2)
            rows8 = np.frombuffer(bytes(rec), np.uint8).reshape(hp, rb)
            bits = np.unpackbits(rows8, axis=1)[:, : wp * bitdepth]
            weights = 1 << np.arange(bitdepth - 1, -1, -1)
            vals = (
                bits.reshape(hp, wp, bitdepth) * weights
            ).sum(axis=2).astype(np.uint8)
            parts.append(vals.reshape(-1).tobytes())
        else:
            parts.append(bytes(rec))
        off += size
    dtype = np.uint8 if bitdepth <= 8 else np.dtype(">u2")
    arr = np.frombuffer(b"".join(parts), dtype).reshape(-1, channels)
    if colortype == 3:
        if plte is None or len(plte) < 3 or len(plte) % 3 or len(plte) > 768:
            return None  # PLTE caps at 256 entries (768 bytes) per spec
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = arr[:, 0]
        if int(idx.max()) >= pal.shape[0]:
            return None  # index past palette end is a spec violation
        px = pal[idx]
    elif colortype in (0, 4):
        px = arr[:, :1]
    else:
        px = arr[:, :3]
    return (w, h, bitdepth, interlace, px)


def _decode_png_pixels(b: bytes):
    """(w, h, mean_r, mean_g, mean_b) from a PNG, or None — exact
    int64 channel sums over ``_decode_png_samples``' raw samples;
    gray reports its mean on all three channels. Interlaced images
    need no deinterlacing for statistics: sample order is irrelevant
    to a sum."""
    dec = _decode_png_samples(b)
    if dec is None:
        return None
    w, h, _, _, px = dec
    sums = px.sum(axis=0, dtype=np.int64)
    cnt = float(w * h)
    if px.shape[1] == 1:
        m = sums[0] / cnt
        return (w, h, m, m, m)
    return (w, h, sums[0] / cnt, sums[1] / cnt, sums[2] / cnt)


def _forward_filter_row(row: bytes, prev: bytes, bpp: int, f: int) -> bytearray:
    """Apply PNG forward filter ``f`` to one packed row (the inverse of
    what _png_unfilter reverses)."""
    out = bytearray()
    for x in range(len(row)):
        a = row[x - bpp] if x >= bpp else 0
        up = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if f == 0:
            v = row[x]
        elif f == 1:
            v = (row[x] - a) & 0xFF
        elif f == 2:
            v = (row[x] - up) & 0xFF
        elif f == 3:
            v = (row[x] - ((a + up) >> 1)) & 0xFF
        elif f == 4:
            p = a + up - c
            pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
            v = (row[x] - pred) & 0xFF
        else:
            raise ValueError(f"bad filter type {f}")
        out.append(v)
    return out


def encode_png(
    width: int,
    height: int,
    pixels_rgb: list[tuple[int, int, int]],
    colortype: int = 2,
    filters: list[int] | None = None,
    bitdepth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Minimal REAL PNG encoder, twin of the decode path — used to
    synthesize valid compressed payloads for tests/oracles and to
    write image outputs without a codec dependency. Applies the spec's
    forward row filters (None/Sub/Up/Average/Paeth) then stdlib zlib;
    supports all five color types, bit depth 8 or 16 (palette 8 only),
    and Adam7 interlacing (each pass extracted, packed, and filtered
    independently, per spec §8.2).

    Input is always a list of (r, g, b) tuples (components 0..255 at
    depth 8, 0..65535 at depth 16); the color type decides the on-wire
    representation: 2 RGB, 6 RGBA (opaque alpha), 0 gray (the r
    component), 4 gray+alpha, 3 palette (PLTE built from the sorted
    unique colors — at most 256). ``filters`` cycles over rows in
    storage order (all passes concatenated when interlaced)."""
    import zlib

    if bitdepth not in (1, 2, 4, 8, 16):
        raise ValueError(f"bad bit depth {bitdepth}")
    if bitdepth < 8 and colortype not in (0, 3):
        raise ValueError("sub-8-bit depth needs gray or palette")
    if colortype == 3 and bitdepth == 16:
        raise ValueError("palette PNG is at most 8-bit")
    opaque = (1 << bitdepth) - 1
    plte = b""
    if colortype == 2:
        pixels = pixels_rgb
    elif colortype == 6:
        pixels = [p + (opaque,) for p in pixels_rgb]
    elif colortype == 0:
        pixels = [(p[0],) for p in pixels_rgb]
    elif colortype == 4:
        pixels = [(p[0], opaque) for p in pixels_rgb]
    elif colortype == 3:
        uniq = sorted(set(pixels_rgb))
        if len(uniq) > (1 << bitdepth):
            raise ValueError("palette exceeds the depth's index range")
        lut = {c: i for i, c in enumerate(uniq)}
        pixels = [(lut[p],) for p in pixels_rgb]
        plte = b"".join(bytes(c) for c in uniq)
    else:
        raise ValueError(f"bad color type {colortype}")
    nbytes = bitdepth // 8
    bpp = max(1, _PNG_CHANNELS[colortype] * nbytes)

    def pack(pix_row) -> bytes:
        if bitdepth >= 8:
            return b"".join(
                int(s).to_bytes(nbytes, "big") for p in pix_row for s in p
            )
        # sub-8: MSB-first bit packing, final byte zero-padded (§7.2)
        acc = 0
        nbits = 0
        out = bytearray()
        for (s,) in pix_row:
            if not 0 <= int(s) <= opaque:
                raise ValueError("sample exceeds the bit depth")
            acc = (acc << bitdepth) | int(s)
            nbits += bitdepth
            if nbits == 8:
                out.append(acc)
                acc = 0
                nbits = 0
        if nbits:
            out.append(acc << (8 - nbits))
        return bytes(out)

    if interlace == 0:
        groups = [
            [pixels[r * width : (r + 1) * width] for r in range(height)]
        ]
    elif interlace == 1:
        groups = []
        for x0, y0, dx, dy in _ADAM7:
            wp = (width - x0 + dx - 1) // dx
            hp = (height - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            groups.append(
                [
                    [
                        pixels[(y0 + j * dy) * width + x0 + i * dx]
                        for i in range(wp)
                    ]
                    for j in range(hp)
                ]
            )
    else:
        raise ValueError(f"bad interlace method {interlace}")

    filters = list(filters) if filters else [0]
    raw = bytearray()
    row_i = 0
    for rows in groups:
        packed = [pack(pix_row) for pix_row in rows]
        prev = bytes(len(packed[0]))  # row length in BYTES (sub-8 packs)
        for row in packed:
            f = filters[row_i % len(filters)]
            row_i += 1
            raw.append(f)
            raw += _forward_filter_row(row, prev, bpp, f)
            prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([bitdepth, colortype, 0, 0, interlace])
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + (chunk(b"PLTE", plte) if plte else b"")
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


_TIFF_MAX_PIXELS = 1 << 24  # same anti-bomb cap as PNG/JPEG


def encode_tiff(
    width: int,
    height: int,
    pixels_rgb: list[tuple[int, int, int]],
    gray: bool = False,
    big_endian: bool = False,
    rows_per_strip: int = 0,
) -> bytes:
    """Minimal REAL baseline-TIFF encoder, twin of _decode_tiff:
    header + one IFD + uncompressed 8-bit chunky strips. ``gray``
    writes one sample per pixel (PhotometricInterpretation 1) from
    the r channel; rows_per_strip=0 means a single strip. Both byte
    orders ('II' little / 'MM' big) for decoder coverage."""
    if width <= 0 or height <= 0 or len(pixels_rgb) != width * height:
        raise ValueError("bad dimensions")
    bo = ">" if big_endian else "<"
    import struct

    px = np.asarray(pixels_rgb, dtype=np.uint8).reshape(height, width, 3)
    data = px[:, :, :1] if gray else px
    raw = data.tobytes()
    spp = 1 if gray else 3
    rps = rows_per_strip or height
    strips = [
        raw[r * width * spp : min(r + rps, height) * width * spp]
        for r in range(0, height, rps)
    ]
    n = len(strips)

    header = (b"II" if not big_endian else b"MM") + struct.pack(
        bo + "HI", 42, 8
    )
    # layout: header(8) IFD at 8; entry count + 10 entries + next=0
    n_entries = 10
    ifd_size = 2 + n_entries * 12 + 4
    arrays_off = 8 + ifd_size
    # out-of-line arrays: BitsPerSample (if rgb), StripOffsets,
    # StripByteCounts (when n > 1 or values don't fit inline)
    blobs = bytearray()

    def blob(fmt: str, values: list[int]) -> int:
        off = arrays_off + len(blobs)
        blobs.extend(struct.pack(bo + fmt * len(values), *values))
        return off

    bits_entry: tuple[int, int, int]
    if gray:
        bits_entry = (3, 1, 8)  # SHORT inline
    else:
        bits_entry = (3, 3, blob("H", [8, 8, 8]))
    strip_data_off = None  # filled after blobs are final

    # reserve the strip arrays last so offsets are simple: compute
    # after other blobs. StripOffsets needs the final data start.
    counts = [len(s) for s in strips]
    if n == 1:
        counts_entry = (4, 1, counts[0])
    else:
        counts_entry = (4, n, blob("I", counts))
    # strip offsets depend on total blob size; place data after blobs
    if n == 1:
        offsets_entry_placeholder = (4, 1, None)
        offsets_blob_off = None
    else:
        offsets_blob_off = arrays_off + len(blobs)
        blobs.extend(b"\x00" * (4 * n))
        offsets_entry_placeholder = (4, n, offsets_blob_off)
    data_off = arrays_off + len(blobs)
    offs = []
    acc = data_off
    for c in counts:
        offs.append(acc)
        acc += c
    if n == 1:
        offsets_entry = (4, 1, offs[0])
    else:
        struct.pack_into(bo + "I" * n, blobs, offsets_blob_off - arrays_off, *offs)
        offsets_entry = offsets_entry_placeholder

    entries = [
        (256, 4, 1, width),
        (257, 4, 1, height),
        (258, *bits_entry),
        (259, 3, 1, 1),  # Compression: none
        (262, 3, 1, 1 if gray else 2),  # Photometric
        (273, *offsets_entry),
        (277, 3, 1, spp),
        (278, 4, 1, rps),
        (279, *counts_entry),
        (284, 3, 1, 1),  # PlanarConfig: chunky
    ]
    ifd = struct.pack(bo + "H", n_entries)
    for tag, typ, cnt, val in entries:
        if typ == 3 and cnt == 1:
            ifd += struct.pack(bo + "HHIHH", tag, typ, cnt, val, 0)
        else:
            ifd += struct.pack(bo + "HHII", tag, typ, cnt, val)
    ifd += struct.pack(bo + "I", 0)  # no next IFD
    assert len(ifd) == ifd_size
    return header + ifd + bytes(blobs) + b"".join(strips)


def _decode_tiff(b: bytes) -> tuple[int, int, np.ndarray] | None:
    """Baseline TIFF decode: II/MM byte order, first IFD, 8-bit
    uncompressed chunky strips, gray (photometric 1) or RGB
    (photometric 2). Returns (w, h, h×w×3 uint8, top-down). Strict:
    compression, planar, bit-depth, photometric outside that scope,
    ragged strips, or bomb-cap violations return None."""
    import struct

    if len(b) < 8:
        return None
    if b[:2] == b"II":
        bo = "<"
    elif b[:2] == b"MM":
        bo = ">"
    else:
        return None
    magic, ifd_off = struct.unpack_from(bo + "HI", b, 2)
    if magic != 42:
        return None

    def read_entry(pos):
        tag, typ = struct.unpack_from(bo + "HH", b, pos)
        cnt = struct.unpack_from(bo + "I", b, pos + 4)[0]
        return tag, typ, cnt, pos + 8

    def values(typ, cnt, vpos):
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            return None
        total = size * cnt
        if total <= 4:
            src = vpos
        else:
            src = struct.unpack_from(bo + "I", b, vpos)[0]
            if src + total > len(b):
                return None
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        try:
            return list(struct.unpack_from(bo + fmt * cnt, b, src))
        except struct.error:
            return None

    if ifd_off + 2 > len(b):
        return None
    n_entries = struct.unpack_from(bo + "H", b, ifd_off)[0]
    if n_entries > 512 or ifd_off + 2 + n_entries * 12 + 4 > len(b):
        return None
    tags: dict[int, list[int]] = {}
    pos = ifd_off + 2
    for _ in range(n_entries):
        tag, typ, cnt, vpos = read_entry(pos)
        pos += 12
        if tag in (256, 257, 258, 259, 262, 273, 277, 278, 279, 284):
            vals = values(typ, cnt, vpos)
            if vals is None:
                return None
            tags[tag] = vals

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            return default
        return v[0]

    w, h = one(256), one(257)
    if not w or not h or w * h > _TIFF_MAX_PIXELS:
        return None
    if one(259, 1) != 1 or one(284, 1) != 1:
        return None  # compressed or planar: out of scope, explicit
    spp = one(277, 1)
    photometric = one(262)
    if (spp, photometric) not in ((1, 1), (3, 2)):
        return None
    bits = tags.get(258, [8])
    if any(v != 8 for v in bits) or len(bits) not in (1, spp):
        return None
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        return None
    raw = bytearray()
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(b):
            return None
        raw += b[off : off + cnt]
    if len(raw) != w * h * spp:
        return None
    px = np.frombuffer(bytes(raw), np.uint8).reshape(h, w, spp)
    if spp == 1:
        px = np.repeat(px, 3, axis=2)
    return (w, h, px)


def encode_ico(images: list[tuple[np.ndarray, str]]) -> bytes:
    """Encoder twin for the ICO favicon container: each entry is an
    (h x w x 3 uint8 raster, kind) pair with kind 'png' (embedded
    PNG stream) or 'bmp' (the ICO-style headerless BMP: info header
    with DOUBLED height, bottom-up 24-bit XOR rows, then an all-zero
    AND mask)."""
    import struct

    members = []
    for raster, kind in images:
        h, w = raster.shape[:2]
        if not (0 < w <= 256 and 0 < h <= 256):
            raise ValueError("ICO images are at most 256x256")
        if kind == "png":
            members.append(
                encode_png(w, h, [tuple(p) for p in raster.reshape(-1, 3)])
            )
        elif kind == "bmp":
            stride = (w * 3 + 3) // 4 * 4
            rows = bytearray()
            for r in range(h - 1, -1, -1):  # bottom-up
                row = bytearray()
                for x in range(w):
                    pr, pg, pb = raster[r, x]
                    row += bytes([pb, pg, pr])
                rows += row.ljust(stride, b"\x00")
            and_stride = (w + 31) // 32 * 4
            info = struct.pack(
                "<IiiHHIIiiII", 40, w, 2 * h, 1, 24, 0,
                len(rows) + and_stride * h, 0, 0, 0, 0,
            )
            members.append(bytes(info) + bytes(rows) + b"\x00" * (and_stride * h))
        else:
            raise ValueError(f"bad ICO member kind {kind}")
    out = struct.pack("<HHH", 0, 1, len(images))
    off = 6 + 16 * len(images)
    for (raster, _kind), m in zip(images, members):
        h, w = raster.shape[:2]
        out += struct.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 24, len(m), off
        )
        off += len(m)
    return out + b"".join(members)


def decode_ico_raster(b: bytes) -> tuple[int, int, np.ndarray] | None:
    """ICO favicon container -> the LARGEST member's spatial raster
    (the standard consumer choice). Members are either embedded PNG
    streams (decoded via the PNG path) or headerless ICO-BMPs (info
    header with doubled height covering the XOR + AND masks; decoded
    by synthesizing the missing file header, halving the height, and
    reusing the audited BMP branch — alpha/AND mask dropped)."""
    import struct

    b = bytes(b)
    if len(b) < 6 or b[:4] != b"\x00\x00\x01\x00":
        return None
    count = int.from_bytes(b[4:6], "little")
    if not 0 < count <= 64:
        return None
    if len(b) < 6 + 16 * count:
        return None
    best = None
    for i in range(count):
        e = b[6 + 16 * i : 6 + 16 * (i + 1)]
        size = int.from_bytes(e[8:12], "little")
        off = int.from_bytes(e[12:16], "little")
        if off + size > len(b) or size < 16:
            return None
        member = b[off : off + size]
        if member[:8] == b"\x89PNG\r\n\x1a\n":
            dec = decode_raster(member)
            if dec is None:
                return None
            raster = dec[1]
        else:  # headerless BMP with doubled height
            if len(member) < 40:
                return None
            w = int.from_bytes(member[4:8], "little", signed=True)
            h2 = int.from_bytes(member[8:12], "little", signed=True)
            if w <= 0 or h2 <= 0 or h2 % 2:
                return None
            h = h2 // 2
            bpp = int.from_bytes(member[14:16], "little")
            n_colors = int.from_bytes(member[32:36], "little")
            pal_bytes = 4 * (n_colors or (256 if bpp == 8 else 0))
            stride = (w * (bpp // 8) + 3) // 4 * 4 if bpp >= 8 else 0
            body_off = 40 + pal_bytes
            # keep only the XOR rows; the trailing AND mask is cut so
            # the reconstructed height-h BMP is exactly consistent
            xor_len = stride * h
            if bpp not in (8, 24, 32) or len(member) < body_off + xor_len:
                return None
            fixed_info = (
                member[:8]
                + struct.pack("<i", h)
                + member[12:40]
            )
            fake = (
                b"BM"
                + struct.pack("<IHHI", 54 + pal_bytes + xor_len, 0, 0,
                              54 + pal_bytes)
                + fixed_info
                + member[40 : body_off + xor_len]
            )
            dec = decode_raster(fake)
            if dec is None:
                return None
            raster = dec[1]
        if best is None or raster.shape[0] * raster.shape[1] > best[2].shape[0] * best[2].shape[1]:
            best = (raster.shape[1], raster.shape[0], raster)
    return best


def decode_raster(b: bytes) -> tuple[str, np.ndarray] | None:
    """Decode a payload to its full spatial raster: (format, h×w×3
    uint8 RGB array in top-down row order) for 24-bit BI_RGB BMP
    (stride padding honored; positive height = bottom-up storage,
    flipped here; stored BGR converted to RGB), binary PPM (P6,
    maxval < 256), 8-bit PNG — interlaced or not, any color type,
    plus sub-8 palette (palette resolved, gray replicated, alpha
    dropped), baseline TIFF (both byte orders), GIF (single-image,
    four-pass de-interlaced), and JPEG (baseline AND progressive;
    JFIF YCbCr converted to RGB, gray replicated). Same reject
    conditions as the corresponding ``decode_pixels`` branches.
    Still stats-only (no raster): 16-bit PNG and sub-8 GRAY PNG
    (samples are not 8-bit intensities) and animated GIF."""
    b = bytes(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        dec = _decode_png_samples(b)
        if dec is None:
            return None
        w, h, bitdepth, interlace, px = dec
        # raster needs PPM-encodable samples: 16-bit stays stats-only;
        # sub-8 qualifies only when palette-resolved to full 8-bit RGB
        # (sub-8 GRAY samples are raw 0..2^d-1 codes, not intensities)
        if bitdepth == 16 or (bitdepth < 8 and px.shape[1] != 3):
            return None
        if px.shape[1] == 1:
            px = np.repeat(px, 3, axis=1)
        if not interlace:
            return ("png", px.reshape(h, w, 3))
        # Adam7 spatial reassembly: samples arrive in pass order with
        # known pass geometry — scatter each pass back to its strided
        # (y0::dy, x0::dx) grid positions
        out = np.zeros((h, w, 3), dtype=px.dtype)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            out[y0::dy, x0::dx] = px[off : off + wp * hp].reshape(hp, wp, 3)
            off += wp * hp
        return ("png", out)
    if b[:2] == b"BM" and len(b) >= 54:
        off = int.from_bytes(b[10:14], "little")
        w = int.from_bytes(b[18:22], "little", signed=True)
        h_raw = int.from_bytes(b[22:26], "little", signed=True)
        bpp = int.from_bytes(b[28:30], "little")
        comp = int.from_bytes(b[30:34], "little")
        h = abs(h_raw)
        if bpp not in (8, 24, 32) or comp != 0 or w <= 0 or h == 0:
            return None
        if w * h > _TIFF_MAX_PIXELS:
            return None
        bytes_pp = bpp // 8
        stride = (w * bytes_pp + 3) // 4 * 4
        if off < 54 or len(b) < off + stride * h:
            return None
        rows = np.frombuffer(b, np.uint8, stride * h, off).reshape(h, stride)
        if bpp == 8:
            # palette (BGRA quads) follows the 40-byte info header;
            # biClrUsed 0 means a full 256-entry table
            n_colors = int.from_bytes(b[46:50], "little") or 256
            if n_colors > 256 or off < 54 + 4 * n_colors:
                return None
            pal = np.frombuffer(b, np.uint8, 4 * n_colors, 54).reshape(
                n_colors, 4
            )[:, :3][:, ::-1]  # BGRx -> RGB
            idx = rows[:, :w]
            if int(idx.max(initial=0)) >= n_colors:
                return None
            px = pal[idx]
        else:
            px = rows[:, : w * bytes_pp].reshape(h, w, bytes_pp)
            px = px[:, :, :3][:, :, ::-1]  # BGR(A) -> RGB, alpha dropped
        if h_raw > 0:
            px = px[::-1]  # bottom-up storage -> top-down raster
        return ("bmp", px)
    if b[:2] in (b"II", b"MM"):
        tiff = _decode_tiff(b)
        if tiff is None:
            return None
        w, h, px = tiff
        return ("tiff", px)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        from synthea_etl_spark.operators.gif import decode_gif_raster

        gif = decode_gif_raster(b)
        if gif is None:
            return None
        w, h, px = gif
        return ("gif", px)
    if b[:2] == b"\xff\xd8":
        from synthea_etl_spark.operators.jpeg import (
            decode_jpeg_samples,
            ycc_to_rgb,
        )

        jpg = decode_jpeg_samples(b)
        if jpg is None:
            return None
        w, h, planes = jpg
        if len(planes) == 1:
            g = np.clip(planes[0], 0, 255).astype(np.uint8)
            return ("jpeg", np.repeat(g[:, :, None], 3, axis=2))
        r, g, bl = ycc_to_rgb(planes[0], planes[1], planes[2])
        return ("jpeg", np.stack([r, g, bl], axis=2).astype(np.uint8))
    if b[:4] == b"\x00\x00\x01\x00":
        ico = decode_ico_raster(b)
        if ico is None:
            return None
        _w, _h, px = ico
        return ("ico", px.astype(np.uint8))
    hdr = _ppm_header(b)
    if hdr is not None:
        w, h, maxval, off = hdr
        if w <= 0 or h <= 0 or not 0 < maxval < 256:
            return None
        if b[1:2] == b"5":  # PGM: one gray sample per pixel
            if len(b) < off + w * h:
                return None
            g = np.frombuffer(b, np.uint8, w * h, off).reshape(h, w)
            return ("pgm", np.repeat(g[:, :, None], 3, axis=2))
        if len(b) < off + w * h * 3:
            return None
        return ("ppm", np.frombuffer(b, np.uint8, w * h * 3, off).reshape(h, w, 3))
    return None


def encode_ppm(raster: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) from an h×w×3 uint8 RGB raster —
    the re-encode target for raster transforms, since it is the one
    image format writable without a codec."""
    h, w = raster.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        raster, dtype=np.uint8
    ).tobytes()


def decode_pixels(
    b: bytes,
) -> tuple[str, int, int, float, float, float] | None:
    """REAL pixel decode, pure Python + numpy — no image codec.

    Supports the formats a codec-free environment can fully read:
    BI_RGB BMP at 8 (palette), 24, and 32 bits (4-byte row stride
    padding honored; positive height = bottom-up rows, negative =
    top-down), binary PPM/PGM (P6/P5, maxval < 256), and PNG in all
    five color types at every legal bit depth, interlaced (Adam7) or
    not (stdlib zlib inflate + spec filter
    reversal; palette resolved through PLTE; gray reported on all
    three channels; 16-bit means are over raw 0..65535 samples), and
    JPEG — both baseline SOF0 and progressive SOF2 with successive
    approximation, chroma subsampling 4:4:4/4:2:2/4:2:0 on the
    sequential path (operators/jpeg.py).
    Returns (format, width,
    height, mean_r, mean_g, mean_b) with channel means computed as
    exact int64 sums over the pixel array divided by the pixel
    count — deterministic at any parallelism. None for anything else
    (arithmetic-coded JPEG and compressed video need a codec)."""
    b = bytes(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        png = _decode_png_pixels(b)
        if png is None:
            return None
        w, h, mr, mg, mb = png
        return ("png", w, h, mr, mg, mb)
    if b[:2] == b"\xff\xd8":
        from synthea_etl_spark.operators.jpeg import decode_jpeg_pixels

        jpg = decode_jpeg_pixels(b)
        if jpg is None:
            return None
        w, h, mr, mg, mb = jpg
        return ("jpeg", w, h, mr, mg, mb)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        from synthea_etl_spark.operators.gif import decode_gif_pixels

        gif = decode_gif_pixels(b)
        if gif is None:
            return None
        w, h, mr, mg, mb = gif
        return ("gif", w, h, mr, mg, mb)
    ras = decode_raster(b)
    if ras is not None:
        fmt, px = ras
        h, w = px.shape[:2]
        sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        cnt = float(w * h)
        return (fmt, w, h, sums[0] / cnt, sums[1] / cnt, sums[2] / cnt)
    return None


PIXEL_STATS_SCHEMA = (
    "id long, format string, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def pixel_stats(df: DataFrame) -> DataFrame:
    """REAL distributed pixel decode: ``decode_pixels`` per payload.
    Decodes uncompressed BMP/PPM/baseline-TIFF rasters, PNG (all five
    color types, depth 8/16, interlaced or not), GIF, and JPEG
    (baseline SOF0 and progressive SOF2); anything else (arithmetic
    JPEG, compressed video) yields null format/stats rows (filter on
    ``format`` downstream)."""

    def rows(b):
        p = decode_pixels(b)
        return None if p is None else [p]

    return payload_rows(df, PIXEL_STATS_SCHEMA, rows)


DHASH_SCHEMA = "id long, format string, dhash long"

# Perceptual-hash grid: DHASH_W x DHASH_H gradient comparisons = 60
# bits. The published dHash recipe uses a free grid parameter
# (9x8 -> 64 bits is the blog-classic); 60 bits keeps the fingerprint
# exactly representable in a SIGNED 64-bit integer on BOTH engines
# (DuckDB's 15-hex-char md5 slice trick, q150) and divides evenly
# into the pigeonhole bands hamming search needs (dedup.py).
DHASH_W, DHASH_H = 10, 6
DHASH_BITS_TOTAL = DHASH_W * DHASH_H


def dhash_bits(px: "np.ndarray") -> int:
    """dHash of an h×w×3 uint8 RGB raster: integer-mean grayscale,
    nearest-neighbor downsample to (DHASH_W+1) × DHASH_H with the
    SAME exact index arithmetic as resize_payloads (source pixel
    (x*sw//W, y*sh//H)), then bit (y*DHASH_W + x) = 1 iff
    gray[y, x] < gray[y, x+1] — each bit is a horizontal gradient
    sign, which survives brightness/contrast shifts and re-encoding,
    the property that makes dHash a NEAR-duplicate key where md5 is
    an exact one. All-integer: bit-reproducible anywhere."""
    sh, sw = px.shape[:2]
    gray = px.astype(np.int64).sum(axis=2) // 3
    ys = np.arange(DHASH_H) * sh // DHASH_H
    xs = np.arange(DHASH_W + 1) * sw // (DHASH_W + 1)
    g = gray[ys][:, xs]
    bits = (g[:, :-1] < g[:, 1:]).astype(np.int64)  # (H, W) bit grid
    weights = np.int64(1) << (
        np.arange(DHASH_H * DHASH_W, dtype=np.int64).reshape(DHASH_H, DHASH_W)
    )
    return int((bits * weights).sum())


_PHASH_N = 32  # pHash analysis grid (32x32 gray, standard choice)
_DCT_CACHE: dict[int, "np.ndarray"] = {}


def _dct_matrix(n: int) -> "np.ndarray":
    """Orthonormal n-point DCT-II basis — the n=32 generalization of
    the 8x8 matrix jpeg.py uses for encode/decode. Cached: phash_bits
    runs per image inside the Arrow hot loop, and the basis is a
    deterministic constant (2048 cos() calls otherwise paid per
    row)."""
    import math

    cached = _DCT_CACHE.get(n)
    if cached is not None:
        return cached

    out = np.array(
        [
            [
                (math.sqrt(1.0 / n) if u == 0 else math.sqrt(2.0 / n))
                * math.cos((2 * x + 1) * u * math.pi / (2 * n))
                for x in range(n)
            ]
            for u in range(n)
        ],
        dtype=np.float64,
    )
    _DCT_CACHE[n] = out
    return out


def phash_bits(px: "np.ndarray") -> int:
    """60-bit DCT perceptual hash: integer-mean grayscale, NN resample
    to 32x32 (same exact index arithmetic as dHash/resize), 2D DCT-II
    (the jpeg.py basis generalized to n=32), keep the low-frequency
    8x8 block, take its first 60 AC coefficients in JPEG zigzag
    order, threshold each against their median. Brightness shifts
    land only in DC and positive contrast scaling multiplies ACs and
    median alike, so both leave the hash unchanged; unlike dHash the
    signature keys on global spectral shape, surviving high-frequency
    noise. 60 bits feed ``dedup.hamming_near_pairs`` directly."""
    from synthea_etl_spark.operators.jpeg import _ZZ

    sh, sw = px.shape[:2]
    gray = px.astype(np.float64).sum(axis=2) / 3.0
    ys = np.arange(_PHASH_N) * sh // _PHASH_N
    xs = np.arange(_PHASH_N) * sw // _PHASH_N
    g = gray[ys][:, xs]
    A = _dct_matrix(_PHASH_N)
    low = (A @ g @ A.T)[:8, :8]
    flat = low.flatten()
    coefs = np.array([flat[p] for p in _ZZ[1:61]])  # skip DC
    med = np.median(coefs)
    bits = (coefs > med).astype(np.int64)
    return int((bits * (np.int64(1) << np.arange(60, dtype=np.int64))).sum())


def phash_fingerprints(df: DataFrame) -> DataFrame:
    """Distributed pHash over decoded rasters — same contract as
    ``dhash_fingerprints`` (null degradation for undecodable
    payloads) with its own ``phash`` column, so a frame of pHashes
    can never be silently joined/unioned against the incomparable
    dHash space."""

    def rows(b):
        dec = decode_raster(b)
        return None if dec is None else [(dec[0], phash_bits(dec[1]))]

    return payload_rows(df, "id long, format string, phash long", rows)


def dhash_fingerprints(df: DataFrame) -> DataFrame:
    """Distributed perceptual fingerprinting: (id, payload) ->
    (id, format, dhash) via ``decode_raster`` + ``dhash_bits`` — the
    decoder↔dedup bridge. Payloads decode_raster can't read degrade to
    null format/dhash rows. Feed the result to
    ``dedup.hamming_near_pairs(out, "id", "dhash", 60, k)`` for exact
    hamming≤k near-dup pairs via pigeonhole banding — no all-pairs
    compare, no Python past this stage."""

    def rows(b):
        dec = decode_raster(b)
        return None if dec is None else [(dec[0], dhash_bits(dec[1]))]

    return payload_rows(df, DHASH_SCHEMA, rows)


def raster_exact_fingerprints(df: DataFrame) -> DataFrame:
    """Container-invariant EXACT image dedup key: (id, format, w, h,
    raster_md5), where raster_md5 hashes the DECODED h×w×3 RGB bytes
    prefixed by the dimensions — so the same pixels stored as PPM,
    BMP, PNG, TIFF, ... share one key while container-level byte
    differences (headers, compression, palette order, stride padding)
    are invisible. The multimodal analog of exact text dedup's
    fingerprint (operators/dedup.py): one Arrow decode stage, then
    dedup is a plain groupBy on the 32-hex key. Undecodable payloads
    degrade to null rows (the standard mixed-corpus contract)."""
    import hashlib

    def rows(b):
        dec = decode_raster(b) if b is not None else None
        if dec is None:
            return None
        px = np.ascontiguousarray(dec[1], dtype=np.uint8)
        h, w = px.shape[:2]
        key = hashlib.md5(b"%dx%d|" % (w, h) + px.tobytes()).hexdigest()
        return [(dec[0], w, h, key)]

    return payload_rows(
        df,
        "id long, format string, width int, height int, raster_md5 string",
        rows,
    )


RESIZED_SCHEMA = (
    "id long, payload binary, "
    "meta struct<n_bytes: long, content_type: string, width: int, height: int>"
)


def resize_payloads(df: DataFrame, width: int, height: int) -> DataFrame:
    """Distributed image resize: payload -> re-encoded payload +
    updated (width, height) metadata, 1-to-1 via mapInPandas.

    Codec-free end to end: ``decode_raster`` (24-bit BMP / binary PPM /
    baseline TIFF / 8-bit PNG) -> nearest-neighbor resample (target
    pixel (x, y) samples source (x*sw//width, y*sh//height) — exact
    integer index arithmetic, so results are deterministic and
    oracle-checkable) -> ``encode_ppm`` re-encode with content_type
    image/x-portable-pixmap. Payloads ``decode_raster`` can't read
    (compressed formats would need a codec to re-ENCODE even where we
    can decode them) degrade to a null-payload row with the input
    content_type preserved — same mixed-corpus contract as
    pixel_stats."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        xs = np.arange(width)
        ys = np.arange(height)
        for pdf in batches:
            payloads, metas = [], []
            for b, m in zip(pdf["payload"], pdf["meta"]):
                dec = decode_raster(b)
                if dec is None:
                    payloads.append(None)
                    metas.append(
                        {
                            "n_bytes": None,
                            "content_type": m["content_type"],
                            "width": None,
                            "height": None,
                        }
                    )
                    continue
                _, px = dec
                sh, sw = px.shape[:2]
                out = px[ys * sh // height][:, xs * sw // width]
                p = encode_ppm(out)
                payloads.append(p)
                metas.append(
                    {
                        "n_bytes": len(p),
                        "content_type": "image/x-portable-pixmap",
                        "width": width,
                        "height": height,
                    }
                )
            yield pd.DataFrame(
                {"id": pdf["id"], "payload": payloads, "meta": metas}
            )

    return df.mapInPandas(resize, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = "id long, frame_idx int, frame binary, n_frames int"


def sample_frames(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Distributed frame sampling: one input payload -> 0..k frame
    rows. Decodes Y4M containers via ``parse_y4m`` and emits every
    ``every_n``-th frame's raw plane bytes (Y then U then V,
    concatenated — the container's own frame payload layout); non-Y4M
    payloads yield no rows (compressed video would need pyav/ffmpeg,
    which can slot into the same row-explosion shape)."""

    def rows(b):
        parsed = parse_y4m(b)
        if parsed is None:
            return []
        frames = parsed[3]
        return [
            (fi, b"".join(p for p in frames[fi] if p is not None), len(frames))
            for fi in range(0, len(frames), every_n)
        ]

    return payload_rows(df, FRAME_SCHEMA, rows)


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2) video: REAL codec-free container decode
# ---------------------------------------------------------------------------
# YUV4MPEG2 is the one video container a codec-free environment can
# fully read: a single ASCII header line, then per frame an ASCII
# "FRAME" marker line followed by raw planar YUV samples. No entropy
# coding, no inter-frame prediction — frame extraction is exact byte
# slicing, the video analogue of PPM for images. Layout per the
# public mjpegtools yuv4mpeg(5) spec. Reference scope note: the
# reference (Glue_Scripts/*.py) carries no media at all; this is
# beyond-reference LLM-pipeline surface (BASELINE.json north star).

_Y4M_MAGIC = b"YUV4MPEG2"
_Y4M_MAX_HEADER = 1024          # ASCII header lines are tiny; cap parse scan
_Y4M_MAX_PIXELS = 1 << 24       # per-frame luma bomb cap (same posture as PNG)
_Y4M_MAX_FRAMES = 1 << 16

# colorspace tag -> chroma plane size as (w_div, h_div); None = no chroma
_Y4M_CHROMA = {
    "C420": (2, 2),
    "C420jpeg": (2, 2),
    "C420mpeg2": (2, 2),
    "C420paldv": (2, 2),
    "C422": (2, 1),
    "C444": (1, 1),
    "Cmono": None,
}


def encode_y4m(
    width: int,
    height: int,
    frames: list[tuple[bytes, bytes, bytes]],
    colorspace: str = "C420jpeg",
    frame_params: str = "",
) -> bytes:
    """Build a spec-valid YUV4MPEG2 stream: stream header with W/H/F/
    I/A/C tokens, then per frame a FRAME marker (optionally carrying
    an X-style parameter, which decoders must skip) and the raw
    planes. ``frames`` is a list of (y, u, v) plane byte strings
    (u/v ignored for Cmono). Sizes are validated against the
    colorspace's subsampling so tests can't accidentally build a
    stream the parser would rightly reject."""
    chroma = _Y4M_CHROMA[colorspace]
    cs_token = b" " + colorspace.encode()
    out = [
        _Y4M_MAGIC
        + b" W%d H%d F25:1 Ip A1:1" % (width, height)
        + cs_token
        + b"\n"
    ]
    n_luma = width * height
    n_chroma = 0 if chroma is None else (width // chroma[0]) * (height // chroma[1])
    marker = b"FRAME" + (b" " + frame_params.encode() if frame_params else b"") + b"\n"
    for y, u, v in frames:
        if len(y) != n_luma:
            raise ValueError(f"luma plane {len(y)} != {n_luma}")
        if chroma is None:
            out.append(marker + y)
            continue
        if len(u) != n_chroma or len(v) != n_chroma:
            raise ValueError(f"chroma planes {len(u)}/{len(v)} != {n_chroma}")
        out.append(marker + y + u + v)
    return b"".join(out)


def parse_y4m(
    b: bytes,
) -> tuple[int, int, str, list[tuple[bytes, bytes | None, bytes | None]]] | None:
    """Parse a YUV4MPEG2 stream into (width, height, colorspace,
    [(y, u, v) plane bytes per frame]); u/v are None for Cmono.

    Strict-reject posture (same as the PNG decoder): any malformed
    header, unsupported colorspace, odd dimensions under subsampling,
    truncated frame, or bomb-cap violation returns None rather than a
    partial result. Bounded: header scan capped at _Y4M_MAX_HEADER
    bytes, luma plane at _Y4M_MAX_PIXELS, frame count at
    _Y4M_MAX_FRAMES — a hostile payload cannot force large
    allocations beyond its own length."""
    b = bytes(b)
    if not b.startswith(_Y4M_MAGIC):
        return None
    nl = b.find(b"\n", 0, _Y4M_MAX_HEADER)
    if nl < 0:
        return None
    try:
        tokens = b[:nl].decode("ascii").split(" ")
    except UnicodeDecodeError:
        return None
    if tokens[0] != "YUV4MPEG2":
        return None
    width = height = None
    colorspace = "C420jpeg"  # spec default when no C token present
    for tok in tokens[1:]:
        if not tok:
            return None  # double space — malformed header
        if tok[0] == "W":
            if not tok[1:].isdigit():
                return None
            width = int(tok[1:])
        elif tok[0] == "H":
            if not tok[1:].isdigit():
                return None
            height = int(tok[1:])
        elif tok[0] == "C":
            colorspace = tok
        # F (framerate), I (interlace), A (aspect), X (extension)
        # don't affect plane layout; skip
    if width is None or height is None or width <= 0 or height <= 0:
        return None
    if width * height > _Y4M_MAX_PIXELS:
        return None
    if colorspace not in _Y4M_CHROMA:
        return None
    chroma = _Y4M_CHROMA[colorspace]
    if chroma is not None and (width % chroma[0] or height % chroma[1]):
        return None
    n_luma = width * height
    n_chroma = 0 if chroma is None else (width // chroma[0]) * (height // chroma[1])
    frame_size = n_luma + 2 * n_chroma
    frames: list[tuple[bytes, bytes | None, bytes | None]] = []
    pos = nl + 1
    while pos < len(b):
        if len(frames) >= _Y4M_MAX_FRAMES:
            return None
        if b[pos : pos + 5] != b"FRAME":
            return None
        fnl = b.find(b"\n", pos, pos + _Y4M_MAX_HEADER)
        if fnl < 0:
            return None
        # FRAME may carry parameters: "FRAME Xfoo\n" — anything
        # between the marker and the newline is skippable metadata,
        # but a non-space right after FRAME (e.g. "FRAMEX") is not a
        # valid marker line
        if fnl != pos + 5 and b[pos + 5 : pos + 6] != b" ":
            return None
        pos = fnl + 1
        if pos + frame_size > len(b):
            return None  # truncated frame
        y = b[pos : pos + n_luma]
        if chroma is None:
            frames.append((y, None, None))
        else:
            u = b[pos + n_luma : pos + n_luma + n_chroma]
            v = b[pos + n_luma + n_chroma : pos + frame_size]
            frames.append((y, u, v))
        pos += frame_size
    return (width, height, colorspace, frames)


VIDEO_FRAME_STATS_SCHEMA = (
    "id long, frame_idx int, n_frames int, width int, height int, "
    "colorspace string, mean_y double, mean_u double, mean_v double"
)


def _plane_mean(plane: bytes | None) -> float | None:
    """Exact mean of a u8 sample plane (int64 sum / size); None for an
    absent plane."""
    if plane is None:
        return None
    return int(np.frombuffer(plane, np.uint8).sum(dtype=np.int64)) / len(plane)


def video_frame_stats(df: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL distributed video frame decode, no codec: parse_y4m per
    payload, keeping every ``every_n``-th frame (1-to-many). Per kept
    frame, per-plane means are exact int64 sums / plane size
    (deterministic at any parallelism); Cmono rows carry null chroma
    means. Non-Y4M / malformed payloads yield a single null-stats row
    (filter on ``colorspace`` downstream)."""

    def rows(b):
        parsed = parse_y4m(b)
        if parsed is None:
            return None
        w, h, cs, frames = parsed
        return [
            (fi, len(frames), w, h, cs, *map(_plane_mean, frames[fi]))
            for fi in range(0, len(frames), every_n)
        ]

    return payload_rows(df, VIDEO_FRAME_STATS_SCHEMA, rows)


# ---------------------------------------------------------------------------
# WAV (RIFF PCM) audio: REAL codec-free container decode
# ---------------------------------------------------------------------------
# Uncompressed PCM WAV completes the modality trio: PPM/BMP for
# images, Y4M for video, RIFF/WAVE for audio — each the format a
# codec-free environment can fully read. The RIFF layout (chunk
# fourcc + little-endian u32 size, odd sizes padded to even) and the
# fmt/data chunk fields are from the public multimedia programming
# interface spec (IBM/Microsoft, 1991). Reference scope note: the
# reference (Glue_Scripts/*.py) carries no media; beyond-reference
# LLM-pipeline surface (BASELINE.json north star).

_WAV_MAX_BYTES = 1 << 28        # data chunk bomb cap (256 MiB)
_WAV_MAX_CHANNELS = 64


def encode_wav(
    sample_rate: int,
    channels: list[bytes],
    bits: int = 16,
    junk_chunk: bytes | None = None,
) -> bytes:
    """Build a spec-valid RIFF/WAVE file: canonical 16-byte PCM fmt
    chunk, optional extra chunk before data (decoders must skip
    unknown chunks; odd sizes get the RIFF pad byte), then
    channel-interleaved PCM frames. ``channels`` is one raw
    little-endian sample array per channel (u8 for bits=8, s16le for
    bits=16, s24le for bits=24), equal lengths."""
    import struct

    if bits not in (8, 16, 24):
        raise ValueError("PCM bits must be 8, 16, or 24")
    width = bits // 8
    n = len(channels[0]) // width
    if any(len(c) != n * width for c in channels):
        raise ValueError("channel sample arrays must have equal length")
    nch = len(channels)
    # interleave: frame-major, channel-minor
    frames = bytearray()
    for j in range(n):
        for c in channels:
            frames += c[j * width : (j + 1) * width]
    fmt = struct.pack(
        "<HHIIHH", 1, nch, sample_rate, sample_rate * nch * width,
        nch * width, bits,
    )
    chunks = [b"fmt " + struct.pack("<I", len(fmt)) + fmt]
    if junk_chunk is not None:
        chunks.append(b"JUNK" + struct.pack("<I", len(junk_chunk)) + junk_chunk)
        if len(junk_chunk) % 2:
            chunks.append(b"\x00")  # RIFF pad byte on odd chunk sizes
    chunks.append(b"data" + struct.pack("<I", len(frames)) + bytes(frames))
    if len(frames) % 2:
        chunks.append(b"\x00")
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_float32(
    sample_rate: int, channels: list[list[float]]
) -> bytes:
    """Spec-valid IEEE-float RIFF/WAVE: fmt tag 3, 32-bit samples,
    cbSize=0 extension field (non-PCM tags carry it), frame-
    interleaved little-endian float32."""
    import struct

    n = len(channels[0])
    if any(len(c) != n for c in channels):
        raise ValueError("channel sample arrays must have equal length")
    nch = len(channels)
    frames = bytearray()
    for j in range(n):
        for c in channels:
            frames += struct.pack("<f", c[j])
    fmt = struct.pack(
        "<HHIIHHH", 3, nch, sample_rate, sample_rate * nch * 4, nch * 4,
        32, 0,
    )
    chunks = [b"fmt " + struct.pack("<I", len(fmt)) + fmt]
    chunks.append(b"data" + struct.pack("<I", len(frames)) + bytes(frames))
    if len(frames) % 2:
        chunks.append(b"\x00")
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(b: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """Decode a RIFF/WAVE payload into (channels, sample_rate, bits,
    samples), ``samples`` an (n_frames, channels) array. Walks the
    chunk list once (skipping unknown chunks, honoring the odd-size pad
    byte), takes the format from the fmt chunk and the samples from the
    data chunk. Formats and sample arrays:

    - PCM (tag 1): u8 as raw unsigned codes (offset-binary, 128 =
      silence), s16le, and s24le sign-extended to int64;
    - IEEE float (tag 3, 32-bit): float32, all finite;
    - G.711 mu-law / A-law (tags 7 / 6): int16 linear samples through
      the exact table expansion in operators/audio_codecs;
    - IMA/DVI ADPCM (tag 0x11): linear samples, block-decoded with
      header predictors and the standard step/index state machine.

    Strict-reject posture, same as the image and Y4M decoders:
    truncated chunks, unsupported tags (MPEG, extensible), float64,
    NaN/inf samples, zero or absurd channel counts, ragged
    frames/blocks, or bomb-cap violations all return None."""
    b = bytes(b)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    riff_size = int.from_bytes(b[4:8], "little")
    if riff_size + 8 > len(b):
        return None  # truncated vs declared RIFF size
    fmt = None
    data = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if size > _WAV_MAX_BYTES:
            return None
        if pos + 8 + size > len(b):
            return None  # truncated chunk
        payload = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = payload
        elif cid == b"data":
            data = payload
        pos += 8 + size + (size % 2)  # odd chunk sizes carry a pad byte
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format = int.from_bytes(fmt[0:2], "little")
    nch = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    block_align = int.from_bytes(fmt[12:14], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if not 0 < nch <= _WAV_MAX_CHANNELS or sample_rate <= 0:
        return None
    if audio_format in (6, 7):  # G.711 A-law / mu-law: 8-bit codes
        from synthea_etl_spark.operators.audio_codecs import (
            alaw_to_linear,
            ulaw_to_linear,
        )

        if bits != 8 or len(data) % nch:
            return None  # partial trailing frame
        expand = ulaw_to_linear if audio_format == 7 else alaw_to_linear
        samples = expand(data).reshape(-1, nch)
    elif audio_format == 0x11:  # IMA/DVI ADPCM: 4-bit block-coded
        from synthea_etl_spark.operators.audio_codecs import decode_ima_adpcm

        if bits != 4:
            return None
        samples = decode_ima_adpcm(data, nch, block_align)
        if samples is None:
            return None
    elif audio_format == 3:  # IEEE float PCM
        if bits != 32 or len(data) % (nch * 4):
            return None  # float64 WAVs are vanishingly rare; explicit
        samples = np.frombuffer(data, np.dtype("<f4")).reshape(-1, nch)
        if not np.isfinite(samples).all():
            return None  # NaN/inf poison aggregate stats: reject
    elif audio_format == 1 and bits in (8, 16, 24):
        if len(data) % (nch * (bits // 8)):
            return None  # partial trailing frame
        if bits == 24:  # s24le: assemble + sign-extend, no 3-byte dtype
            tri = np.frombuffer(data, np.uint8).reshape(-1, 3).astype(np.int64)
            vals = tri[:, 0] | (tri[:, 1] << 8) | (tri[:, 2] << 16)
            vals -= (vals >= 1 << 23) * (1 << 24)
            samples = vals.reshape(-1, nch)
        else:
            dt = np.uint8 if bits == 8 else np.dtype("<i2")
            samples = np.frombuffer(data, dt).reshape(-1, nch)
    else:
        return None  # no extensible/other compressed tags
    return (nch, sample_rate, bits, samples)


def parse_wav(
    b: bytes,
) -> tuple[int, int, int, int, list[float]] | None:
    """Parse a RIFF/WAVE payload into (channels, sample_rate, bits,
    n_frames, per-channel exact means): ``channel_means`` of
    ``decode_wav``'s samples — in the DECODED linear domain for the
    compressed tags, over the raw codes for u8 PCM. None where
    ``decode_wav`` rejects."""
    dec = decode_wav(b)
    if dec is None:
        return None
    nch, sample_rate, bits, samples = dec
    return (nch, sample_rate, bits, len(samples), channel_means(samples))


def channel_means(samples: np.ndarray) -> list[float]:
    """Exact per-channel means of an (n_frames, channels) sample array:
    int64 sums for integer samples, float64 for float, / n_frames; []
    when there are no frames."""
    n = len(samples)
    if not n:
        return []
    acc = np.float64 if samples.dtype.kind == "f" else np.int64
    return [float(s) / n for s in samples.astype(acc).sum(axis=0)]


AUDIO_STATS_SCHEMA = (
    "id long, channels int, sample_rate int, bits int, n_frames int, "
    "mean_left double, mean_right double"
)


def audio_stats(df: DataFrame) -> DataFrame:
    """REAL distributed audio decode, no codec: parse_wav per payload.
    Reports exact per-channel sample means for the first two channels
    (mean_right null for mono; payloads with >2 channels still decode,
    extra channel means are simply not surfaced in this fixed-schema
    report). Non-WAV / malformed payloads yield null-stats rows."""

    def rows(b):
        p = parse_wav(b)
        return None if p is None else [(*p[:4], *(p[4] + [None, None])[:2])]

    return payload_rows(df, AUDIO_STATS_SCHEMA, rows)


AUDIO_SPECTRAL_SCHEMA = (
    "id long, channels int, sample_rate int, n_frames int, "
    "n_fft int, dominant_bin int"
)


def audio_spectral(df: DataFrame, n_fft: int = 64) -> DataFrame:
    """REAL distributed audio DSP, no codec: decode_wav -> first
    channel -> rfft over the first ``n_fft`` samples -> dominant
    non-DC frequency bin (argmax of |X[k]|, k in 1..n_fft/2). The
    numerical claim that makes this oracle-checkable: a quantized
    pure tone centered ON a bin has a spectral peak of order
    amplitude*n_fft/2 against quantization noise of order sqrt(n_fft),
    so the argmax is unambiguous and platform-independent even though
    the FFT itself is floating-point. Every format ``decode_wav``
    reads works; u8 PCM is centered first. Payloads that are not WAV
    or are shorter than n_fft frames yield null bin rows."""

    def rows(b):
        dec = decode_wav(b)
        if dec is None or len(dec[3]) < n_fft:
            return [(None, None, None, n_fft, None)]
        nch, rate, _, samples = dec
        x = samples[:n_fft, 0].astype(np.float64)
        if samples.dtype == np.uint8:
            x -= 128.0  # u8 PCM is offset-binary
        k = int(np.argmax(np.abs(np.fft.rfft(x))[1:])) + 1  # exclude DC
        return [(nch, rate, len(samples), n_fft, k)]

    return payload_rows(df, AUDIO_SPECTRAL_SCHEMA, rows)


AUDIO_WINDOW_SCHEMA = (
    "id long, window_idx int, n_windows int, window int, "
    "rms double, mean double"
)


def audio_rms_windows(df: DataFrame, window: int = 16) -> DataFrame:
    """Windowed audio feature extraction, no codec: decode_wav ->
    first channel -> non-overlapping windows of ``window`` frames ->
    per-window RMS (sqrt of the mean of squares) and mean, over exact
    int64 sums for integer samples (u8 PCM as raw codes, G.711 and
    ADPCM as decoded linear samples) and float64 for float samples.
    1-to-many, the audio analogue of video_frame_stats' frame
    sampling. Trailing partial windows are dropped (a deliberate,
    documented choice: fixed-length windows are what downstream
    spectral/feature code expects). Non-WAV payloads, and WAVs
    shorter than one window, yield a single null-window row."""

    def rows(b):
        dec = decode_wav(b)
        if dec is None or len(dec[3]) < window:
            return [(None, None, window, None, None)]
        ch0 = dec[3][:, 0]
        x = ch0.astype(np.float64 if ch0.dtype.kind == "f" else np.int64)
        n_windows = len(x) // window
        w = x[: n_windows * window].reshape(n_windows, window)
        sums = w.sum(axis=1)
        sqsums = (w * w).sum(axis=1)
        return [
            (wi, n_windows, window, float(np.sqrt(sqsums[wi] / window)),
             sums[wi] / window)
            for wi in range(n_windows)
        ]

    return payload_rows(df, AUDIO_WINDOW_SCHEMA, rows)


GIF_FRAME_STATS_SCHEMA = (
    "id long, frame_idx int, n_frames int, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def gif_frame_stats(df: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL animated-GIF frame decode, no codec: decode_gif_frames
    (operators/gif.py — full LZW per frame, per-frame local color
    tables, GCE/application-extension skipping) per payload, keeping
    every ``every_n``-th frame — the same 1-to-many explosion as
    video_frame_stats, for the web's most common animation container.
    Per kept frame, exact int64-sum channel means. Non-GIF / malformed
    payloads yield a single null-stats row."""
    from synthea_etl_spark.operators.gif import decode_gif_frames

    def rows(b):
        dec = decode_gif_frames(b)
        if dec is None:
            return None
        w, h, means = dec
        return [
            (fi, len(means), w, h, *means[fi])
            for fi in range(0, len(means), every_n)
        ]

    return payload_rows(df, GIF_FRAME_STATS_SCHEMA, rows)
