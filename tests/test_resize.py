"""Real raster resize: decode_raster orientation, encode_ppm round
trip, nearest-neighbor index math (against a loop-written reference),
and the distributed resize_payloads operator's real path.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from synthea_etl_spark.operators.multimodal import (
    decode_pixels,
    decode_raster,
    encode_ppm,
)
from tests.test_multimodal_pixels import make_bmp


def make_ppm(width: int, height: int, pixels_rgb) -> bytes:
    return b"P6\n%d %d\n255\n" % (width, height) + b"".join(
        bytes(p) for p in pixels_rgb
    )


def test_raster_bmp_bottom_up_is_flipped_to_top_down():
    # visual top row = (1,2,3),(4,5,6); bottom row = (7,8,9),(10,11,12)
    # make_bmp takes BGR pixels in visual (top-down) order
    px_bgr = [(3, 2, 1), (6, 5, 4), (9, 8, 7), (12, 11, 10)]
    fmt, ras = decode_raster(make_bmp(2, 2, px_bgr))
    assert fmt == "bmp"
    assert ras.tolist() == [
        [[1, 2, 3], [4, 5, 6]],
        [[7, 8, 9], [10, 11, 12]],
    ]
    # top-down storage must produce the identical raster
    _, ras_td = decode_raster(make_bmp(2, 2, px_bgr, top_down=True))
    assert np.array_equal(ras, ras_td)


def test_raster_ppm_is_read_in_storage_order():
    px = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    fmt, ras = decode_raster(make_ppm(2, 2, px))
    assert fmt == "ppm"
    assert ras.reshape(-1, 3).tolist() == [list(p) for p in px]


def test_raster_rejects_what_decode_pixels_rejects():
    for b in (b"", b"BMx", make_bmp(2, 2, [(0, 0, 0)] * 4)[:-1], b"P6\n0 2\n255\n"):
        assert decode_raster(b) is None


def test_encode_ppm_roundtrip():
    ras = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    fmt, back = decode_raster(encode_ppm(ras))
    assert fmt == "ppm" and np.array_equal(back, ras)


def test_decode_pixels_means_unchanged_by_raster_refactor():
    # same fixtures the certified q125 shape uses: means must match
    # the closed form base + 3*mean_j + channel offset
    px_bgr = [(i * 3 + 2, i * 3 + 1, i * 3) for i in range(4)]  # B,G,R ramps
    fmt, w, h, mr, mg, mb = decode_pixels(make_bmp(4, 1, px_bgr))
    assert (fmt, w, h) == ("bmp", 4, 1)
    assert (mr, mg, mb) == (4.5 + 0, 4.5 + 1, 4.5 + 2)  # 3*mean_j = 4.5


def _nn_reference(ras, tw, th):
    sh, sw = ras.shape[:2]
    out = np.empty((th, tw, 3), np.uint8)
    for y in range(th):
        for x in range(tw):
            out[y, x] = ras[y * sh // th, x * sw // tw]
    return out


@given(
    sw=st.integers(1, 6),
    sh=st.integers(1, 6),
    tw=st.integers(1, 6),
    th=st.integers(1, 6),
    seed=st.integers(0, 200),
)
@settings(max_examples=120, deadline=None)
def test_nn_resample_matches_loop_reference(sw, sh, tw, th, seed):
    rng = np.random.default_rng(seed)
    ras = rng.integers(0, 256, (sh, sw, 3), dtype=np.uint8)
    xs, ys = np.arange(tw), np.arange(th)
    fast = ras[ys * sh // th][:, xs * sw // tw]
    assert np.array_equal(fast, _nn_reference(ras, tw, th))


def test_resize_payloads_real_path_distributed(spark):
    """Real path end to end: BMP and PPM inputs resize to exact NN
    rasters re-encoded as PPM; identity-size resize preserves pixels;
    an undecodable payload degrades to a null-payload row with its
    content_type preserved."""
    from synthea_etl_spark.operators.multimodal import resize_payloads

    ppm_px = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]  # 2x2
    bmp_bgr = [(3, 2, 1), (6, 5, 4), (9, 8, 7), (12, 11, 10)]  # 2x2 visual
    rows = [
        (1, make_ppm(2, 2, ppm_px), {"n_bytes": 27, "content_type": "image/x-portable-pixmap"}),
        (2, make_bmp(2, 2, bmp_bgr), {"n_bytes": 70, "content_type": "image/bmp"}),
        (3, b"\x89PNG not really", {"n_bytes": 16, "content_type": "image/png"}),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, payload binary, meta struct<n_bytes: long, content_type: string>",
    ).repartition(2)

    out = {r.id: r for r in resize_payloads(df, 1, 1).collect()}
    # NN 1x1 samples source (0, 0)
    assert decode_raster(bytes(out[1].payload))[1].tolist() == [[[1, 2, 3]]]
    assert decode_raster(bytes(out[2].payload))[1].tolist() == [[[1, 2, 3]]]
    for i in (1, 2):
        assert out[i].meta.content_type == "image/x-portable-pixmap"
        assert (out[i].meta.width, out[i].meta.height) == (1, 1)
        assert out[i].meta.n_bytes == len(bytes(out[i].payload))
    assert out[3].payload is None
    assert out[3].meta.content_type == "image/png"
    assert out[3].meta.width is None

    # identity-size resize is lossless for both input formats
    ident = {r.id: r for r in resize_payloads(df, 2, 2).collect()}
    assert decode_raster(bytes(ident[1].payload))[1].reshape(-1, 3).tolist() == [
        list(p) for p in ppm_px
    ]
    assert decode_raster(bytes(ident[2].payload))[1].tolist() == [
        [[1, 2, 3], [4, 5, 6]],
        [[7, 8, 9], [10, 11, 12]],
    ]


def test_raster_png_all_color_types():
    """Non-interlaced 8-bit PNG decodes to a spatial raster in every
    color type: palette resolved, gray replicated to RGB, alpha
    dropped — and the raster matches the PPM ground truth."""
    from synthea_etl_spark.operators.multimodal import encode_png

    px = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    truth = decode_raster(make_ppm(2, 2, px))[1]
    for ct in (2, 3, 6):
        fmt, ras = decode_raster(encode_png(2, 2, px, colortype=ct))
        assert fmt == "png" and np.array_equal(ras, truth), ct
    gray = [(9,), (20,), (31,), (42,)]
    fmt, ras = decode_raster(
        encode_png(2, 2, [(g[0], g[0], g[0]) for g in gray], colortype=0)
    )
    assert fmt == "png"
    assert ras.tolist() == [
        [[9, 9, 9], [20, 20, 20]],
        [[31, 31, 31], [42, 42, 42]],
    ]


def test_raster_rejects_16bit_png_but_takes_interlaced():
    """16-bit PNG stays stats-only (exceeds the PPM re-encode range);
    interlaced 8-bit now yields a real spatial raster via Adam7
    reassembly."""
    from synthea_etl_spark.operators.multimodal import (
        decode_pixels,
        encode_png,
    )

    px = [(1, 2, 3)] * 4
    deep = encode_png(2, 2, px, colortype=2, bitdepth=16)
    assert decode_raster(deep) is None       # no spatial raster...
    assert decode_pixels(deep) is not None   # ...but stats still work
    inter = encode_png(2, 2, px, colortype=2, interlace=1)
    got = decode_raster(inter)
    assert got is not None and got[0] == "png"
    assert got[1].tolist() == [[[1, 2, 3]] * 2] * 2


def test_resize_png_through_operator(spark):
    from synthea_etl_spark.operators.multimodal import (
        encode_png,
        resize_payloads,
    )

    px = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    rows = [(1, encode_png(2, 2, px, colortype=2),
             {"n_bytes": 1, "content_type": "image/png"})]
    df = spark.createDataFrame(
        rows,
        "id long, payload binary, meta struct<n_bytes: long, content_type: string>",
    )
    r = resize_payloads(df, 1, 1).collect()[0]
    assert decode_raster(bytes(r.payload))[1].tolist() == [[[1, 2, 3]]]
    assert r.meta.content_type == "image/x-portable-pixmap"


def test_interlaced_png_raster_matches_plain():
    """Adam7 spatial reassembly: the interlaced encoding of a raster
    must decode (via decode_raster) to exactly the same spatial array
    as the plain encoding — so resize now accepts interlaced PNGs."""
    import random

    import numpy as np

    from synthea_etl_spark.operators.multimodal import (
        decode_raster,
        encode_png,
    )

    rng = random.Random(21)
    for _ in range(30):
        w, h = rng.randint(1, 12), rng.randint(1, 12)
        ct = rng.choice([0, 2, 3])
        px = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(w * h)
        ]
        if ct == 0:
            px = [(r, r, r) for r, _g, _b in px]
        if ct == 3:
            pal = px[: min(8, len(px))]
            px = [pal[i % len(pal)] for i in range(w * h)]
        _f1, plain = decode_raster(encode_png(w, h, px, colortype=ct))
        got = decode_raster(encode_png(w, h, px, colortype=ct, interlace=1))
        assert got is not None
        assert np.array_equal(got[1], plain)


def test_jpeg_and_gif_rasters_resize():
    """The two formats that dominate real corpora now feed the resize
    path: decode_raster returns spatial RGB for JPEG (baseline and
    progressive, color and gray) and single-image GIF, consistent
    with decode_pixels' exact means."""
    import numpy as np

    from synthea_etl_spark.operators.gif import encode_gif
    from synthea_etl_spark.operators.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from synthea_etl_spark.operators.multimodal import decode_pixels

    for enc in (encode_jpeg, encode_jpeg_progressive):
        b = enc(16, 8, [(120, 30, 200)] * 128)
        fmt, ras = decode_raster(b)
        assert fmt == "jpeg" and ras.shape == (8, 16, 3)
        sums = ras.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        assert tuple(s / 128 for s in sums) == decode_pixels(b)[3:]
    g = encode_gif(4, 2, [0, 1] * 4, [(5, 6, 7), (8, 9, 10)])
    fmt, ras = decode_raster(g)
    assert fmt == "gif" and ras.shape == (2, 4, 3)
