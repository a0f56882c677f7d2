"""Y4M (YUV4MPEG2) video container decode: round-trip, strict-reject,
bomb caps, and the distributed frame-stats operator.

The parser is codec-free byte slicing (operators/multimodal.parse_y4m)
— the video analogue of the PPM image path — so the tests mirror the
image decoder suite: exact round trips over arbitrary geometry/plane
bytes (hypothesis), totality on arbitrary and truncated inputs, and
the strict-reject posture on every malformation class the spec allows
us to detect.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from synthea_etl_spark.operators.multimodal import (
    _Y4M_MAX_FRAMES,
    _Y4M_MAX_PIXELS,
    encode_y4m,
    parse_y4m,
)


def _planes(w, h, cs, seed=0):
    wd, hd = (2, 2) if cs.startswith("C420") else (1, 1) if cs == "C444" else (2, 1)
    nl, nc = w * h, (w // wd) * (h // hd)
    y = bytes((seed + j) % 256 for j in range(nl))
    if cs == "Cmono":
        return (y, None, None)
    u = bytes((seed + 29 + j) % 256 for j in range(nc))
    v = bytes((seed + 58 + j) % 256 for j in range(nc))
    return (y, u, v)


def test_roundtrip_all_colorspaces():
    for cs in ("C420", "C420jpeg", "C420mpeg2", "C420paldv", "C422", "C444", "Cmono"):
        frames = [_planes(4, 2, cs, seed=k) for k in range(3)]
        parsed = parse_y4m(encode_y4m(4, 2, frames, cs))
        assert parsed == (4, 2, cs, frames), cs


def test_default_colorspace_is_c420jpeg():
    # spec: no C token -> 4:2:0; build the header by hand
    y, u, v = _planes(2, 2, "C420jpeg")
    b = b"YUV4MPEG2 W2 H2 F25:1\nFRAME\n" + y + u + v
    assert parse_y4m(b) == (2, 2, "C420jpeg", [(y, u, v)])


def test_frame_parameters_are_skipped():
    frames = [_planes(2, 2, "C444", seed=k) for k in range(2)]
    b = encode_y4m(2, 2, frames, "C444", frame_params="Xsparkgraft T7")
    assert parse_y4m(b) == (2, 2, "C444", frames)


def test_header_x_and_unknown_tokens_are_skipped():
    y, u, v = _planes(2, 2, "C444")
    b = b"YUV4MPEG2 W2 H2 Xmeta C444 A1:1\nFRAME\n" + y + u + v
    assert parse_y4m(b) == (2, 2, "C444", [(y, u, v)])


@pytest.mark.parametrize(
    "b",
    [
        b"",
        b"YUV4MPEG",                                   # short magic
        b"yuv4mpeg2 W2 H2 C444\n",                     # case-sensitive
        b"YUV4MPEG2 W2 H2 C444",                       # no header newline
        b"YUV4MPEG2 H2 C444\n",                        # missing W
        b"YUV4MPEG2 W2 C444\n",                        # missing H
        b"YUV4MPEG2 W0 H2 C444\n",                     # zero dim
        b"YUV4MPEG2 W-2 H2 C444\n",                    # negative dim
        b"YUV4MPEG2 Wx H2 C444\n",                     # non-numeric dim
        b"YUV4MPEG2  W2 H2 C444\n",                    # double space
        b"YUV4MPEG2 W2 H2 C999\n",                     # unknown colorspace
        b"YUV4MPEG2 W3 H2 C420jpeg\n",                 # odd W under 4:2:0
        b"YUV4MPEG2 W2 H3 C420jpeg\n",                 # odd H under 4:2:0
        b"YUV4MPEG2 W3 H2 C422\n",                     # odd W under 4:2:2
    ],
)
def test_malformed_headers_rejected(b):
    assert parse_y4m(b) is None


def test_truncation_and_bad_markers_rejected():
    frames = [_planes(2, 2, "C444", seed=k) for k in range(2)]
    b = encode_y4m(2, 2, frames, "C444")
    # any truncation that cuts into a frame is a strict reject
    assert parse_y4m(b[:-1]) is None
    first_frame_mid = b.index(b"FRAME\n") + 8  # inside frame 0's planes
    assert parse_y4m(b[:first_frame_mid]) is None
    # a bare header is a VALID zero-frame stream, not a reject
    assert parse_y4m(b[: b.index(b"FRAME\n")]) == (2, 2, "C444", [])
    # garbage instead of a FRAME marker
    head, _, rest = b.partition(b"FRAME\n")
    assert parse_y4m(head + b"FRAMX\n" + rest) is None
    # "FRAMEX..." — params must be space-separated from the marker
    assert parse_y4m(head + b"FRAMEXp\n" + rest) is None
    # trailing garbage after the last complete frame
    assert parse_y4m(b + b"junk") is None


def test_pixel_and_frame_caps():
    # header alone triggers the luma bomb cap — no plane allocation
    w = _Y4M_MAX_PIXELS  # w*h = cap + something > cap with h=2
    assert parse_y4m(b"YUV4MPEG2 W%d H2 C444\n" % w) is None
    # frame-count cap: minimal 1x1 mono frames are 7 bytes each;
    # build cap+1 of them (tiny payload) and expect a strict reject
    frame = b"FRAME\n\x00"
    b = b"YUV4MPEG2 W1 H1 Cmono\n" + frame * (_Y4M_MAX_FRAMES + 1)
    assert parse_y4m(b) is None


@given(b=st.binary(max_size=400))
@settings(max_examples=300, deadline=None)
def test_parser_never_raises_on_arbitrary_bytes(b):
    for payload in (b, b"YUV4MPEG2" + b, b"YUV4MPEG2 " + b):
        r = parse_y4m(payload)
        assert r is None or len(r) == 4


@given(data=st.data())
@settings(max_examples=150, deadline=None)
def test_parser_never_raises_on_truncated_valid_streams(data):
    cs = data.draw(st.sampled_from(["C420jpeg", "C444", "C422", "Cmono"]))
    w = data.draw(st.integers(1, 3)) * 2
    h = data.draw(st.integers(1, 3)) * 2
    n = data.draw(st.integers(1, 3))
    b = encode_y4m(w, h, [_planes(w, h, cs, seed=k) for k in range(n)], cs)
    cut = data.draw(st.integers(0, len(b)))
    r = parse_y4m(b[:cut])
    # a prefix is either rejected or a valid stream with fewer frames
    if r is not None:
        assert r[0] == w and r[1] == h and r[2] == cs and len(r[3]) <= n


@given(
    w2=st.integers(1, 4),
    h2=st.integers(1, 4),
    n=st.integers(1, 4),
    cs=st.sampled_from(["C420", "C420jpeg", "C422", "C444", "Cmono"]),
    seed=st.integers(0, 255),
)
@settings(max_examples=100, deadline=None)
def test_roundtrip_any_geometry(w2, h2, n, cs, seed):
    w, h = w2 * 2, h2 * 2
    frames = [_planes(w, h, cs, seed=seed + 7 * k) for k in range(n)]
    assert parse_y4m(encode_y4m(w, h, frames, cs)) == (w, h, cs, frames)


def test_video_frame_stats_distributed(spark):
    """End-to-end through mapInPandas: sampling stride, exact plane
    means, mono null chroma, and the null-row degradation contract
    for a non-Y4M payload."""
    from synthea_etl_spark.operators.multimodal import video_frame_stats

    rows = [
        (1, encode_y4m(2, 2, [_planes(2, 2, "C444", seed=k * 10) for k in range(3)], "C444")),
        (2, encode_y4m(2, 2, [_planes(2, 2, "Cmono", seed=5)], "Cmono")),
        (3, b"not a video"),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(3)
    got = {
        (r.id, r.frame_idx): r
        for r in video_frame_stats(df, every_n=2).collect()
    }
    assert set(got) == {(1, 0), (1, 2), (2, 0), (3, None)}
    # C444 2x2: plane mean = seed_base + (4-1)/2
    assert got[(1, 0)].mean_y == 1.5 and got[(1, 2)].mean_y == 21.5
    assert got[(1, 0)].mean_u == 30.5 and got[(1, 0)].mean_v == 59.5
    assert got[(1, 2)].n_frames == 3 and got[(1, 2)].colorspace == "C444"
    assert got[(2, 0)].mean_y == 6.5
    assert got[(2, 0)].mean_u is None and got[(2, 0)].mean_v is None
    bad = got[(3, None)]
    assert bad.colorspace is None and bad.mean_y is None and bad.width is None


def test_sample_frames_real_y4m_path(spark):
    """sample_frames decodes Y4M for real: every_n sampling over the
    container's own frames, raw plane bytes out, non-video payloads
    dropped."""
    from synthea_etl_spark.operators.multimodal import sample_frames

    frames1 = [_planes(2, 2, "C444", seed=k) for k in range(5)]
    frames2 = [_planes(2, 2, "Cmono", seed=9)]
    rows = [
        (1, encode_y4m(2, 2, frames1, "C444")),
        (2, encode_y4m(2, 2, frames2, "Cmono")),
        (3, b"not a video"),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(2)
    got = {
        (r.id, r.frame_idx): r
        for r in sample_frames(df, every_n=2).collect()
    }
    assert set(got) == {(1, 0), (1, 2), (1, 4), (2, 0)}
    y, u, v = frames1[2]
    assert bytes(got[(1, 2)].frame) == y + u + v
    assert got[(1, 0)].n_frames == 5
    assert bytes(got[(2, 0)].frame) == frames2[0][0]  # mono: Y only
