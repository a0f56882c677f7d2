"""WAV (RIFF PCM) audio container decode: round-trip, strict-reject,
chunk walking, and the distributed audio-stats operator.

parse_wav is codec-free byte slicing over the public RIFF/WAVE layout
— the audio analogue of the PPM/Y4M paths — so the tests mirror those
suites: exact round trips over arbitrary geometry (hypothesis),
totality on arbitrary/truncated input, and strict rejection of every
detectable malformation (non-PCM format, partial frames, truncated or
oversized chunks).
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings, strategies as st

from synthea_etl_spark.operators.multimodal import (
    _WAV_MAX_BYTES,
    audio_stats,
    encode_wav,
    parse_wav,
)


def _s16(*vals):
    return struct.pack(f"<{len(vals)}h", *vals)


def test_roundtrip_mono_8bit():
    b = encode_wav(44100, [bytes([10, 20, 31])], 8)
    assert parse_wav(b) == (1, 44100, 8, 3, [61 / 3])


def test_roundtrip_stereo_16bit_signed():
    b = encode_wav(8000, [_s16(-3, -1, 1), _s16(100, 200, 300)], 16)
    assert parse_wav(b) == (2, 8000, 16, 3, [-1.0, 200.0])


def test_junk_chunk_and_odd_pad_byte_skipped():
    # odd-sized unknown chunk before data exercises the pad-byte walk
    b = encode_wav(8000, [_s16(5, 7)], 16, junk_chunk=b"xyz")
    assert parse_wav(b) == (1, 8000, 16, 2, [6.0])
    b2 = encode_wav(8000, [_s16(5, 7)], 16, junk_chunk=b"wxyz")
    assert parse_wav(b2) == (1, 8000, 16, 2, [6.0])


def test_empty_data_chunk_is_valid():
    assert parse_wav(encode_wav(8000, [b""], 16)) == (1, 8000, 16, 0, [])


def test_many_channels_decode():
    chans = [_s16(c, c + 2) for c in range(5)]
    assert parse_wav(encode_wav(8000, chans, 16)) == (
        5, 8000, 16, 2, [1.0, 2.0, 3.0, 4.0, 5.0],
    )


def _tones(k, n=65):
    """One tone at rfft bin k of 64, n frames, in every format parse_wav
    reads. n=65 is one IMA ADPCM block (1 + a multiple of 8 samples)."""
    import math

    from synthea_etl_spark.operators.audio_codecs import (
        encode_wav_g711,
        encode_wav_ima_adpcm,
        linear_to_alaw,
        linear_to_ulaw,
    )
    from synthea_etl_spark.operators.multimodal import encode_wav_float32

    vals = [round(8000 * math.sin(2 * math.pi * k * j / 64)) for j in range(n)]
    return vals, {
        "s16": encode_wav(8000, [_s16(*vals)], 16),
        "u8": encode_wav(8000, [bytes(128 + v // 128 for v in vals)], 8),
        "s24": encode_wav(
            8000, [b"".join(struct.pack("<i", v << 8)[:3] for v in vals)], 24
        ),
        "f32": encode_wav_float32(8000, [[v / 32768 for v in vals]]),
        "ulaw": encode_wav_g711(8000, [bytes(map(linear_to_ulaw, vals))], "ulaw"),
        "alaw": encode_wav_g711(8000, [bytes(map(linear_to_alaw, vals))], "alaw"),
        "adpcm": encode_wav_ima_adpcm(8000, [vals], n),
    }


def _valid():
    return encode_wav(8000, [_s16(1, 2, 3)], 16)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b"",
        lambda b: b[:8],                                   # no WAVE tag
        lambda b: b"RIFX" + b[4:],                         # bad magic
        lambda b: b[:8] + b"EVAW" + b[12:],                # bad form type
        lambda b: b[:-1],                                  # truncated data
        lambda b: b[:-2],                                  # partial frame
        lambda b: b.replace(b"fmt ", b"fmx "),             # no fmt chunk
        lambda b: b.replace(b"data", b"datx"),             # no data chunk
        lambda b: b.replace(                               # ADPCM, not PCM
            struct.pack("<H", 1), struct.pack("<H", 2), 1
        ),
        lambda b: b.replace(                               # 0 channels
            struct.pack("<HH", 1, 1), struct.pack("<HH", 1, 0), 1
        ),
        lambda b: b.replace(                               # 24-bit samples
            struct.pack("<H", 16), struct.pack("<H", 24)
        ),
    ],
)
def test_malformed_wavs_rejected(mutate):
    assert parse_wav(mutate(_valid())) is None


def test_declared_riff_size_beyond_payload_rejected():
    b = _valid()
    inflated = b[:4] + struct.pack("<I", len(b) + 100) + b[8:]
    assert parse_wav(inflated) is None


def test_chunk_size_bomb_cap():
    # a data chunk DECLARING more than the cap must be rejected before
    # any slicing, even though the actual payload is tiny
    b = (
        b"RIFF" + struct.pack("<I", 40) + b"WAVE"
        + b"data" + struct.pack("<I", _WAV_MAX_BYTES + 1) + b"\x00" * 16
    )
    assert parse_wav(b) is None


@given(b=st.binary(max_size=400))
@settings(max_examples=300, deadline=None)
def test_parser_never_raises_on_arbitrary_bytes(b):
    for payload in (b, b"RIFF" + b, _valid() + b):
        r = parse_wav(payload)
        assert r is None or len(r) == 5


@given(data=st.data())
@settings(max_examples=150, deadline=None)
def test_parser_never_raises_on_truncated_valid_files(data):
    nch = data.draw(st.integers(1, 3))
    bits = data.draw(st.sampled_from([8, 16]))
    n = data.draw(st.integers(0, 5))
    if bits == 8:
        chans = [bytes((c * 17 + j) % 256 for j in range(n)) for c in range(nch)]
    else:
        chans = [
            _s16(*((c * 1000 + j - 500) for j in range(n))) if n else b""
            for c in range(nch)
        ]
    b = encode_wav(8000, chans, bits)
    cut = data.draw(st.integers(0, len(b)))
    r = parse_wav(b[:cut])
    assert r is None or len(r) == 5


@given(
    nch=st.integers(1, 4),
    n=st.integers(1, 20),
    bits=st.sampled_from([8, 16]),
    seed=st.integers(-500, 255),
)
@settings(max_examples=100, deadline=None)
def test_roundtrip_any_geometry_exact_means(nch, n, bits, seed):
    if bits == 8:
        seed = abs(seed) % 100
        chans = [
            bytes((seed + 2 * j + c) % 256 for j in range(n)) for c in range(nch)
        ]
        exp = [
            sum((seed + 2 * j + c) % 256 for j in range(n)) / n
            for c in range(nch)
        ]
    else:
        chans = [_s16(*(seed + 2 * j + c for j in range(n))) for c in range(nch)]
        exp = [seed + (n - 1) + c for c in range(nch)]
    got = parse_wav(encode_wav(8000, chans, bits))
    assert got is not None
    assert got[:4] == (nch, 8000, bits, n)
    assert got[4] == pytest.approx(exp, abs=0)


def test_audio_stats_distributed(spark):
    """End-to-end through mapInPandas: stereo vs mono, the >2-channel
    decode path, and the null-row degradation contract."""
    rows = [
        (1, encode_wav(8000, [_s16(-3, -1, 1), _s16(100, 200, 300)], 16)),
        (2, encode_wav(44100, [bytes([10, 20, 31])], 8)),
        (3, encode_wav(8000, [_s16(c, c + 2) for c in range(4)], 16)),
        (4, b"not audio"),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(2)
    got = {r.id: r for r in audio_stats(df).collect()}
    assert got[1].channels == 2 and got[1].bits == 16 and got[1].n_frames == 3
    assert got[1].mean_left == -1.0 and got[1].mean_right == 200.0
    assert got[2].channels == 1 and got[2].bits == 8
    assert got[2].mean_right is None
    assert got[3].channels == 4  # decodes; only first two means surfaced
    assert (got[3].mean_left, got[3].mean_right) == (1.0, 2.0)
    assert got[4].channels is None and got[4].mean_left is None


def test_audio_spectral_distributed(spark):
    """FFT dominant-bin recovery through mapInPandas: on-bin tones at
    16-bit and 8-bit widths resolve exactly; short and non-WAV
    payloads yield null-bin rows."""
    import math

    from synthea_etl_spark.operators.multimodal import audio_spectral

    n = 64

    def tone16(k, amp=1000):
        vals = [round(amp * math.sin(2 * math.pi * k * j / n)) for j in range(n)]
        return encode_wav(8000, [struct.pack(f"<{n}h", *vals)], 16)

    def tone8(k, amp=100):
        vals = bytes(
            128 + round(amp * math.sin(2 * math.pi * k * j / n)) for j in range(n)
        )
        return encode_wav(8000, [vals], 8)

    _, tones = _tones(11)
    rows = [
        (1, tone16(3)),
        (2, tone16(31)),       # Nyquist-adjacent bin
        (3, tone8(7)),         # u8 offset-binary must be centered first
        (4, encode_wav(8000, [_s16(1, 2, 3)], 16)),  # shorter than n_fft
        (5, b"not audio"),
    ] + [(10 + i, b) for i, b in enumerate(tones.values())]
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(2)
    got = {r.id: r for r in audio_spectral(df, n_fft=n).collect()}
    assert got[1].dominant_bin == 3 and got[1].n_fft == n
    assert got[2].dominant_bin == 31
    assert got[3].dominant_bin == 7
    assert got[4].dominant_bin is None and got[4].channels is None
    assert got[5].dominant_bin is None
    # every format parse_wav reads: 24-bit, float32, G.711 and ADPCM
    for i, fmt in enumerate(tones):
        r = got[10 + i]
        assert (r.channels, r.n_frames, r.dominant_bin) == (1, 65, 11), fmt


def test_audio_spectral_uses_first_channel_of_stereo(spark):
    """Stereo: channel 0 carries bin 5, channel 1 carries bin 9 — the
    operator reads channel 0 after de-interleaving."""
    import math

    from synthea_etl_spark.operators.multimodal import audio_spectral

    n = 64
    ch = []
    for k in (5, 9):
        vals = [round(1000 * math.sin(2 * math.pi * k * j / n)) for j in range(n)]
        ch.append(struct.pack(f"<{n}h", *vals))
    payload = encode_wav(8000, ch, 16)
    df = spark.createDataFrame([(1, payload)], "id long, payload binary")
    r = audio_spectral(df, n_fft=n).collect()[0]
    assert r.channels == 2 and r.dominant_bin == 5


def test_audio_rms_windows_distributed(spark):
    """Window slicing, trailing-partial drop, exact RMS/mean, and the
    null-row degradation contract."""
    import numpy as np

    from synthea_etl_spark.operators.audio_codecs import (
        linear_to_ulaw,
        ulaw_to_linear,
    )
    from synthea_etl_spark.operators.multimodal import audio_rms_windows

    vals = [100 + 2 * j for j in range(35)]  # 2 full windows + 3 dropped
    tone, tones = _tones(5)
    rows = [
        (1, encode_wav(8000, [struct.pack("<35h", *vals)], 16)),
        (2, encode_wav(8000, [_s16(*range(10))], 16)),  # < one window
        (3, b"not audio"),
    ] + [(10 + i, b) for i, b in enumerate(tones.values())]
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(2)
    got = {(r.id, r.window_idx): r for r in audio_rms_windows(df, 16).collect()}
    # every format parse_wav reads yields its 4 windows (65 // 16)
    assert set(got) == {(1, 0), (1, 1), (2, None), (3, None)} | {
        (10 + i, wi) for i in range(len(tones)) for wi in range(4)
    }
    for wi in (0, 1):
        x = np.array(vals[wi * 16 : (wi + 1) * 16], dtype=np.int64)
        r = got[(1, wi)]
        assert r.n_windows == 2 and r.window == 16
        assert r.rms == float(np.sqrt((x * x).sum() / 16))
        assert r.mean == x.sum() / 16
    assert got[(2, None)].rms is None and got[(3, None)].rms is None
    # G.711 windows are over the decoded linear samples, not the code
    # bytes: mu-law's rms stays within 1% of the 16-bit original's
    ulaw = 10 + list(tones).index("ulaw")
    lin = ulaw_to_linear(bytes(map(linear_to_ulaw, tone))).astype(np.int64)
    pcm = np.array(tone, dtype=np.int64)
    for wi in range(4):
        x, y = lin[wi * 16 : (wi + 1) * 16], pcm[wi * 16 : (wi + 1) * 16]
        r = got[(ulaw, wi)]
        assert r.rms == float(np.sqrt((x * x).sum() / 16))
        assert r.mean == x.sum() / 16
        assert r.rms == pytest.approx(np.sqrt((y * y).sum() / 16), rel=0.01)
    # float32 windows are over the float samples
    f32 = got[(10 + list(tones).index("f32"), 0)]
    assert f32.rms == pytest.approx(got[(10, 0)].rms / 32768)


def test_audio_rms_windows_negative_and_8bit():
    """Signed 16-bit negatives square correctly; u8 path works too."""
    import numpy as np
    import pandas as pd

    from synthea_etl_spark.operators import multimodal as M

    neg = [-j for j in range(16)]
    b16 = M.encode_wav(8000, [struct.pack("<16h", *neg)], 16)
    b8 = M.encode_wav(8000, [bytes(range(16))], 8)

    # drive the inner batch closure directly (no Spark session needed)
    pdf = pd.DataFrame({"id": [1, 2], "payload": [b16, b8]})
    x = np.array(neg, dtype=np.int64)
    exp_rms16 = float(np.sqrt((x * x).sum() / 16))
    y = np.arange(16, dtype=np.int64)
    exp_rms8 = float(np.sqrt((y * y).sum() / 16))
    # run through the actual mapInPandas closure via a local iterator
    import synthea_etl_spark.operators.multimodal as mm

    class FakeDF:
        def mapInPandas(self, f, schema):
            return list(f(iter([pdf])))

    out = mm.audio_rms_windows(FakeDF(), window=16)[0]
    assert out.loc[0, "rms"] == exp_rms16 and out.loc[0, "mean"] == x.sum() / 16
    assert out.loc[1, "rms"] == exp_rms8 and out.loc[1, "mean"] == y.sum() / 16


def test_24bit_pcm_sign_extension_and_assembly():
    import struct

    from synthea_etl_spark.operators.multimodal import encode_wav, parse_wav

    vals = [-(1 << 23), (1 << 23) - 1, 0, 123456, -654321]
    raw = b"".join(struct.pack("<i", v)[:3] for v in vals)
    assert parse_wav(encode_wav(48000, [raw], bits=24)) == (
        1, 48000, 24, 5, [sum(vals) / 5],
    )


def test_float32_wav_and_finiteness_screen():
    from synthea_etl_spark.operators.multimodal import (
        encode_wav_float32,
        parse_wav,
    )

    r = parse_wav(encode_wav_float32(44100, [[1.25] * 4, [-0.5] * 4]))
    assert r == (2, 44100, 32, 4, [1.25, -0.5])
    # NaN / inf payloads poison aggregates: rejected, not propagated
    assert parse_wav(encode_wav_float32(8000, [[float("nan")] * 2])) is None
    assert parse_wav(encode_wav_float32(8000, [[float("inf")] * 2])) is None
