"""Property tests over the from-scratch codec layer (PNG/JPEG/GIF):
random-input round-trips through the paired encoders, and a fuzz pass
asserting every decoder fails CLOSED on garbage — ValueError, never a
hang, wrong-shaped output, or a foreign exception type. Spark-free:
these exercise the pure codec functions directly."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from railgun_spark.geo.serving import _lzw_encode
from railgun_spark.operators.flac import decode_flac
from railgun_spark.operators.jpeg import decode_jpeg, encode_gray_jpeg
from railgun_spark.operators.mp3 import decode_mp3
from railgun_spark.operators.multimodal import (
    _bmp_rle8,
    _decode_bmp,
    _decode_gif,
    _decode_png,
    _decode_tiff,
    _lzw_decode_tiff,
    decode_aiff,
    decode_au,
    decode_avi_mjpeg,
    decode_wav,
    decode_y4m,
)

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """Independent LZW decoder (mirrors GIF semantics: decoder entries
    lag the encoder by one code; width bumps when ITS counter fills)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    table, nxt, width = {i: (i,) for i in range(clear)}, eoi + 1, min_code_size + 1
    out: list[int] = []
    prev = None
    total = len(data) * 8
    while True:
        assert pos + width <= total, "ran out of bits before EOI"
        code = 0
        for i in range(width):
            byte, bit = divmod(pos + i, 8)
            code |= ((data[byte] >> bit) & 1) << i
        pos += width
        if code == clear:
            table, nxt, width = {i: (i,) for i in range(clear)}, eoi + 1, min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code in table:
            entry = table[code]
        else:
            assert code == nxt and prev is not None, f"bad code {code}"
            entry = prev + (prev[0],)
        out.extend(entry)
        if prev is not None:
            table[nxt] = prev + (entry[0],)
            nxt += 1
            if nxt == (1 << width) and width < 12:
                width += 1
        prev = entry


@settings(max_examples=40, deadline=None)
@given(
    data=st.lists(st.integers(0, 3), min_size=1, max_size=4000),
    min_code=st.integers(2, 4),
)
def test_lzw_roundtrip_property(data, min_code):
    """LZW encode -> independent decode is the identity for any index
    stream (covers KwKwK, width growth, and — at larger sizes — the
    4096 dictionary reset)."""
    assert _lzw_decode(_lzw_encode(data, min_code), min_code) == data


def test_lzw_eoi_width_regression():
    """Pinned falsifying example: the decoder's dictionary add after the
    FINAL data code fills 2^width, so the EOI must be read one bit
    wider — the original encoder emitted it at the stale width."""
    data = [0, 0, 1, 1, 0, 0, 0, 2, 0, 3, 0, 0, 1]
    assert _lzw_decode(_lzw_encode(data, 2), 2) == data


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    ch=st.sampled_from([1, 2, 3, 4]),
    interlace=st.sampled_from([0, 1]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(w, h, ch, interlace, seed):
    """Random 8-bit images of every color type, sequential and Adam7,
    random per-scanline filters: byte-exact through the decoder."""
    sys.path.insert(0, TESTS_DIR)
    from test_io_catalog import _png_bytes

    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
    filters = [int(x) for x in rng.randint(0, 5, size=h)]
    got = _decode_png(_png_bytes(arr, filters, interlace=interlace))
    if ch >= 3:
        expect = arr[:, :, :3]
    else:
        expect = np.repeat(arr[:, :, :1], 3, axis=2)
    assert np.array_equal(got, expect)


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 32),
    h=st.integers(1, 32),
    seed=st.integers(0, 2**31 - 1),
)
def test_gray_jpeg_roundtrip_property(w, h, seed):
    """encode_gray_jpeg -> decode_jpeg stays within DCT float rounding
    (unit quant table) at any dimensions, including non-multiple-of-8."""
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    out = decode_jpeg(encode_gray_jpeg(g))
    assert out.shape == (h, w, 3)
    assert np.abs(out[:, :, 0] - g).max() < 6.0


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(min_size=0, max_size=300), seed=st.integers(0, 2**31 - 1))
def test_decoders_fail_closed_on_garbage(payload, seed):
    """Garbage (random bytes, and random bytes behind each format's magic
    prefix) must raise ValueError from every decoder — never another
    exception type and never a silent wrong answer."""
    rng = np.random.RandomState(seed)
    blobs = [payload]
    for magic in (b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"RIFF", b"YUV4MPEG2 ",
                  b"GIF89a", b"fLaC", b"FORM1234AIFF", b".snd",
                  b"II\x2a\x00", b"MM\x00\x2a", b"RIFF1234AVI ",
                  b"\xff\xfa", b"ID3\x03\x00\x00\x00\x00\x00\x00", b"BM"):
        blobs.append(magic + payload)
    # a syntactically plausible but corrupt RIFF/WAVE head
    blobs.append(b"RIFF" + bytes([payload[0] if payload else 0, 0, 0, 0]) + b"WAVE" + payload)
    # the inner compression decoders must fail closed too (reachable only
    # through well-formed containers, so the outer loop rarely hits them)
    for inner, args in ((_lzw_decode_tiff, (payload, 64)),
                        (_bmp_rle8, (payload, 0, 8, 8))):
        try:
            inner(*args)
        except ValueError:
            pass
    for blob in blobs:
        for fn in (_decode_png, decode_jpeg, decode_wav, decode_y4m,
                   _decode_gif, decode_flac, decode_aiff, decode_au,
                   _decode_tiff, _decode_bmp, decode_avi_mjpeg, decode_mp3):
            try:
                fn(blob)
            except ValueError:
                pass  # the contract
            else:
                # only acceptable non-error: a decoder actually decoding a
                # (tiny) valid stream that hypothesis stumbled into — it
                # must then be the RIGHT magic for that decoder
                magic_ok = (
                    (fn is _decode_png and blob[:8] == b"\x89PNG\r\n\x1a\n")
                    or (fn is decode_jpeg and blob[:2] == b"\xff\xd8")
                    or (fn is decode_wav and blob[:4] == b"RIFF")
                    or (fn is decode_y4m and blob[:9] == b"YUV4MPEG2")
                    or (fn is _decode_gif and blob[:4] == b"GIF8")
                    or (fn is decode_flac and blob[:4] == b"fLaC")
                    or (fn is decode_aiff and blob[:4] == b"FORM")
                    or (fn is decode_au and blob[:4] == b".snd")
                    or (fn is _decode_tiff
                        and blob[:4] in (b"II\x2a\x00", b"MM\x00\x2a"))
                    or (fn is _decode_bmp and blob[:2] == b"BM")
                    or (fn is decode_avi_mjpeg and blob[:4] == b"RIFF")
                    or (fn is decode_mp3 and len(blob) >= 2
                        and blob[0] == 0xFF and (blob[1] & 0xE0) == 0xE0)
                )
                assert magic_ok, f"{fn.__name__} decoded garbage without magic"


def test_decoders_reject_deep_truncations_of_valid_streams():
    """Every strict prefix of a small valid file raises ValueError (or
    decodes identically for JPEG prefixes that still contain EOI — which
    cannot happen for strict prefixes, so: always ValueError)."""
    sys.path.insert(0, TESTS_DIR)
    from test_io_catalog import _png_bytes

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    png = _png_bytes(img, [0, 1, 2, 3, 4])
    jpg = encode_gray_jpeg(rng.randint(0, 256, size=(8, 8), dtype=np.uint8))
    for blob, fn in ((png, _decode_png), (jpg, decode_jpeg)):
        full = fn(blob)
        assert full is not None
        for cut in range(1, len(blob), 7):
            with pytest.raises(ValueError):
                fn(blob[:cut])


def _mp3_blob():
    sys.path.insert(0, TESTS_DIR)
    from test_mp3 import _sine_spec, encode_mp3

    return encode_mp3([_sine_spec(4, 6, 11)] * 2)


def test_decode_media_dispatches_entire_codec_matrix():
    """One mixed batch containing every supported format routes through
    decode_media's magic dispatch: images PPM/PGM/PBM/BMP/PNG/GIF/TIFF/
    JPEG(baseline+progressive), audio WAV/FLAC/AIFF/AU/MP3, video
    Y4M/AVI — every row decodes to an 8-dim feature without a codec
    library."""
    import struct
    sys.path.insert(0, TESTS_DIR)
    from test_flac import encode_flac
    from test_io_catalog import _gif_bytes, _png_bytes, _tiff_bytes
    from test_jpeg import _spectral_scans, encode_jpeg

    from railgun_spark.operators.multimodal import decode_media

    rng = np.random.RandomState(71)
    img = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    gray = rng.randint(0, 256, size=(8, 8), dtype=np.uint8)
    bits = rng.randint(0, 2, size=(8, 8), dtype=np.uint8)
    pal = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.randint(0, 8, size=(8, 8), dtype=np.uint8)

    def bmp(arr):
        h, w, _ = arr.shape
        stride = (w * 3 + 3) & ~3
        raster = b"".join(
            row[:, ::-1].tobytes() + b"\x00" * (stride - w * 3) for row in arr[::-1]
        )
        return (struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
                + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster),
                              2835, 2835, 0, 0) + raster)

    samples = np.round(8000 * np.sin(2 * np.pi * 440 * np.arange(400) / 8000)).astype("int64")
    le = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(le)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(le)) + le)
    exp = 16383 + 63
    mant = 8000
    while mant < (1 << 63):
        mant <<= 1
        exp -= 1
    comm = struct.pack(">hIh", 1, 400, 16) + struct.pack(">HII", exp, mant >> 32, mant & 0xFFFFFFFF)
    ssnd = struct.pack(">II", 0, 0) + samples.astype(">i2").tobytes()
    aiff = (b"FORM" + struct.pack(">I", 4 + 8 + len(comm) + 8 + len(ssnd)) + b"AIFF"
            + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
    au = b".snd" + struct.pack(">IIIII", 24, len(le), 3, 8000, 1) + samples.astype(">i2").tobytes()

    y = rng.randint(0, 256, size=(2, 8 * 8), dtype=np.uint8)
    y4m = b"YUV4MPEG2 W8 H8 F25:1 C420\n" + b"".join(
        b"FRAME\n" + y[k].tobytes() + bytes(32) for k in range(2)
    )

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    avih = struct.pack("<IIIIIIIIII", 40000, 0, 0, 0, 1, 0, 1, 0, 8, 8)
    avi_body = (b"AVI " + chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
                + chunk(b"LIST", b"movi" + chunk(b"00dc", encode_gray_jpeg(gray))))
    avi = b"RIFF" + struct.pack("<I", len(avi_body)) + avi_body

    matrix = {
        "ppm": ("image", b"P6\n8 8\n255\n" + img.tobytes()),
        "pgm": ("image", b"P5\n8 8\n255\n" + gray.tobytes()),
        "pbm": ("image", b"P4\n8 8\n" + np.packbits(bits, axis=1).tobytes()),
        "bmp": ("image", bmp(img)),
        "png": ("image", _png_bytes(img, [0, 1, 2, 3, 4])),
        "gif": ("image", _gif_bytes(idx, pal)),
        "tiff": ("image", _tiff_bytes(img, packbits=True)),
        "jpeg": ("image", encode_jpeg(img)),
        "jpeg_prog": ("image", encode_jpeg(img, scans=_spectral_scans(3))),
        "wav": ("audio", wav),
        "flac": ("audio", encode_flac([[int(v) for v in samples]])),
        "aiff": ("audio", aiff),
        "au": ("audio", au),
        "y4m": ("video", y4m),
        "avi": ("video", avi),
        "mp3": ("audio", _mp3_blob()),
    }
    for name, (kind, blob) in matrix.items():
        d = decode_media(blob, kind)
        assert len(d["feature"]) == 8, name
        assert all(np.isfinite(v) for v in d["feature"]), name


def test_avi_audio_track_extraction():
    """AVI containers routed as kind='audio' extract their 'auds' stream:
    PCM tracks match the WAV decode of the same samples, MP3 tracks match
    the direct Layer III decode, and non-audio / unknown-tag AVIs refuse."""
    import struct

    from railgun_spark.operators.jpeg import encode_gray_jpeg
    from railgun_spark.operators.mp3 import decode_mp3
    from railgun_spark.operators.mp3_encode import encode_mp3
    from railgun_spark.operators.multimodal import (
        decode_audio,
        decode_wav,
        extract_avi_audio,
    )

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    def build_avi(audio_fmt=None, audio_payloads=(), with_video=True):
        rng = np.random.RandomState(3)
        gray = rng.randint(0, 256, size=(8, 8), dtype=np.uint8)
        avih = struct.pack("<IIIIIIIIII", 40000, 0, 0, 0, 1, 0, 1, 0, 8, 8)
        strls = b""
        if with_video:
            strls += chunk(b"LIST", b"strl"
                           + chunk(b"strh", b"vids" + b"\x00" * 52)
                           + chunk(b"strf", b"\x00" * 40))
        if audio_fmt is not None:
            strls += chunk(b"LIST", b"strl"
                           + chunk(b"strh", b"auds" + b"\x00" * 52)
                           + chunk(b"strf", audio_fmt))
        movi = b"movi"
        if with_video:
            movi += chunk(b"00dc", encode_gray_jpeg(gray))
        aidx = 1 if with_video else 0
        for p in audio_payloads:
            movi += chunk(f"{aidx:02d}wb".encode(), p)
        body = (b"AVI " + chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strls)
                + chunk(b"LIST", movi))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # PCM track, split across two movi chunks, stereo
    t = np.arange(800)
    pcm = np.round(9000 * np.sin(2 * np.pi * 440 * t / 8000)).astype("<i2")
    inter = np.empty(1600, dtype="<i2")
    inter[0::2] = pcm
    inter[1::2] = (-pcm).astype("<i2")
    fmt_pcm = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    raw = inter.tobytes()
    avi = build_avi(fmt_pcm, (raw[:700], raw[700:]))
    got = extract_avi_audio(avi)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
           + b"data" + struct.pack("<I", len(raw)) + raw)
    assert got["feature"] == decode_wav(wav)["feature"]
    assert got["sample_rate"] == 8000 and got["n_channels"] == 2
    assert decode_audio(avi)["feature"] == got["feature"]

    # MP3 track (format tag 0x0055) routes through the Layer III decoder
    spec = np.zeros(576, dtype=np.int64)
    spec[5 * 18 + 4] = 11
    mp3 = encode_mp3([spec] * 2)
    fmt_mp3 = struct.pack("<HHIIHH", 0x0055, 1, 44100, 16000, 1, 0)
    avi_mp3 = build_avi(fmt_mp3, (mp3[:500], mp3[500:]))
    assert extract_avi_audio(avi_mp3)["feature"] == decode_mp3(mp3)["feature"]

    # refusals
    with pytest.raises(ValueError, match="no audio stream"):
        extract_avi_audio(build_avi(None))
    fmt_alaw = struct.pack("<HHIIHH", 6, 1, 8000, 8000, 1, 8)
    with pytest.raises(ValueError, match="format tag"):
        extract_avi_audio(build_avi(fmt_alaw, (b"\x00" * 64,)))
    with pytest.raises(ValueError, match="no data chunks"):
        extract_avi_audio(build_avi(fmt_pcm, ()))
    with pytest.raises(ValueError, match="WAVEFORMATEX"):
        extract_avi_audio(build_avi(b"\x00" * 8, (b"\x00" * 4,)))


@settings(max_examples=30, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_frames=st.integers(1, 5),
    n_colors=st.sampled_from([2, 4, 8, 16]),
    interlace=st.booleans(),
    use_transparency=st.booleans(),
)
def test_gif_animation_compositing_property(seed, n_frames, n_colors,
                                            interlace, use_transparency):
    """Random GIF89a animations (random frame rects, disposal methods,
    optional transparency, optional interlace) round-trip through
    encode_gif_animation -> decode_gif_frames to EXACTLY the canvases a
    straightforward numpy reference compositor produces — pinning the
    disposal/transparency semantics independently of the decoder's own
    code path."""
    from railgun_spark.geo.serving import encode_gif_animation
    from railgun_spark.operators.multimodal import decode_gif_frames

    rng = np.random.RandomState(seed)
    sw, sh = int(rng.randint(3, 10)), int(rng.randint(3, 10))
    pal = rng.randint(0, 256, size=(n_colors, 3))
    pal_l = [tuple(int(x) for x in c) for c in pal]
    frames, disposals, transparents = [], [], []
    for _ in range(n_frames):
        w = int(rng.randint(1, sw + 1))
        h = int(rng.randint(1, sh + 1))
        left = int(rng.randint(0, sw - w + 1))
        top = int(rng.randint(0, sh - h + 1))
        rows = rng.randint(0, n_colors, size=(h, w))
        frames.append((left, top, [[int(v) for v in r] for r in rows]))
        disposals.append(int(rng.randint(0, 4)))
        transparents.append(int(rng.randint(0, n_colors))
                            if use_transparency else None)
    gif = encode_gif_animation(
        frames, pal_l, disposals=disposals, transparent=transparents,
        screen=(sw, sh), interlace=interlace,
    )
    got, _delays = decode_gif_frames(gif)

    # independent reference compositor (background = palette[0]: the
    # header's bg index is 0 and a global table is always present)
    P = pal.astype("float64")
    canvas = np.tile(P[0], (sh, sw, 1))
    want = []
    for (left, top, rows), disp, tr in zip(frames, disposals, transparents):
        idx = np.array(rows, dtype=np.int64)
        h, w = idx.shape
        prev = canvas.copy()
        rect = canvas[top : top + h, left : left + w]
        paint = P[idx]
        mask = np.ones_like(idx, dtype=bool) if tr is None else idx != tr
        rect[mask] = paint[mask]
        want.append(canvas.copy())
        if disp == 2:
            canvas[top : top + h, left : left + w] = P[0]
        elif disp == 3:
            canvas = prev
    assert len(got) == n_frames
    for g, e in zip(got, want):
        assert np.array_equal(g, e)
