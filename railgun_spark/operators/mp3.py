"""MPEG Audio Layer III (MP3) decoder — from scratch against the public
ISO/IEC 11172-3 / 13818-3 specs, no codec library (none exists in this
container).

Scope (all honestly enforced, never silently approximated):
- MPEG-1 Layer III, 32/44.1/48 kHz, mono / stereo / joint-stereo with
  MS ("mid/side") AND intensity-stereo processing (long blocks; the
  is_pos == 7 off-switch honored per band); CBR and VBR frame
  sequences; the bit reservoir (``main_data_begin``); long blocks,
  short blocks and the block-switch window types 1 and 3; CRC-16
  verification of protected frames; ID3v2 prefix and ID3v1 suffix skip.
- MPEG-2 LSF (ISO 13818-3) at 22.05/24 kHz: one 576-sample granule per
  frame, 8-bit main_data_begin, 9-bit scalefac_compress with the LSF
  partition/slen rule (preflag derived, no scfsi), same Huffman /
  requantization / hybrid / synthesis machinery.
- Mixed blocks (MPEG-1): two long subbands + short bands from sample
  36, with the long/short scalefactor split, single alias boundary and
  per-region windows.
- REFUSED with a clear error (fail-closed, the codec-matrix discipline
  of ``operators/jpeg.py`` / ``operators/flac.py``): MPEG-2.5,
  MPEG-2 @ 16 kHz (its sfb-table transcription failed the offline
  structural validation — widths must sum to 576/192 — so it refuses
  by name instead of shipping a wrong band map), Layers I/II,
  free-format bitrate, LSF intensity stereo, LSF mixed blocks,
  intensity stereo on short blocks, and any frame selecting a Huffman
  table outside the certified set below.

Huffman tables: ISO 11172-3 Table B.7 defines 34 code tables. The
certified subset shipped here — tables 0,1,2,3,5,6,7,8,9,10,12,13 plus
both count1 tables — passes the full structural validation run at import
(`_validate_tables`): every table is a COMPLETE prefix code (Kraft sum
exactly 1, no duplicate or overlapping codewords). A complete 256-entry
code table essentially cannot pass those checks by accident, so passing
is strong evidence of faithful transcription. The remaining tables
(11, 15, and the linbits/ESC families 16-23 and 24-31) did not survive
that validation during transcription and are REFUSED BY NAME at decode
time rather than shipped wrong: a mistranscribed Huffman table decodes
real streams to garbage with no checksum to catch it, which is worse
than a loud refusal. Streams confined to the certified tables (including
everything the from-scratch test encoder in ``tests/test_mp3.py`` emits)
decode fully.

Synthesis window: Table B.3's 512 coefficients are integer multiples of
2^-16; the shipped half-table was snap-corrected and then validated by
driving the full spec analysis filterbank (window C = D/32) against this
synthesis and measuring deviation from a pure 481-sample delay (the
filterbank's textbook system delay) — see ``tests/test_mp3.py``.

Everything trigonometric (IMDCT, block windows, alias-reduction
coefficients, polyphase matrixing) is computed from the spec's closed
formulas, not tables.

Reference parity note: the Go reference (/root/reference/railgun) has no
media decoding at all; this module is engine-superset capability for the
multimodal training-data pipeline (SURVEY.md LLM-ops matrix), dispatched
through ``operators/multimodal.py:decode_audio``.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Header-level constants (ISO 11172-3 §2.4.2.3; ISO 13818-3 for LSF)
# --------------------------------------------------------------------------
_BITRATES_KBPS = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_BITRATES_KBPS_LSF = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
_SAMPLE_RATES = (44100, 48000, 32000)
_SAMPLE_RATES_LSF = (22050, 24000, 16000)

# Scalefactor-band widths: Table B.8 (MPEG-1) + the ISO 13818-3 Annex B
# tables for the LSF rates whose transcription VALIDATES offline (each
# long table must have 22 entries summing to 576, short 13 summing to
# 192 — a strict structural check). The 16 kHz LSF table did not survive
# that validation during transcription and the rate refuses by name in
# _parse_header rather than shipping a wrong band map.
_SFB_LONG = {
    44100: (4, 4, 4, 4, 4, 4, 6, 6, 8, 8, 10, 12, 16, 20, 24, 28, 34, 42, 50, 54, 76, 158),
    48000: (4, 4, 4, 4, 4, 4, 6, 6, 6, 8, 10, 12, 16, 18, 22, 28, 34, 40, 46, 54, 54, 192),
    32000: (4, 4, 4, 4, 4, 4, 6, 6, 8, 10, 12, 16, 20, 24, 30, 38, 46, 56, 68, 84, 102, 26),
    22050: (6, 6, 6, 6, 6, 6, 8, 10, 12, 14, 16, 20, 24, 28, 32, 38, 46, 52, 60, 68, 58, 54),
    24000: (6, 6, 6, 6, 6, 6, 8, 10, 12, 14, 16, 18, 22, 26, 32, 38, 46, 54, 62, 70, 76, 36),
}
_SFB_SHORT = {
    44100: (4, 4, 4, 4, 6, 8, 10, 12, 14, 18, 22, 30, 56),
    48000: (4, 4, 4, 4, 6, 6, 10, 12, 14, 16, 20, 26, 66),
    32000: (4, 4, 4, 4, 6, 8, 12, 16, 20, 26, 34, 42, 12),
    22050: (4, 4, 4, 6, 6, 8, 10, 14, 18, 26, 32, 42, 18),
    24000: (4, 4, 4, 6, 8, 10, 12, 14, 18, 24, 32, 44, 12),
}

for _sr, _w in _SFB_LONG.items():
    assert len(_w) == 22 and sum(_w) == 576, _sr
for _sr, _w in _SFB_SHORT.items():
    assert len(_w) == 13 and sum(_w) == 192, _sr

# Preemphasis table (§2.4.3.4) — one entry per long scalefactor band.
_PRETAB = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0)

# scalefac_compress -> (slen1, slen2) bit widths (§2.4.2.7)
_SLEN1 = (0, 0, 0, 0, 3, 1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4)
_SLEN2 = (0, 1, 2, 3, 0, 1, 2, 3, 1, 2, 3, 1, 2, 3, 2, 3)

# Alias-reduction coefficients (Table B.9): ci -> (cs, ca)
_CI = (-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037)
_CS = tuple(1.0 / (1.0 + c * c) ** 0.5 for c in _CI)
_CA = tuple(c / (1.0 + c * c) ** 0.5 for c in _CI)


# --------------------------------------------------------------------------
# Huffman code tables (Table B.7), certified subset. Stored as
# (xlen, hlen-list, code-list) row-major over index = x * xlen + y.
# Structural validation at import refuses accidental corruption.
# --------------------------------------------------------------------------
_HUFF_RAW = {
    1: (2,
        [1, 3, 2, 3],
        [1, 1, 1, 0]),
    2: (3,
        [1, 3, 6, 3, 3, 5, 5, 5, 6],
        [1, 2, 1, 3, 1, 1, 3, 2, 0]),
    3: (3,
        [2, 2, 6, 3, 2, 5, 5, 5, 6],
        [3, 2, 1, 1, 1, 1, 3, 2, 0]),
    5: (4,
        [1, 3, 6, 7, 3, 3, 6, 7, 6, 6, 7, 8, 7, 6, 7, 8],
        [1, 2, 6, 5, 3, 1, 4, 4, 7, 5, 7, 1, 6, 1, 1, 0]),
    6: (4,
        [3, 3, 5, 7, 3, 2, 4, 5, 4, 4, 5, 6, 6, 5, 6, 7],
        [7, 3, 5, 1, 6, 2, 3, 2, 5, 4, 4, 1, 3, 3, 2, 0]),
    7: (6,
        [1, 3, 6, 8, 8, 9, 3, 4, 6, 7, 7, 8, 6, 5, 7, 8, 8, 9,
         7, 7, 8, 9, 9, 9, 7, 7, 8, 9, 9, 10, 8, 8, 9, 10, 10, 10],
        [1, 2, 10, 19, 16, 10, 3, 3, 7, 10, 5, 3, 11, 4, 13, 17, 8, 4,
         12, 11, 18, 15, 11, 2, 7, 6, 9, 14, 3, 1, 6, 4, 5, 3, 2, 0]),
    8: (6,
        [2, 3, 6, 8, 8, 9, 3, 2, 4, 8, 8, 8, 6, 4, 6, 8, 8, 9,
         8, 8, 8, 9, 9, 10, 8, 7, 8, 9, 10, 10, 9, 8, 9, 9, 11, 11],
        [3, 4, 6, 18, 12, 5, 5, 1, 2, 16, 9, 3, 7, 3, 5, 14, 7, 3,
         19, 17, 15, 13, 10, 4, 13, 5, 8, 11, 5, 1, 12, 4, 4, 1, 1, 0]),
    9: (6,
        [3, 3, 5, 6, 8, 9, 3, 3, 4, 5, 6, 8, 4, 4, 5, 6, 7, 8,
         6, 5, 6, 7, 7, 8, 7, 6, 7, 7, 8, 9, 8, 7, 8, 8, 9, 9],
        [7, 5, 9, 14, 15, 7, 6, 4, 5, 5, 6, 7, 7, 6, 8, 8, 8, 5,
         15, 6, 9, 10, 5, 1, 11, 7, 9, 6, 4, 1, 14, 4, 6, 2, 6, 0]),
    10: (8,
         [1, 3, 6, 8, 9, 9, 9, 10, 3, 4, 6, 7, 8, 9, 8, 8,
          6, 6, 7, 8, 9, 10, 9, 9, 7, 7, 8, 9, 10, 10, 9, 10,
          8, 8, 9, 10, 10, 10, 10, 10, 9, 9, 10, 10, 11, 11, 10, 11,
          8, 8, 9, 10, 10, 10, 11, 11, 9, 8, 9, 10, 10, 11, 11, 11],
         [1, 2, 10, 23, 35, 30, 12, 17, 3, 3, 8, 12, 18, 21, 12, 7,
          11, 9, 15, 21, 32, 40, 19, 6, 14, 13, 22, 34, 46, 23, 18, 7,
          20, 19, 33, 47, 27, 22, 9, 3, 31, 22, 41, 26, 21, 20, 5, 3,
          14, 13, 10, 11, 16, 6, 5, 1, 9, 8, 7, 8, 4, 4, 2, 0]),
    12: (8,
         [4, 3, 5, 7, 8, 9, 9, 9, 3, 3, 4, 5, 7, 7, 8, 8,
          5, 4, 5, 6, 7, 8, 7, 8, 6, 5, 6, 6, 7, 8, 8, 8,
          7, 6, 7, 7, 8, 8, 8, 9, 8, 7, 8, 8, 8, 9, 8, 9,
          8, 7, 7, 8, 8, 9, 9, 10, 9, 8, 8, 9, 9, 9, 9, 10],
         [9, 6, 16, 33, 41, 39, 38, 26, 7, 5, 6, 9, 23, 16, 26, 11,
          17, 7, 11, 14, 21, 30, 10, 7, 17, 10, 15, 12, 18, 28, 14, 5,
          32, 13, 22, 19, 18, 16, 9, 5, 40, 17, 31, 29, 17, 13, 4, 2,
          27, 12, 11, 15, 10, 7, 4, 1, 27, 12, 8, 12, 6, 3, 1, 0]),
    13: (16,
         [1, 4, 6, 7, 8, 9, 9, 10, 9, 10, 11, 11, 12, 12, 13, 13,
          3, 4, 6, 7, 8, 8, 9, 9, 9, 9, 10, 10, 11, 12, 12, 12,
          6, 6, 7, 8, 9, 9, 10, 10, 9, 10, 10, 11, 11, 12, 13, 13,
          7, 7, 8, 9, 9, 10, 10, 10, 10, 11, 11, 11, 11, 12, 13, 13,
          8, 7, 9, 9, 10, 10, 11, 11, 10, 11, 11, 12, 12, 13, 13, 14,
          9, 8, 9, 10, 10, 10, 11, 11, 11, 11, 12, 11, 13, 13, 14, 14,
          9, 9, 10, 10, 11, 11, 11, 11, 11, 12, 12, 12, 13, 13, 14, 14,
          10, 9, 10, 11, 11, 11, 12, 12, 12, 12, 13, 13, 13, 14, 16, 16,
          9, 8, 9, 10, 10, 11, 11, 12, 12, 12, 12, 13, 13, 14, 15, 15,
          10, 9, 10, 10, 11, 11, 11, 13, 12, 13, 13, 14, 14, 14, 16, 15,
          10, 10, 10, 11, 11, 12, 12, 13, 12, 13, 14, 13, 14, 15, 16, 17,
          11, 10, 10, 11, 12, 12, 12, 12, 13, 13, 13, 14, 15, 15, 15, 16,
          11, 11, 11, 12, 12, 13, 12, 13, 14, 14, 15, 15, 15, 16, 16, 16,
          12, 11, 12, 13, 13, 13, 14, 14, 14, 14, 14, 15, 16, 15, 16, 16,
          13, 12, 12, 13, 13, 13, 15, 14, 14, 17, 15, 15, 15, 17, 16, 16,
          12, 12, 13, 14, 14, 14, 15, 14, 15, 15, 16, 16, 19, 18, 19, 16],
         [1, 5, 14, 21, 34, 51, 46, 71, 42, 52, 68, 52, 67, 44, 43, 19,
          3, 4, 12, 19, 31, 26, 44, 33, 31, 24, 32, 24, 31, 35, 22, 14,
          15, 13, 23, 36, 59, 49, 77, 65, 29, 40, 30, 40, 27, 33, 42, 16,
          22, 20, 37, 61, 56, 79, 73, 64, 43, 76, 56, 37, 26, 31, 25, 14,
          35, 16, 60, 57, 97, 75, 114, 91, 54, 73, 55, 41, 48, 53, 23, 24,
          58, 27, 50, 96, 76, 70, 93, 84, 77, 58, 79, 29, 74, 49, 41, 17,
          47, 45, 78, 74, 115, 94, 90, 79, 69, 83, 71, 50, 59, 38, 36, 15,
          72, 34, 56, 95, 92, 85, 91, 90, 86, 73, 77, 65, 51, 44, 43, 42,
          43, 20, 30, 44, 55, 78, 72, 87, 78, 61, 46, 54, 37, 30, 20, 16,
          53, 25, 41, 37, 44, 59, 54, 81, 66, 76, 57, 54, 37, 18, 39, 11,
          35, 33, 31, 57, 42, 82, 72, 80, 47, 58, 55, 21, 22, 26, 38, 22,
          53, 25, 23, 38, 70, 60, 51, 36, 55, 26, 34, 23, 27, 14, 9, 7,
          34, 32, 28, 39, 49, 75, 30, 52, 48, 40, 52, 28, 18, 17, 9, 5,
          45, 21, 34, 64, 56, 50, 49, 45, 31, 19, 12, 15, 10, 7, 6, 3,
          48, 23, 20, 39, 36, 35, 53, 21, 16, 23, 13, 10, 6, 1, 4, 2,
          16, 15, 17, 27, 25, 20, 29, 11, 17, 12, 16, 8, 1, 1, 0, 1]),
}

# count1 tables (quadruples v,w,x,y; symbol = v<<3 | w<<2 | x<<1 | y)
_COUNT1_A = ([1, 4, 4, 5, 4, 6, 5, 6, 4, 5, 5, 6, 5, 6, 6, 6],
             [1, 5, 4, 5, 6, 5, 4, 4, 7, 3, 6, 0, 7, 2, 3, 1])
_COUNT1_B = ([4] * 16, [15 - i for i in range(16)])

# Tables that exist in the spec but whose transcription did not survive
# structural validation — refused by name, never decoded wrong.
_UNVERIFIED_TABLES = frozenset({11, 14, 15} | set(range(16, 32)))
_INVALID_TABLES = frozenset({4})  # spec: table 4 is not used


def _build_decode_map(hlens, codes):
    """(hlen, code) pairs -> {(length, code): symbol_index} with full
    structural validation: complete prefix code or ValueError."""
    n = len(hlens)
    kraft = 0.0
    out = {}
    for sym, (h, c) in enumerate(zip(hlens, codes)):
        if c >> h:
            raise ValueError(f"huffman code {c} wider than hlen {h}")
        if (h, c) in out:
            raise ValueError(f"duplicate huffman code ({h}, {c})")
        out[(h, c)] = sym
        kraft += 2.0 ** -h
    if abs(kraft - 1.0) > 1e-12:
        raise ValueError(f"huffman table incomplete: kraft={kraft}")
    items = list(out)
    for i, (h1, c1) in enumerate(items):
        for h2, c2 in items[i + 1:]:
            if h1 < h2 and (c2 >> (h2 - h1)) == c1:
                raise ValueError("huffman prefix violation")
            if h2 < h1 and (c1 >> (h1 - h2)) == c2:
                raise ValueError("huffman prefix violation")
    return out


def _validate_tables():
    tabs = {}
    for tid, (xlen, hl, cd) in _HUFF_RAW.items():
        if len(hl) != xlen * xlen or len(cd) != xlen * xlen:
            raise ValueError(f"huffman table {tid} wrong size")
        tabs[tid] = (xlen, _build_decode_map(hl, cd))
    c1a = _build_decode_map(*_COUNT1_A)
    c1b = _build_decode_map(*_COUNT1_B)
    return tabs, (c1a, c1b)


_HUFF_TABLES, _COUNT1_TABLES = _validate_tables()


# --------------------------------------------------------------------------
# Bit reader (MSB first)
# --------------------------------------------------------------------------
class _Bits:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.pos = pos_bits

    def read(self, n: int) -> int:
        v = 0
        pos, data = self.pos, self.data
        if pos + n > len(data) * 8:
            raise ValueError("truncated MP3 bitstream")
        for _ in range(n):
            v = (v << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return v

    def bit(self) -> int:
        pos = self.pos
        if pos >= len(self.data) * 8:
            raise ValueError("truncated MP3 bitstream")
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1


def _huff_decode(bits: _Bits, table) -> int:
    code, length = 0, 0
    while length < 24:
        code = (code << 1) | bits.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid MP3 huffman code (no symbol within 24 bits)")


# --------------------------------------------------------------------------
# Header / side info
# --------------------------------------------------------------------------
def _parse_header(b: bytes, i: int) -> tuple:
    """Parse the 4-byte header at offset i; returns (sample_rate, bitrate,
    mode, mode_ext, protection, frame_len, lsf) or raises with the
    refusal reason (fail closed on every reserved/unsupported
    combination). lsf=True for MPEG-2 (ISO 13818-3) low-sampling-
    frequency streams: one 576-sample granule per frame."""
    h = struct.unpack_from(">I", b, i)[0]
    if (h >> 21) & 0x7FF != 0x7FF:
        raise ValueError("lost MP3 frame sync")
    version = (h >> 19) & 0x3
    layer = (h >> 17) & 0x3
    if version == 0:
        raise ValueError("MPEG-2.5 (unofficial extension) not supported")
    if version == 1:
        raise ValueError("reserved MPEG version bits")
    lsf = version == 2  # 2 = MPEG-2 LSF, 3 = MPEG-1
    if layer != 1:  # 1 = Layer III
        raise ValueError(f"only Layer III supported (layer bits {layer:02b})")
    protection = not ((h >> 16) & 1)  # bit 0 -> CRC present
    br_idx = (h >> 12) & 0xF
    if br_idx == 0:
        raise ValueError("free-format MP3 bitrate not supported")
    if br_idx == 0xF:
        raise ValueError("bad MP3 bitrate index 15")
    sr_idx = (h >> 10) & 0x3
    if sr_idx == 3:
        raise ValueError("reserved MP3 sample-rate index")
    padding = (h >> 9) & 1
    mode = (h >> 6) & 0x3  # 0 stereo, 1 joint, 2 dual, 3 mono
    mode_ext = (h >> 4) & 0x3
    if lsf:
        bitrate = _BITRATES_KBPS_LSF[br_idx] * 1000
        sample_rate = _SAMPLE_RATES_LSF[sr_idx]
        if sample_rate == 16000:
            raise ValueError(
                "MPEG-2 16 kHz refused: its scalefactor-band table "
                "transcription did not survive offline validation "
                "(22.05/24 kHz decode)"
            )
        frame_len = 72 * bitrate // sample_rate + padding
    else:
        bitrate = _BITRATES_KBPS[br_idx] * 1000
        sample_rate = _SAMPLE_RATES[sr_idx]
        frame_len = 144 * bitrate // sample_rate + padding
    return sample_rate, bitrate, mode, mode_ext, protection, frame_len, lsf


class _Granule:
    __slots__ = ("part2_3_length", "big_values", "global_gain",
                 "scalefac_compress", "window_switching", "block_type",
                 "mixed_block", "table_select", "subblock_gain",
                 "region0_count", "region1_count", "preflag",
                 "scalefac_scale", "count1table_select")


def _parse_side_info(data: bytes, n_channels: int):
    """§2.4.1.7: 17 bytes mono / 32 bytes stereo. Returns
    (main_data_begin, scfsi[ch][4], granules[2][ch])."""
    bits = _Bits(data)
    main_data_begin = bits.read(9)
    bits.read(5 if n_channels == 1 else 3)  # private_bits
    scfsi = [[bits.read(1) for _ in range(4)] for _ in range(n_channels)]
    granules = []
    for _gr in range(2):
        chans = []
        for _ch in range(n_channels):
            g = _Granule()
            g.part2_3_length = bits.read(12)
            g.big_values = bits.read(9)
            if g.big_values > 288:
                raise ValueError(f"MP3 big_values {g.big_values} > 288")
            g.global_gain = bits.read(8)
            g.scalefac_compress = bits.read(4)
            g.window_switching = bits.read(1)
            if g.window_switching:
                g.block_type = bits.read(2)
                if g.block_type == 0:
                    raise ValueError(
                        "MP3 window_switching with block_type 0 is reserved"
                    )
                g.mixed_block = bits.read(1)
                if g.mixed_block and g.block_type != 2:
                    raise ValueError(
                        "MP3 mixed_block_flag with non-short block_type"
                    )
                g.table_select = [bits.read(5), bits.read(5)]
                g.subblock_gain = [bits.read(3) for _ in range(3)]
                g.region0_count = 7  # implied: region1 starts at sample 36
                g.region1_count = 20 - g.region0_count
            else:
                g.block_type = 0
                g.mixed_block = 0
                g.table_select = [bits.read(5), bits.read(5), bits.read(5)]
                g.subblock_gain = [0, 0, 0]
                g.region0_count = bits.read(4)
                g.region1_count = bits.read(3)
            g.preflag = bits.read(1)
            g.scalefac_scale = bits.read(1)
            g.count1table_select = bits.read(1)
            chans.append(g)
        granules.append(chans)
    return main_data_begin, scfsi, granules


def _parse_side_info_lsf(data: bytes, n_channels: int):
    """ISO 13818-3 LSF side info: 9 bytes mono / 17 stereo — 8-bit
    main_data_begin, 1/2 private bits, NO scfsi, ONE granule per frame,
    9-bit scalefac_compress, and no preflag field (preflag derives from
    the scalefac_compress partition rule)."""
    bits = _Bits(data)
    main_data_begin = bits.read(8)
    bits.read(1 if n_channels == 1 else 2)  # private_bits
    chans = []
    for _ch in range(n_channels):
        g = _Granule()
        g.part2_3_length = bits.read(12)
        g.big_values = bits.read(9)
        if g.big_values > 288:
            raise ValueError(f"MP3 big_values {g.big_values} > 288")
        g.global_gain = bits.read(8)
        g.scalefac_compress = bits.read(9)
        g.window_switching = bits.read(1)
        if g.window_switching:
            g.block_type = bits.read(2)
            if g.block_type == 0:
                raise ValueError(
                    "MP3 window_switching with block_type 0 is reserved"
                )
            g.mixed_block = bits.read(1)
            if g.mixed_block:
                raise ValueError("MPEG-2 LSF mixed blocks not supported")
            g.table_select = [bits.read(5), bits.read(5)]
            g.subblock_gain = [bits.read(3) for _ in range(3)]
            g.region0_count = 7
            g.region1_count = 20 - g.region0_count
        else:
            g.block_type = 0
            g.mixed_block = 0
            g.table_select = [bits.read(5), bits.read(5), bits.read(5)]
            g.subblock_gain = [0, 0, 0]
            g.region0_count = bits.read(4)
            g.region1_count = bits.read(3)
        g.preflag = 0  # set by the LSF scalefactor rule, not a stream bit
        g.scalefac_scale = bits.read(1)
        g.count1table_select = bits.read(1)
        chans.append(g)
    return main_data_begin, [chans]


# LSF scalefactor partition rule (13818-3 §2.4.3.2, non-intensity
# channels): scalefac_compress range -> (slen quadruple, per-partition
# scalefactor counts, preflag). Counts sum to 21 long / 36 short slots.
def _lsf_scalefac_layout(sfc: int, short: bool):
    if sfc < 400:
        slen = ((sfc >> 4) // 5, (sfc >> 4) % 5, (sfc & 0xF) >> 2, sfc & 3)
        nr = (9, 9, 9, 9) if short else (6, 5, 5, 5)
        preflag = 0
    elif sfc < 500:
        t = sfc - 400
        slen = ((t >> 2) // 5, (t >> 2) % 5, t & 3, 0)
        nr = (9, 9, 12, 6) if short else (6, 5, 7, 3)
        preflag = 0
    else:
        t = sfc - 500
        slen = (t // 3, t % 3, 0, 0)
        nr = (18, 18, 0, 0) if short else (11, 10, 0, 0)
        preflag = 1
    return slen, nr, preflag


def _read_scalefactors_lsf(bits: _Bits, g: _Granule):
    """LSF scalefactors for one granule-channel; sets g.preflag per the
    partition rule and returns (long21 | None, short13x3 | None)."""
    short = bool(g.window_switching and g.block_type == 2)
    slen, nr, g.preflag = _lsf_scalefac_layout(g.scalefac_compress, short)
    vals = []
    for count, sl in zip(nr, slen):
        for _ in range(count):
            vals.append(bits.read(sl) if sl else 0)
    if short:
        sfac = np.zeros((13, 3), dtype=np.int32)
        for slot in range(36):
            sfac[slot // 3, slot % 3] = vals[slot]
        return None, sfac
    sfac = np.zeros(22, dtype=np.int32)
    sfac[:21] = vals
    return sfac, None


# --------------------------------------------------------------------------
# Scalefactors (§2.4.2.7)
# --------------------------------------------------------------------------
_SCFSI_BANDS = ((0, 6), (6, 11), (11, 16), (16, 21))


def _read_scalefactors(bits: _Bits, g: _Granule, gr: int, scfsi_ch,
                       prev_long):
    slen1, slen2 = _SLEN1[g.scalefac_compress], _SLEN2[g.scalefac_compress]
    if g.window_switching and g.block_type == 2:
        if g.mixed_block:
            # mixed: 8 long bands (the first 36 samples) with slen1, then
            # short bands 3-5 (slen1) and 6-11 (slen2)
            sfl = np.zeros(22, dtype=np.int32)
            for sfb in range(8):
                sfl[sfb] = bits.read(slen1)
            sfac = np.zeros((13, 3), dtype=np.int32)
            for sfb in range(3, 6):
                for w in range(3):
                    sfac[sfb, w] = bits.read(slen1)
            for sfb in range(6, 12):
                for w in range(3):
                    sfac[sfb, w] = bits.read(slen2)
            return sfl, sfac
        # 12 short bands x 3 windows; scfsi does not apply to short blocks
        sfac = np.zeros((13, 3), dtype=np.int32)
        for sfb in range(6):
            for w in range(3):
                sfac[sfb, w] = bits.read(slen1)
        for sfb in range(6, 12):
            for w in range(3):
                sfac[sfb, w] = bits.read(slen2)
        return None, sfac
    sfac = np.zeros(22, dtype=np.int32)
    for band, (lo, hi) in enumerate(_SCFSI_BANDS):
        if gr == 1 and scfsi_ch[band]:
            if prev_long is None:
                raise ValueError("MP3 scfsi set but granule 0 was short")
            sfac[lo:hi] = prev_long[lo:hi]
        else:
            slen = slen1 if hi <= 11 else slen2
            for sfb in range(lo, hi):
                sfac[sfb] = bits.read(slen)
    return sfac, None


# --------------------------------------------------------------------------
# Huffman region decode (§2.4.2.7 / §2.4.3.4.6)
# --------------------------------------------------------------------------
def _region_boundaries(g: _Granule, sample_rate: int):
    if g.window_switching:
        return 36, 576
    widths = _SFB_LONG[sample_rate]
    starts = np.concatenate(([0], np.cumsum(widths)))
    r0 = min(g.region0_count + 1, len(starts) - 1)
    r1 = min(g.region0_count + g.region1_count + 2, len(starts) - 1)
    return int(starts[r0]), int(starts[r1])


def _select_table(tid: int):
    if tid == 0:
        return None  # zero-value table: no bits, all zeros
    if tid in _INVALID_TABLES:
        raise ValueError(f"MP3 huffman table {tid} is invalid per spec")
    if tid in _UNVERIFIED_TABLES:
        raise ValueError(
            f"MP3 huffman table {tid} is outside the certified set "
            f"(transcription did not survive structural validation; "
            f"refusing rather than decoding garbage)"
        )
    return _HUFF_TABLES[tid]


def _decode_spectrum(bits: _Bits, g: _Granule, sample_rate: int,
                     limit_bits: int) -> np.ndarray:
    """Decode big_values pairs + count1 quadruples into 576 ints."""
    is_ = np.zeros(576, dtype=np.int64)
    r1, r2 = _region_boundaries(g, sample_rate)
    bv_end = g.big_values * 2
    idx = 0
    while idx < bv_end:
        if idx < r1:
            tid = g.table_select[0]
        elif idx < r2:
            tid = g.table_select[1]
        else:
            if g.window_switching:
                raise ValueError("MP3 big_values region 2 in a short block")
            tid = g.table_select[2]
        tab = _select_table(tid)
        if tab is None:
            idx += 2
            continue
        xlen, dmap = tab
        sym = _huff_decode(bits, dmap)
        x, y = sym // xlen, sym % xlen
        # certified tables have no linbits/ESC entries (max value 15)
        if x:
            if bits.bit():
                x = -x
        if y:
            if bits.bit():
                y = -y
        if idx + 1 >= 576:
            raise ValueError("MP3 big_values overrun past 576 samples")
        is_[idx], is_[idx + 1] = x, y
        idx += 2
    # count1 region: quadruples until the bit budget or spectrum is full
    c1 = _COUNT1_TABLES[g.count1table_select]
    while bits.pos < limit_bits and idx + 3 < 576:
        start = bits.pos
        sym = _huff_decode(bits, c1)
        quad = [(sym >> 3) & 1, (sym >> 2) & 1, (sym >> 1) & 1, sym & 1]
        for k in range(4):
            if quad[k] and bits.bit():
                quad[k] = -quad[k]
        if bits.pos > limit_bits:
            # spec note: a quadruple straddling the part2_3 boundary is
            # stuffing — discard it and stop
            bits.pos = start
            break
        is_[idx:idx + 4] = quad
        idx += 4
    if bits.pos > limit_bits:
        raise ValueError("MP3 huffman data overran part2_3_length")
    bits.pos = limit_bits  # skip stuffing bits
    return is_


# --------------------------------------------------------------------------
# Requantization (§2.4.3.4), reordering, stereo, alias reduction
# --------------------------------------------------------------------------
def _intensity_stereo(left: np.ndarray, right: np.ndarray, rzero: int,
                      sfac_right, ms: bool, sample_rate: int):
    """§2.4.3.4.9.3 intensity stereo for long blocks: bands at or above
    the right channel's zero boundary carry a position (the right
    channel's scalefactor) instead of samples; the LEFT channel's values
    split L/R by ratio tan(is_pos * pi/12). is_pos == 7 switches the band
    back to normal stereo (MS there when the MS bit is also set).
    Returns new (left, right)."""
    widths = _SFB_LONG[sample_rate]
    starts = np.concatenate(([0], np.cumsum(widths)))
    inv_sqrt2 = 2.0 ** -0.5
    out_l, out_r = left.copy(), right.copy()
    for sfb, w in enumerate(widths):
        lo, hi = int(starts[sfb]), int(starts[sfb + 1])
        if lo < rzero:
            # below the intensity bound: normal stereo (MS when on)
            if ms:
                m, s = left[lo:hi], right[lo:hi]
                out_l[lo:hi] = (m + s) * inv_sqrt2
                out_r[lo:hi] = (m - s) * inv_sqrt2
            continue
        if sfb >= 21:
            # sfb 21 has no transmitted scalefactor (long layout carries
            # bands 0..20); the spec/dist10 convention reuses band 20's
            # intensity position for the uncoded top band rather than
            # defaulting to position 0 (all energy to the right channel)
            is_pos = int(sfac_right[20])
        else:
            is_pos = int(sfac_right[sfb])
        if is_pos == 7:  # illegal position: band is not intensity-coded
            if ms:
                m, s = left[lo:hi], right[lo:hi]
                out_l[lo:hi] = (m + s) * inv_sqrt2
                out_r[lo:hi] = (m - s) * inv_sqrt2
            continue
        ratio = np.tan(is_pos * np.pi / 12.0)
        out_l[lo:hi] = left[lo:hi] * (ratio / (1.0 + ratio))
        out_r[lo:hi] = left[lo:hi] * (1.0 / (1.0 + ratio))
    return out_l, out_r

def _requantize(is_: np.ndarray, g: _Granule, sfac_long, sfac_short,
                sample_rate: int) -> np.ndarray:
    mag = np.abs(is_).astype(np.float64) ** (4.0 / 3.0)
    xr = np.sign(is_) * mag
    mult = 0.5 * (1 + g.scalefac_scale)  # scalefac_multiplier
    if g.window_switching and g.block_type == 2:
        widths = np.asarray(_SFB_SHORT[sample_rate])
        sf = np.zeros((13, 3))
        sf[:12] = sfac_short[:12]
        # per (sfb, window) exponent, repeated to the 3w band-major layout
        e = ((g.global_gain - 210 - 8.0 * np.asarray(g.subblock_gain))[None, :]
             / 4.0 - mult * sf)  # (13, 3)
        exp = np.repeat(e.reshape(-1), np.repeat(widths, 3))
        if g.mixed_block:
            # first 36 samples are LONG bands (0..7 sum to exactly 36 at
            # every MPEG-1 rate): long exponents with preflag/pretab, no
            # subblock gain; the short exponents above start at band 3
            # whose first sample is also 36
            widths_l = _SFB_LONG[sample_rate]
            pos = 0
            for sfb, w in enumerate(widths_l):
                if pos >= 36:
                    break
                exp[pos:pos + w] = ((g.global_gain - 210) / 4.0
                                    - mult * (sfac_long[sfb]
                                              + g.preflag * _PRETAB[sfb]))
                pos += w
        return xr * np.exp2(exp)
    widths = np.asarray(_SFB_LONG[sample_rate])
    e = ((g.global_gain - 210) / 4.0
         - mult * (np.asarray(sfac_long, dtype=np.float64)
                   + g.preflag * np.asarray(_PRETAB)))
    return xr * np.exp2(np.repeat(e, widths))


def _reorder_short(xr: np.ndarray, sample_rate: int,
                   start_band: int = 0) -> np.ndarray:
    """Short-block spectra arrive band-major (sfb, then window); the
    hybrid filterbank wants window-interleaved order within each band.
    Mixed blocks reorder only from start_band (3: sample 36) — the long
    head keeps natural order."""
    widths = _SFB_SHORT[sample_rate]
    out = xr.copy() if start_band else np.empty_like(xr)
    pos = 3 * sum(widths[:start_band])
    for w in widths[start_band:]:
        block = xr[pos:pos + 3 * w].reshape(3, w)
        out[pos:pos + 3 * w] = block.T.reshape(-1)
        pos += 3 * w
    return out


_ALIAS_BASES = np.arange(1, 32) * 18


def _alias_reduce(xr: np.ndarray, n_bounds: int = 31) -> np.ndarray:
    """Butterflies across the long-block subband boundaries
    (§2.4.3.4.8), vectorized over boundaries: each k's (lo, hi) index
    sets are disjoint from every other k's, so the k-loop order is
    immaterial and each step is one gather/scatter over the boundary
    set. Pure long blocks use all 31 boundaries; mixed blocks only the
    one between their two long subbands."""
    out = xr.copy()
    bases = _ALIAS_BASES[:n_bounds]
    for k in range(8):
        lo, hi = bases - 1 - k, bases + k
        a, b = out[lo], out[hi]
        out[lo] = a * _CS[k] - b * _CA[k]
        out[hi] = b * _CS[k] + a * _CA[k]
    return out


# --------------------------------------------------------------------------
# Hybrid filterbank: IMDCT + block windows (from the spec's closed
# formulas) + overlap-add + frequency inversion
# --------------------------------------------------------------------------
_IMDCT_LONG = np.cos(np.pi / 72.0
                     * (2 * np.arange(36)[:, None] + 1 + 18)
                     * (2 * np.arange(18)[None, :] + 1))
_IMDCT_SHORT = np.cos(np.pi / 24.0
                      * (2 * np.arange(12)[:, None] + 1 + 6)
                      * (2 * np.arange(6)[None, :] + 1))

_WIN = {}
_WIN[0] = np.sin(np.pi / 36.0 * (np.arange(36) + 0.5))
_w1 = np.empty(36)
_w1[:18] = np.sin(np.pi / 36.0 * (np.arange(18) + 0.5))
_w1[18:24] = 1.0
_w1[24:30] = np.sin(np.pi / 12.0 * (np.arange(24, 30) - 18 + 0.5))
_w1[30:] = 0.0
_WIN[1] = _w1
_w3 = np.empty(36)
_w3[:6] = 0.0
_w3[6:12] = np.sin(np.pi / 12.0 * (np.arange(6, 12) - 6 + 0.5))
_w3[12:18] = 1.0
_w3[18:] = np.sin(np.pi / 36.0 * (np.arange(18, 36) + 0.5))
_WIN[3] = _w3
_WIN_SHORT = np.sin(np.pi / 12.0 * (np.arange(12) + 0.5))


def _hybrid(xr: np.ndarray, block_type: int, overlap: np.ndarray,
            mixed: bool = False) -> np.ndarray:
    """576 spectral samples -> (18, 32) time-slot matrix, updating the
    per-subband 18-sample overlap store in place. All 32 subbands IMDCT
    as one batched matmul."""
    spec = xr.reshape(32, 18)
    if block_type == 2:
        z = np.zeros((32, 36))
        for w in range(3):
            y = spec[:, w::3] @ _IMDCT_SHORT.T  # (32, 12)
            z[:, 6 + 6 * w:18 + 6 * w] += y * _WIN_SHORT
        if mixed:
            # mixed: the two lowest subbands are LONG (normal window)
            z[:2] = (spec[:2] @ _IMDCT_LONG.T) * _WIN[0]
    else:
        z = (spec @ _IMDCT_LONG.T) * _WIN[block_type]  # (32, 36)
    S = z[:, :18].T + overlap
    overlap[:] = z[:, 18:].T
    # frequency inversion: odd time samples of odd subbands
    S[1::2, 1::2] *= -1.0
    return S


# --------------------------------------------------------------------------
# Polyphase synthesis (§2.4.3.4.10 / Layer I-II figure A.2 structure)
# --------------------------------------------------------------------------
_SYNTH_N = np.cos((16 + np.arange(64))[:, None]
                  * (2 * np.arange(32) + 1)[None, :] * np.pi / 64.0)

# Table B.3 synthesis window: first 257 coefficients (all integer
# multiples of 2^-16, stored as those integers); the remaining 255 follow
# by the table's antisymmetry D[256+k] = -D[256-k], which the
# reconstruction test pins against the filterbank's 481-sample delay.
from railgun_spark.operators._mp3_window import D_HALF_X65536  # noqa: E402

_SYNTH_D = np.zeros(512)
_SYNTH_D[:257] = np.asarray(D_HALF_X65536, dtype=np.float64) / 65536.0
_SYNTH_D[257:] = -_SYNTH_D[255:0:-1]

def _synthesize(S: np.ndarray, V: np.ndarray) -> np.ndarray:
    """(T, 32) subband slots -> (T*32,) PCM, updating FIFO V (1024,).

    Vectorized over slots: with A(t) = N @ S[t], the spec's per-slot
    V-shift / U-select / window / 16-row fold is algebraically
    out[t, j] = sum_{i=0..7} A(t-2i)[j]   * D[64i + j]
              + sum_{i=0..7} A(t-2i-1)[32+j] * D[64i + 32 + j]
    — an 8-tap strided convolution over the slot axis, computed here as
    16 slice multiply-adds over ALL slots at once instead of a Python
    loop per slot (the per-slot form was the decode hot spot). V keeps
    the spec layout (block b = A(t_last - b)) so state interops with any
    caller, including single-slot use."""
    T = S.shape[0]
    if T == 0:
        return np.empty(0)
    NS = S @ _SYNTH_N.T  # (T, 64): NS[t] = A(t)
    # history A(-16)..A(-1) from V blocks 15..0, oldest first
    hist = V.reshape(16, 64)[::-1]
    padded = np.concatenate([hist, NS], axis=0)  # padded[16+s] = A(s)
    out = np.zeros((T, 32))
    for i in range(8):
        out += padded[16 - 2 * i:16 - 2 * i + T, :32] \
            * _SYNTH_D[64 * i:64 * i + 32]
        out += padded[15 - 2 * i:15 - 2 * i + T, 32:] \
            * _SYNTH_D[64 * i + 32:64 * i + 64]
    V[:] = padded[len(padded) - 16:][::-1].reshape(-1)
    return out.reshape(-1)


# --------------------------------------------------------------------------
# Stream-level decode
# --------------------------------------------------------------------------
def _crc16_mpeg(data: bytes) -> int:
    """CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0xFFFF,
    MSB-first, no reflection — the §2.4.3.1 error-check variant."""
    crc = 0xFFFF
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


def _skip_id3(b: bytes) -> int:
    """ID3v2 prefix: 'ID3' + version(2) + flags + syncsafe length."""
    if b[:3] != b"ID3" or len(b) < 10:
        return 0
    size = ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14) \
        | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
    end = 10 + size
    if end > len(b):
        raise ValueError("truncated ID3v2 tag")
    return end


def decode_mp3(content: bytes) -> dict:
    """MPEG-1 Layer III bytes -> the shared audio result shape
    (sample_rate, n_channels, n_samples, duration_s, 8-dim feature over
    the channel-mean signal). Fail-closed: every reserved, unsupported,
    truncated, or uncertified-table condition raises ValueError."""
    x, sample_rate, n_channels = _decode_stream(content)
    from railgun_spark.operators.multimodal import _audio_result

    return _audio_result(x.mean(axis=1), sample_rate, n_channels)


def _decode_stream(content: bytes):
    """Full decode returning ((n_samples, n_channels) PCM, rate,
    channels) — the channel-resolved form the stereo tests pin."""
    b = bytes(content or b"")
    i = _skip_id3(b)
    end = len(b)
    if end - i >= 128 and b[end - 128:end - 125] == b"TAG":
        end -= 128  # ID3v1 suffix
    if end - i < 4:
        raise ValueError("truncated MP3: no frame header")

    sample_rate = n_channels = None
    reservoir = bytearray()
    pcm = []
    overlap = None
    fifo = None
    prev_long = None
    first = True

    lsf = None
    while i + 4 <= end:
        sr, _br, mode, mode_ext, protection, frame_len, f_lsf = _parse_header(b, i)
        if first:
            sample_rate = sr
            lsf = f_lsf
            n_channels = 1 if mode == 3 else 2
            overlap = [np.zeros((18, 32)) for _ in range(n_channels)]
            fifo = [np.zeros(1024) for _ in range(n_channels)]
            prev_long = [None] * n_channels
            first = False
        elif (sr != sample_rate or (1 if mode == 3 else 2) != n_channels
              or f_lsf != lsf):
            raise ValueError("MP3 sample rate / channel mode changed mid-stream")
        if i + frame_len > end:
            raise ValueError(
                f"truncated MP3 frame: {end - i} of {frame_len} bytes"
            )
        off = i + 4
        if protection:
            off += 2
        if lsf:
            side_len = 9 if n_channels == 1 else 17
        else:
            side_len = 17 if n_channels == 1 else 32
        if off + side_len > i + frame_len:
            raise ValueError("MP3 frame too short for side info")
        if protection:
            # CRC-16 (poly 0x8005, init 0xFFFF) over header bytes 2-3 +
            # the side info — §2.4.3.1 error check
            stored = struct.unpack_from(">H", b, i + 4)[0]
            calc = _crc16_mpeg(b[i + 2:i + 4] + b[off:off + side_len])
            if stored != calc:
                raise ValueError(
                    f"MP3 CRC mismatch: stored {stored:#06x}, "
                    f"computed {calc:#06x}"
                )
        if lsf:
            main_data_begin, granules = _parse_side_info_lsf(
                b[off:off + side_len], n_channels
            )
            scfsi = [[0, 0, 0, 0]] * n_channels
        else:
            main_data_begin, scfsi, granules = _parse_side_info(
                b[off:off + side_len], n_channels
            )
        main = b[off + side_len: i + frame_len]
        if main_data_begin > len(reservoir):
            raise ValueError(
                f"MP3 bit-reservoir underflow: needs {main_data_begin} "
                f"bytes, have {len(reservoir)}"
            )
        start = len(reservoir) - main_data_begin
        reservoir += main

        data = bytes(reservoir)
        bits = _Bits(data, start * 8)
        ms = mode == 1 and (mode_ext & 0x2)
        intensity = mode == 1 and (mode_ext & 0x1)
        if lsf and intensity:
            raise ValueError(
                "MPEG-2 LSF intensity stereo not supported"
            )
        for gr in range(len(granules)):
            xs = []
            right_is = right_sfl = None
            for ch in range(n_channels):
                g = granules[gr][ch]
                p23_end = bits.pos + g.part2_3_length
                if lsf:
                    sfl, sfs = _read_scalefactors_lsf(bits, g)
                else:
                    sfl, sfs = _read_scalefactors(bits, g, gr, scfsi[ch],
                                                  prev_long[ch])
                if sfl is not None and not (
                    g.window_switching and g.block_type == 2
                ):
                    # any granule that decoded the FULL long scalefactor
                    # layout (normal windows AND start/stop block_type 1/3)
                    # is a valid scfsi donor for granule 1; mixed blocks
                    # only carry 8 long bands, so they don't qualify
                    prev_long[ch] = sfl
                is_ = _decode_spectrum(bits, g, sample_rate, p23_end)
                xr = _requantize(is_, g, sfl, sfs, sample_rate)
                if g.window_switching and g.block_type == 2:
                    xr = _reorder_short(
                        xr, sample_rate,
                        start_band=3 if g.mixed_block else 0,
                    )
                if ch == 1:
                    right_is, right_sfl = is_, sfl
                xs.append(xr)
            if intensity:
                g_r = granules[gr][1]
                if g_r.window_switching and g_r.block_type == 2:
                    raise ValueError(
                        "MP3 intensity stereo with short blocks not supported"
                    )
                nz = np.nonzero(right_is)[0]
                rzero = int(nz[-1]) + 1 if len(nz) else 0
                xs = list(_intensity_stereo(
                    xs[0], xs[1], rzero, right_sfl, bool(ms), sample_rate
                ))
            elif ms:
                m, s = xs
                inv_sqrt2 = 2.0 ** -0.5
                xs = [(m + s) * inv_sqrt2, (m - s) * inv_sqrt2]
            chans = []
            for ch in range(n_channels):
                g = granules[gr][ch]
                xr = xs[ch]
                short = g.window_switching and g.block_type == 2
                if not short:
                    xr = _alias_reduce(xr)
                elif g.mixed_block:
                    xr = _alias_reduce(xr, n_bounds=1)
                S = _hybrid(xr, g.block_type, overlap[ch],
                            mixed=bool(short and g.mixed_block))
                chans.append(_synthesize(S, fifo[ch]))
            pcm.append(np.stack(chans, axis=1) if n_channels == 2
                       else chans[0].reshape(-1, 1))
        # trim the reservoir: 9 bits of main_data_begin address at most
        # 511 bytes back
        if len(reservoir) > 1024:
            del reservoir[:len(reservoir) - 512]
        i += frame_len

    if first:
        raise ValueError("MP3 stream contains no frames")
    return np.concatenate(pcm, axis=0), sample_rate, n_channels


# --------------------------------------------------------------------------
# Corpus-level refusal observability. Every refusal above is a loud
# ValueError whose message names its cause; at corpus scale (a 100 TB
# audio sweep) those surface one file at a time unless they aggregate.
# classify_mp3_refusal maps the message to a STABLE reason code — the
# codes are the contract for mp3_decode_coverage (operators/multimodal.py)
# and the `stats` CLI section, pinned per-class by crafted streams in
# tests/test_mp3.py. Co-located with the raise sites so message edits and
# the classifier evolve together. Pattern mirrors errors.py: classify the
# expected failure taxonomy, never swallow an unknown one silently —
# unmatched messages land in 'other' and stay visible in the report.
# --------------------------------------------------------------------------
MP3_REFUSAL_REASONS = (
    "uncertified_huffman_table",  # tables 11/15/16-31: transcription refused
    "lsf_16khz",                  # MPEG-2 16 kHz sfb table refused
    "unsupported_layer",          # Layer I / Layer II
    "free_format",                # bitrate index 0
    "mpeg25",                     # MPEG-2.5 unofficial extension
    "reserved_header_bits",       # reserved version/sample-rate/bitrate idx
    "bad_sync",                   # no 0xFFF sync at stream head
    "truncated",                  # frame/tag/stream cut short, empty stream
    "crc_mismatch",               # protection bit set, CRC-16 disagrees
    "reservoir_underflow",        # main_data_begin reaches before stream
    "unsupported_feature",        # LSF intensity / short-block intensity /
                                  # LSF mixed blocks
    "midstream_change",           # rate/mode/version flipped between frames
    "corrupt_bitstream",          # structural violations inside frame data
    "other",
)

_REFUSAL_PATTERNS = (
    ("outside the certified set", "uncertified_huffman_table"),
    ("16 kHz refused", "lsf_16khz"),
    ("only Layer III", "unsupported_layer"),
    ("free-format", "free_format"),
    ("MPEG-2.5", "mpeg25"),
    ("reserved MPEG version", "reserved_header_bits"),
    ("reserved MP3 sample-rate", "reserved_header_bits"),
    ("bad MP3 bitrate index", "reserved_header_bits"),
    ("lost MP3 frame sync", "bad_sync"),
    ("truncated MP3", "truncated"),
    ("no frame header", "truncated"),
    ("truncated ID3v2", "truncated"),
    ("contains no frames", "truncated"),
    ("CRC mismatch", "crc_mismatch"),
    ("bit-reservoir underflow", "reservoir_underflow"),
    ("intensity stereo", "unsupported_feature"),
    ("LSF mixed blocks", "unsupported_feature"),
    ("changed mid-stream", "midstream_change"),
    # in-frame structural violations: decoded side info or spectrum data
    # contradicts the spec's invariants
    ("side info", "corrupt_bitstream"),
    ("invalid per spec", "corrupt_bitstream"),
    ("invalid MP3 huffman code", "corrupt_bitstream"),
    ("big_values", "corrupt_bitstream"),
    ("overran part2_3_length", "corrupt_bitstream"),
    ("scfsi set but granule 0", "corrupt_bitstream"),
)


def classify_mp3_refusal(msg: str) -> str:
    """Map a decode_mp3 ValueError message to its stable reason code
    (one of MP3_REFUSAL_REASONS; unmatched -> 'other', never raises)."""
    for pat, reason in _REFUSAL_PATTERNS:
        if pat in msg:
            return reason
    return "other"
