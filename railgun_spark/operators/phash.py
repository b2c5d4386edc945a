"""Perceptual-hash image dedup — the image-modality member of the dedup
family (the reference engine has no media dedup; this is part of the
LLM-training-pipeline superset alongside operators/dedup.py and the
embedding gates in operators/similarity.py).

dHash/aHash are the standard production primitives for crawled-image
near-dup detection: decode -> grayscale -> tiny bilinear downsample ->
64 threshold bits. Two images that differ by re-encoding, mild
recompression, or small uniform edits land within a few Hamming bits;
unrelated images land ~32 apart. The decode+hash stage is ONE
Arrow-batched mapInPandas pass over MEDIA_SCHEMA rows (the same batch
shape as extract_features / resize_images), and everything downstream is
integer Column algebra:

- Pairing is pigeonhole-blocked exactly like dedup_simhash: split the
  64-bit hash into PHASH_BANDS disjoint 16-bit chunks; any pair with
  hamming <= PHASH_BANDS - 1 agrees on at least one chunk, so an
  equi-join on (chunk_idx, chunk_value) yields a LOSSLESS candidate
  superset — no all-pairs join anywhere, candidate cost tracks true
  near-dup density.
- The ingest gate persists (band_idx << 16 | chunk, dhash) rows to an
  append-only parquet index (16 bytes/row, PHASH_BANDS rows per admitted
  image), so a continuously arriving image corpus dedups against ALL
  history without rescanning pixels. Unlike the text MinHash gate
  (whose band keys carry enough entropy that collision alone can
  reject), 16-bit chunks saturate: at 50k admitted images ~
  all 65536 values of every band are occupied and collision-alone would
  false-reject nearly everything. The gate therefore treats a band
  collision as a CANDIDATE only and rejects on a verified
  hamming <= PHASH_MAX_HAMMING against the stored hash — exact
  (lossless by pigeonhole AND no false rejects), still one equi-join on
  a uniform integer key, bucketable at PB scale.

At 100 TB of images the expensive stage is decode; it is map-only and
scales with input splits (spread_scan). The hash index stays ~32
bytes per admitted image regardless of image size.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from railgun_spark.session import pin, spread_scan
from railgun_spark.suite import extra_query, query

PHASH_BITS = 64
PHASH_BANDS = 4  # pigeonhole: lossless candidates for hamming <= 3
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
PHASH_MAX_HAMMING = PHASH_BANDS - 1


def _gray(raster):
    """(h, w, 3) float RGB -> (h, w, 1) gray by channel mean (the same
    gray convention as decode_image's feature[3])."""
    return raster.mean(axis=2, keepdims=True)


def dhash64(raster) -> int:
    """Difference hash: gray -> 9x8 bilinear -> bit (y*8 + x) set iff
    g[y, x+1] > g[y, x]. Bit 63 corresponds to the bottom-right
    comparison; the value therefore ranges over all 64 bits (callers
    that need sign-safe cross-engine arithmetic should keep crafted
    inputs under 2^63, as the oracle query below does)."""
    import numpy as np

    from railgun_spark.operators.multimodal import _resize_bilinear

    g = _resize_bilinear(_gray(raster), 9, 8)[:, :, 0]
    bits = g[:, 1:] > g[:, :-1]  # (8, 8)
    weights = np.left_shift(
        np.uint64(1), np.arange(64, dtype=np.uint64).reshape(8, 8)
    )
    return int(np.sum(np.where(bits, weights, np.uint64(0)), dtype=np.uint64))


def ahash64(raster) -> int:
    """Average hash: gray -> 8x8 bilinear -> bit (y*8 + x) set iff the
    cell exceeds the 64-cell mean."""
    import numpy as np

    from railgun_spark.operators.multimodal import _resize_bilinear

    g = _resize_bilinear(_gray(raster), 8, 8)[:, :, 0]
    bits = g > g.mean()
    weights = np.left_shift(
        np.uint64(1), np.arange(64, dtype=np.uint64).reshape(8, 8)
    )
    return int(np.sum(np.where(bits, weights, np.uint64(0)), dtype=np.uint64))


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("refused", T.StringType()),
    ]
)


def image_perceptual_hashes(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """MEDIA_SCHEMA image rows -> (media_id, dhash, ahash, refused) in one
    Arrow pass. Non-image rows are dropped; codec-bound payloads record a
    per-row refusal (hashes NULL) per the decode-coverage discipline —
    one bad image in a crawled batch must not kill the stage. Python-side
    ints are masked into signed-64 two's complement so the LongType
    column round-trips bit patterns exactly."""
    from railgun_spark.operators.multimodal import decode_image_raster

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "image"]
            if pdf.empty:
                continue
            ids, dhs, ahs, refs = [], [], [], []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                ids.append(int(mid))
                try:
                    raster = decode_image_raster(bytes(content or b""))
                except ValueError as exc:
                    dhs.append(None)
                    ahs.append(None)
                    refs.append(str(exc))
                    continue
                d, a = dhash64(raster), ahash64(raster)
                dhs.append(d - (1 << 64) if d >= (1 << 63) else d)
                ahs.append(a - (1 << 64) if a >= (1 << 63) else a)
                refs.append(None)
            yield pd.DataFrame(
                {"media_id": ids, "dhash": pd.array(dhs, dtype="Int64"),
                 "ahash": pd.array(ahs, dtype="Int64"), "refused": refs}
            )

    return df.mapInPandas(batches, PHASH_SCHEMA)


def _chunks(words: list[Column], width: int) -> Column:
    """The disjoint `width`-bit chunks (16 or 32) of a 64*len(words)-bit
    hash held as signed-64 word columns, low word and low bits first —
    shiftright carries the sign bit into a word's top chunk for negative
    words, so masking AFTER the shift keeps every chunk in
    [0, 2^width)."""
    mask = F.lit((1 << width) - 1)
    return F.array(
        *[F.shiftright(w, off).bitwiseAND(mask)
          for w in words for off in range(0, 64, width)]
    )


# 2 x 32-bit chunks of one 64-bit hash: lossless for hamming <= 1
PHASH_COARSE_MAX_HAMMING = 1


# --------------------------------------------------------------------------
# Oracle-gated certification: crafted images whose dHash is PREDICTED by
# doc_id arithmetic. Each sampled doc_id maps to (group g, variant v);
# a 60-bit target hash h = md5_60(g) XOR pert(g, v) is painted into an
# 18x16 grayscale PGM as pixel-DOUBLED columns whose adjacent-step signs
# encode h's bits — the pixel-center bilinear 2x downsample averages each
# duplicated pair back to the 9x8 base grid EXACTLY, so
# decode -> resize -> dhash must recover h bit-for-bit. Variants 0/1/2
# sit within hamming 1..3 of each other (near-dups the banded join must
# find losslessly); variant 3 flips 16 bits (must be excluded).
# --------------------------------------------------------------------------
PHASH_SAMPLE_MOD = 7


def _phash_target(g: int, v: int) -> int:
    """The crafted 60-bit dHash for (group, variant) — Python twin of the
    oracle's md5/xor arithmetic (shared 60-bit hash: first 15 md5 hex
    chars, the suite's cross-engine basis)."""
    import hashlib

    base = int(hashlib.md5(str(g).encode()).hexdigest()[:15], 16)
    if v == 1:
        pert = 1 << (g % 60)
    elif v == 2:
        pert = (1 << ((g + 13) % 60)) | (1 << ((g + 29) % 60))
    elif v == 3:
        pert = 0xFFFF << (g % 44)
    else:
        pert = 0
    return base ^ pert


def _phash_luma(h: int) -> bytes:
    """The 18x16 8-bit luma raster whose 9x8 bilinear downsample dHashes
    to exactly `h`: base column 128, each rightward step +-1 by the
    corresponding bit of h, rows/cols pixel-doubled (values stay in
    120..136). Shared by the PGM (image) and Y4M (video) crafts."""
    rows = []
    for y in range(8):
        vals = [128]
        for x in range(8):
            bit = (h >> (y * 8 + x)) & 1
            vals.append(vals[-1] + (1 if bit else -1))
        doubled = [v for v in vals for _ in range(2)]
        rows.append(bytes(doubled))
        rows.append(bytes(doubled))
    return b"".join(rows)


def _phash_pgm(h: int) -> bytes:
    """18x16 PGM of the _phash_luma grid."""
    return b"P5\n18 16\n255\n" + _phash_luma(h)


def _phash_y4m(frame_hashes) -> bytes:
    """18x16 C420 YUV4MPEG2 stream with one _phash_luma frame per target
    hash (chroma planes neutral 128) — the video twin of _phash_pgm."""
    head = b"YUV4MPEG2 W18 H16 F25:1 Ip A1:1 C420\n"
    chroma = bytes([128]) * (9 * 8 * 2)
    return head + b"".join(
        b"FRAME\n" + _phash_luma(h) + chroma for h in frame_hashes
    )


@extra_query(
    # r15 rotation: demoted — the narrow 4x16 banded-pair join stays
    # driver-certified by audio_phash_pairs (identical algebra) and the
    # wide/coarse image entries; this exact twin stays EXTRA-certified
    "image_phash_pairs",
    # The oracle recomputes each crafted image's dHash from doc_id
    # arithmetic (shared 60-bit md5 basis XOR the variant perturbation)
    # and keeps the semantic all-pairs hamming <= 3 definition; the Spark
    # side must recover the same integers through a REAL
    # craft -> PGM decode -> bilinear resize -> dhash -> banded-join
    # pipeline, certifying every stage including losslessness of the
    # pigeonhole blocking.
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (doc_id // {PHASH_SAMPLE_MOD}) // 4 AS g,
             (doc_id // {PHASH_SAMPLE_MOD}) % 4 AS v
      FROM documents WHERE doc_id % {PHASH_SAMPLE_MOD} = 0
    ), h AS (
      SELECT doc_id,
             xor(
               CAST(('0x' || substr(md5(CAST(g AS VARCHAR)), 1, 15))::UBIGINT
                    AS BIGINT),
               CASE v
                 WHEN 1 THEN (CAST(1 AS BIGINT) << (g % 60))
                 WHEN 2 THEN (CAST(1 AS BIGINT) << ((g + 13) % 60))
                           | (CAST(1 AS BIGINT) << ((g + 29) % 60))
                 WHEN 3 THEN (CAST(65535 AS BIGINT) << (g % 44))
                 ELSE 0
               END
             ) AS dh
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.dh, b.dh)) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dh, b.dh)) <= {PHASH_MAX_HAMMING}
    ORDER BY id_a, id_b
    """,
    doc="Image perceptual-hash near-dup certification, CONTAINER-MIXED: "
    "the same doc_id-predicted luma grid ships as PGM (v0/v3), PNG (v1), "
    "or GIF89a (v2) per variant, so the oracle match also certifies that "
    "dHash is container-invariant across three real decoders. The banded "
    "(pigeonhole, lossless for hamming <= 3) pair join must match the "
    "all-pairs definition exactly; pairing is integer Column algebra on "
    "16-bit chunk keys.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA

    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % PHASH_SAMPLE_MOD == 0)
        .select("doc_id"),
        heavy=True,
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from railgun_spark.geo.serving import encode_gif_animation
        from railgun_spark.operators.multimodal import _encode_png_rgb

        def pack(h: int, v: int) -> bytes:
            if v == 1:  # PNG container, identical raster
                luma = np.frombuffer(_phash_luma(h), dtype=np.uint8)
                rgb = np.repeat(luma.reshape(16, 18)[:, :, None], 3, 2)
                return _encode_png_rgb(rgb.astype("float64"))
            if v == 2:  # single-frame GIF89a, grayscale palette
                luma = np.frombuffer(_phash_luma(h), dtype=np.uint8).reshape(16, 18)
                vals = sorted({int(x) for x in luma.reshape(-1)})
                pal = [(x, x, x) for x in vals]
                lut = {x: i for i, x in enumerate(vals)}
                rows = [[lut[int(x)] for x in row] for row in luma]
                return encode_gif_animation([(0, 0, rows)], pal)
            return _phash_pgm(h)

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                m = d // PHASH_SAMPLE_MOD
                g, v = m // 4, m % 4
                rows.append((d, "image", pack(_phash_target(g, v), v), {}))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "meta"]
            )

    media = docs.mapInPandas(synth, MEDIA_SCHEMA)
    hashes = image_perceptual_hashes(media)
    return media_pairs(hashes, IMAGE).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Video perceptual hashing: per-sampled-frame dHash signatures. Two
# videos are near-dups when most temporally-aligned sampled frames sit
# within a few Hamming bits — re-encodes, container changes, and mild
# recompression keep frame dHashes close, while different footage lands
# ~32 bits apart per frame. Pairing stays pigeonhole-banded PER FRAME:
# any matching frame (hamming <= PHASH_MAX_HAMMING) guarantees a
# (frame_idx, chunk) collision, so candidate pairs are a lossless
# superset whenever at least one frame matches — far weaker than the
# min_match_frac filter needs. Decode cost is sample-proportional: the
# AVI walk JPEG-decodes ONLY sampled frames, GIF composites (disposal
# needs the running canvas) but hashes only sampled snapshots.
# --------------------------------------------------------------------------
VIDEO_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("fhash", T.LongType()),
        T.StructField("refused", T.StringType()),
    ]
)


def video_perceptual_hashes(
    df: DataFrame, every_n: int = 10, id_col: str = "media_id"
) -> DataFrame:
    """MEDIA_SCHEMA video rows -> (media_id, frame_idx, fhash, refused):
    dHash of every `every_n`-th frame's raster in one Arrow pass
    (Y4M luma plane directly; GIF composited canvas; MJPEG-AVI via the
    library's JPEG decoder). Codec-bound payloads record ONE refusal row
    (frame_idx/fhash NULL) per the decode-coverage discipline."""
    import numpy as np

    from railgun_spark.operators.multimodal import (
        _avi_jpeg_frames,
        _parse_y4m_header,
        _y4m_frames,
        decode_gif_frames,
    )

    def frame_rasters(b: bytes):
        from railgun_spark.operators.jpeg import decode_jpeg

        if b[:6] in (b"GIF87a", b"GIF89a"):
            frames, _delays = decode_gif_frames(b)
            for k in range(0, len(frames), every_n):
                yield k, frames[k]
            return
        if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
            _avih, chunks = _avi_jpeg_frames(b)
            for k in range(0, len(chunks), every_n):
                if chunks[k][:2] != b"\xff\xd8":
                    raise ValueError(
                        f"only MJPEG AVIs decode library-free (frame {k} "
                        "is not JPEG; other codecs need a decoder)"
                    )
                yield k, decode_jpeg(chunks[k])
            return
        w, h, _fps, luma, chroma, start = _parse_y4m_header(b)
        for k, off in _y4m_frames(b, luma, chroma, start):
            if k % every_n == 0:
                plane = np.frombuffer(
                    b, dtype=np.uint8, count=luma, offset=off
                ).astype("float64").reshape(h, w, 1)
                yield k, plane

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "video"]
            if pdf.empty:
                continue
            mids, idxs, fhs, refs = [], [], [], []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                mid = int(mid)
                try:
                    for k, raster in frame_rasters(bytes(content or b"")):
                        h = dhash64(raster)
                        mids.append(mid)
                        idxs.append(k)
                        fhs.append(h - (1 << 64) if h >= (1 << 63) else h)
                        refs.append(None)
                except ValueError as exc:
                    mids.append(mid)
                    idxs.append(None)
                    fhs.append(None)
                    refs.append(str(exc))
            yield pd.DataFrame(
                {"media_id": mids,
                 "frame_idx": pd.array(idxs, dtype="Int32"),
                 "fhash": pd.array(fhs, dtype="Int64"),
                 "refused": refs}
            )

    return df.mapInPandas(batches, VIDEO_PHASH_SCHEMA)


VIDEO_MATCH_FRAC = 0.8


VIDEO_PHASH_SAMPLE_MOD = 13


# Demoted to EXTRA in the r14 extension rotation: the aligned pairs
# query's capability (Y4M craft -> per-frame dHash -> banded join) is a
# strict subset of the driver-gated video_phash_offset_pairs pipeline;
# the aligned vote itself stays certified here via the local gate.
@extra_query(
    "video_phash_pairs",
    # The oracle recomputes each crafted Y4M's per-frame dHashes from
    # doc_id arithmetic (md5 of "g:f" XOR the variant perturbation) and
    # keeps the semantic all-pairs frame-aligned definition; the Spark
    # side recovers the same integers through a REAL
    # craft -> Y4M parse -> luma -> bilinear -> dhash -> per-frame banded
    # join -> match-fraction filter pipeline.
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (doc_id // {VIDEO_PHASH_SAMPLE_MOD}) // 4 AS g,
             (doc_id // {VIDEO_PHASH_SAMPLE_MOD}) % 4 AS v
      FROM documents WHERE doc_id % {VIDEO_PHASH_SAMPLE_MOD} = 0
    ), fr AS (
      SELECT doc_id, g, v, unnest(generate_series(0, 1 + (g % 3))) AS f
      FROM s
    ), h AS (
      SELECT doc_id, f,
             xor(
               CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':' ||
                     CAST(f AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT),
               CASE v
                 WHEN 1 THEN (CAST(1 AS BIGINT) << (g % 60))
                 WHEN 2 THEN (CAST(1 AS BIGINT) << ((g + 13) % 60))
                           | (CAST(1 AS BIGINT) << ((g + 29) % 60))
                 WHEN 3 THEN (CAST(65535 AS BIGINT) << (g % 44))
                 ELSE 0
               END
             ) AS fh
      FROM fr
    ), m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_match
      FROM h a JOIN h b ON a.f = b.f AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fh, b.fh)) <= {PHASH_MAX_HAMMING}
      GROUP BY 1, 2
    ), n AS (SELECT doc_id, count(*) AS nf FROM h GROUP BY 1)
    SELECT id_a, id_b, n_match,
           greatest(na.nf, nb.nf) AS n_frames
    FROM m JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
    WHERE n_match >= CEIL({VIDEO_MATCH_FRAC} * greatest(na.nf, nb.nf))
    ORDER BY id_a, id_b
    """,
    doc="Video perceptual-hash near-dup certification: crafted Y4M C420 "
    "streams (2-4 frames, doc_id-derived per-frame luma grids) whose "
    "sampled-frame dHashes the oracle predicts exactly; the per-frame "
    "banded join + temporal match-fraction filter must reproduce the "
    "all-pairs definition. One Arrow decode pass; pairing is integer "
    "Column algebra on (frame_idx, 16-bit chunk) keys.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def video_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from railgun_spark.operators.multimodal import MEDIA_SCHEMA

    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % VIDEO_PHASH_SAMPLE_MOD == 0)
        .select("doc_id"),
        heavy=True,
    )

    def frame_target(g: int, f: int, v: int) -> int:
        base = int(hashlib.md5(f"{g}:{f}".encode()).hexdigest()[:15], 16)
        if v == 1:
            pert = 1 << (g % 60)
        elif v == 2:
            pert = (1 << ((g + 13) % 60)) | (1 << ((g + 29) % 60))
        elif v == 3:
            pert = 0xFFFF << (g % 44)
        else:
            pert = 0
        return base ^ pert

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                m = d // VIDEO_PHASH_SAMPLE_MOD
                g, v = m // 4, m % 4
                n_fr = 2 + g % 3
                y4m = _phash_y4m([frame_target(g, f, v) for f in range(n_fr)])
                rows.append((d, "video", y4m, {}))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "meta"]
            )

    media = docs.mapInPandas(synth, MEDIA_SCHEMA)
    fh = video_perceptual_hashes(media, every_n=1)
    return media_pairs(fh, VIDEO).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Audio perceptual fingerprints: the audio member of the perceptual
# family (Haitsma-Kastner-style, radically simplified for a library-free
# engine): mono signal -> 72 equal time windows (8 groups of 9) -> RMS
# energy per window -> bit (y*8 + x) set iff group y's window x+1 is
# LOUDER than window x. Re-encodes and level-preserving transcodes keep
# the energy envelope, hence the delta signs; different audio flips
# ~half the bits. Same downstream algebra as images: the 64-bit
# fingerprint feeds media_pairs / the band-index machinery unchanged
# (the AUDIO family reads the kernel's fhash column).
# --------------------------------------------------------------------------
AUDIO_PHASH_WINDOWS = 72  # 8 groups x 9 windows -> 64 delta bits


def audio_fingerprint64(x) -> int:
    """1-D mono float signal -> 64 energy-delta bits. Grouped like the
    image dHash rows (9 windows -> 8 deltas per group) so crafted
    amplitude staircases stay within a +-8-step range per group."""
    import numpy as np

    segs = np.array_split(np.asarray(x, dtype="float64"), AUDIO_PHASH_WINDOWS)
    rms = [float(np.sqrt((s**2).mean())) if len(s) else 0.0 for s in segs]
    bits = 0
    for y in range(8):
        for k in range(8):
            if rms[9 * y + k + 1] > rms[9 * y + k]:
                bits |= 1 << (y * 8 + k)
    return bits


AUDIO_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fhash", T.LongType()),
        T.StructField("refused", T.StringType()),
    ]
)


def audio_perceptual_hashes(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """MEDIA_SCHEMA audio rows -> (media_id, fhash, refused) in one Arrow
    pass, decoding through the shared PCM dispatch (WAV/FLAC/AIFF/AU all
    fingerprint identically for the same signal); codec-bound payloads
    (MP3) record a per-row refusal."""
    from railgun_spark.operators.multimodal import _audio_pcm_frames

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "audio"]
            if pdf.empty:
                continue
            ids, fhs, refs = [], [], []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                ids.append(int(mid))
                try:
                    frames, _rate = _audio_pcm_frames(bytes(content or b""))
                except ValueError as exc:
                    fhs.append(None)
                    refs.append(str(exc))
                    continue
                h = audio_fingerprint64(frames.mean(axis=1))
                fhs.append(h - (1 << 64) if h >= (1 << 63) else h)
                refs.append(None)
            yield pd.DataFrame(
                {"media_id": ids, "fhash": pd.array(fhs, dtype="Int64"),
                 "refused": refs}
            )

    return df.mapInPandas(batches, AUDIO_PHASH_SCHEMA)


AUDIO_PHASH_SAMPLE_MOD = 19
_AUDIO_SEG_SAMPLES = 32  # per window; amplitudes k/128 sit on the 16-bit grid


def _phash_wav(h: int) -> bytes:
    """16-bit PCM WAV whose audio_fingerprint64 is exactly `h`: 8 groups
    of 9 constant-amplitude windows, base 64/128, each step +-1/128 by
    the corresponding bit (constant-window RMS is the exact amplitude,
    so every delta comparison is integer-exact). One chunk of the
    multi-chunk craft — byte-identical to _phash_wav_chunks([h])."""
    return _phash_wav_chunks([h])


@extra_query(
    # demoted r16: the narrow 4x16 banded-join algebra this certifies is
    # also driver-gated via the wide/offset/coarse members; the full
    # craft->PCM->RMS->delta-sign pipeline stays certified here and by
    # audio_phash_offset_pairs in the gate
    "audio_phash_pairs",
    # Same certification scheme as the image/video members: the oracle
    # recomputes each crafted clip's fingerprint from doc_id arithmetic
    # (shared 60-bit md5 XOR the variant perturbation) and keeps the
    # all-pairs hamming <= 3 definition; Spark must recover the integers
    # through a REAL craft -> PCM decode -> windowed-RMS -> delta-sign ->
    # banded-join pipeline.
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (doc_id // {AUDIO_PHASH_SAMPLE_MOD}) // 4 AS g,
             (doc_id // {AUDIO_PHASH_SAMPLE_MOD}) % 4 AS v
      FROM documents WHERE doc_id % {AUDIO_PHASH_SAMPLE_MOD} = 0
    ), h AS (
      SELECT doc_id,
             xor(
               CAST(('0x' || substr(md5(CAST(g AS VARCHAR)), 1, 15))::UBIGINT
                    AS BIGINT),
               CASE v
                 WHEN 1 THEN (CAST(1 AS BIGINT) << (g % 60))
                 WHEN 2 THEN (CAST(1 AS BIGINT) << ((g + 13) % 60))
                           | (CAST(1 AS BIGINT) << ((g + 29) % 60))
                 WHEN 3 THEN (CAST(65535 AS BIGINT) << (g % 44))
                 ELSE 0
               END
             ) AS fh
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.fh, b.fh)) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fh, b.fh)) <= {PHASH_MAX_HAMMING}
    ORDER BY id_a, id_b
    """,
    doc="Audio perceptual-fingerprint near-dup certification: crafted "
    "constant-amplitude staircase WAVs whose 72-window energy-delta "
    "fingerprint equals a doc_id-predicted 60-bit value; the banded "
    "(pigeonhole, lossless for hamming <= 3) pair join must match the "
    "oracle's all-pairs definition exactly.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def audio_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA

    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % AUDIO_PHASH_SAMPLE_MOD == 0)
        .select("doc_id"),
        heavy=True,
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                m = d // AUDIO_PHASH_SAMPLE_MOD
                h = _phash_target(m // 4, m % 4)
                rows.append((d, "audio", _phash_wav(h), {}))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "meta"]
            )

    media = docs.mapInPandas(synth, MEDIA_SCHEMA)
    hashes = audio_perceptual_hashes(media)
    return media_pairs(hashes, AUDIO).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Wide geometry: 256-bit block dHash (r13 VERDICT #2 — scale headroom).
# The 4x16-bit pigeonhole over a 64-bit hash carries a ~B*N^2/2^16
# candidate term: flat at every measured scale, but at ~10^9 images per
# index the saturated 16-bit chunks pour out a quadratic (small-constant)
# candidate stream. The 256-bit hash buys headroom on two axes, and the
# candidate probe (PHASH_CANDIDATE_PROBE_r14.json) separates them
# honestly:
#
# - 16 bands x 16-bit keys (budget hamming <= 15 — the same 3-per-64-bit
#   RELATIVE tolerance as the narrow geometry) does NOT reduce
#   candidates: 16-bit keys saturate regardless of hash width, and 4x
#   the bands means 4x the random collisions (measured: cand/true 93 ->
#   2968 as N grows 20k -> 640k, vs the narrow 24 -> 743). Its value is
#   the 256-bit verify (false-verify odds drop ~2^-192) and the wider
#   budget for heavily re-encoded corpora.
# - 8 bands x 32-bit keys over the SAME hash (budget <= 7) is the
#   candidate-headroom geometry: random band collisions cost 2^-32 each,
#   and measured candidates TRACK TRUE PAIRS at every blow-up
#   (cand/true 1.00 -> 1.04 at 20k -> 640k while the 16-bit layouts grow
#   ~N^2). At 10^9 images the expected random-candidate term is
#   8*N^2/2/2^32 ~ 10^9 — linear in practice.
#
# Both bandings are lossless by pigeonhole for their budgets and share
# the hash pass; media_pairs(..., IMAGE_WIDE) picks 16 bands by default
# and 8 with coarse=True, and both are oracle-certified (image_phash_wide_pairs /
# image_phash_wide_coarse_pairs).
#
# Block dHash: gray -> 17x16 bilinear -> bit (y*16 + x) set iff
# g[y, x+1] > g[y, x]; word w = bit // 64 covers rows 4w..4w+3. Same
# decode, same Arrow pass shape, 4 longs per image.
# --------------------------------------------------------------------------
PHASH_WIDE_WORDS = 4
PHASH_WIDE_BANDS = 16  # 16 bands x 16 bits over 256 bits
PHASH_WIDE_MAX_HAMMING = PHASH_WIDE_BANDS - 1


def block_dhash256(raster) -> list:
    """Difference hash over a 17x16 grid -> 4 signed-64 words (word w =
    rows 4w..4w+3, 16 comparison bits per row)."""
    import numpy as np

    from railgun_spark.operators.multimodal import _resize_bilinear

    g = _resize_bilinear(_gray(raster), 17, 16)[:, :, 0]
    bits = g[:, 1:] > g[:, :-1]  # (16, 16)
    weights = np.left_shift(
        np.uint64(1), np.arange(64, dtype=np.uint64).reshape(4, 16)
    )
    words = []
    for w in range(PHASH_WIDE_WORDS):
        v = int(np.sum(np.where(bits[4 * w : 4 * w + 4], weights, np.uint64(0)),
                       dtype=np.uint64))
        words.append(v - (1 << 64) if v >= (1 << 63) else v)
    return words


PHASH_WIDE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("h0", T.LongType()),
        T.StructField("h1", T.LongType()),
        T.StructField("h2", T.LongType()),
        T.StructField("h3", T.LongType()),
        T.StructField("refused", T.StringType()),
    ]
)

_WIDE_HASH_COLS = ("h0", "h1", "h2", "h3")


def image_perceptual_hashes_wide(
    df: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """MEDIA_SCHEMA image rows -> (media_id, h0..h3, refused): the 256-bit
    block dHash in one Arrow pass (same decode-coverage discipline as
    image_perceptual_hashes)."""
    from railgun_spark.operators.multimodal import decode_image_raster

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "image"]
            if pdf.empty:
                continue
            out = {"media_id": [], "h0": [], "h1": [], "h2": [], "h3": [],
                   "refused": []}
            for mid, content in zip(pdf[id_col], pdf["content"]):
                out["media_id"].append(int(mid))
                try:
                    raster = decode_image_raster(bytes(content or b""))
                except ValueError as exc:
                    for c in _WIDE_HASH_COLS:
                        out[c].append(None)
                    out["refused"].append(str(exc))
                    continue
                for c, v in zip(_WIDE_HASH_COLS, block_dhash256(raster)):
                    out[c].append(v)
                out["refused"].append(None)
            yield pd.DataFrame(
                {k: (pd.array(v, dtype="Int64") if k.startswith("h") else v)
                 for k, v in out.items()}
            )

    return df.mapInPandas(batches, PHASH_WIDE_SCHEMA)


PHASH_WIDE_SAMPLE_MOD = 11


def _phash_wide_target(g: int, v: int) -> list:
    """The crafted 256-bit block dHash for (group, variant) as 4 words —
    Python twin of the oracle's per-word md5/xor arithmetic. Word w's
    base is md5('{g}:w{w}')[:15 hex] (60 bits; bits 60..63 of every word
    are structurally zero on both engines)."""
    import hashlib

    words = []
    for w in range(PHASH_WIDE_WORDS):
        base = int(hashlib.md5(f"{g}:w{w}".encode()).hexdigest()[:15], 16)
        if v == 1:
            pert = 1 << ((g + 7 * w) % 60)
        elif v == 2:
            pert = (1 << ((g + 13 + 7 * w) % 60)) | (1 << ((g + 29 + 7 * w) % 60))
        elif v == 3:
            pert = 0xFFFF << (g % 44)
        else:
            pert = 0
        words.append(base ^ pert)
    return words


def _phash_wide_luma(words) -> bytes:
    """The 34x32 8-bit luma raster whose 17x16 bilinear downsample block-
    dHashes to exactly `words`: per row a 17-value staircase (base 128,
    steps +-1 by the word bits, range 112..144), rows/cols
    pixel-doubled."""
    rows = []
    for y in range(16):
        w, yy = y // 4, y % 4
        vals = [128]
        for x in range(16):
            bit = (words[w] >> (yy * 16 + x)) & 1
            vals.append(vals[-1] + (1 if bit else -1))
        doubled = bytes(v for v in vals for _ in range(2))
        rows.append(doubled)
        rows.append(doubled)
    return b"".join(rows)


def _phash_wide_pgm(words) -> bytes:
    """34x32 PGM of the _phash_wide_luma grid."""
    return b"P5\n34 32\n255\n" + _phash_wide_luma(words)


def _wide_word_sql(w: int) -> str:
    """DuckDB expression for crafted word `w` of group g, variant v."""
    base = (
        f"CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':w{w}'), 1, 15))"
        f"::UBIGINT AS BIGINT)"
    )
    pert = f"""CASE v
        WHEN 1 THEN (CAST(1 AS BIGINT) << ((g + {7 * w}) % 60))
        WHEN 2 THEN (CAST(1 AS BIGINT) << ((g + {13 + 7 * w}) % 60))
                  | (CAST(1 AS BIGINT) << ((g + {29 + 7 * w}) % 60))
        WHEN 3 THEN (CAST(65535 AS BIGINT) << (g % 44))
        ELSE 0
      END"""
    return f"xor({base}, {pert}) AS h{w}"


@query(
    "image_phash_wide_pairs",
    # Per-word oracle arithmetic (md5('{g}:w{w}') XOR the variant
    # perturbation), all-pairs 256-bit hamming <= 15; the Spark side
    # recovers the identical words through a REAL craft -> 34x32 PGM
    # decode -> 17x16 bilinear -> block dHash -> 16-band pigeonhole join.
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (doc_id // {PHASH_WIDE_SAMPLE_MOD}) // 4 AS g,
             (doc_id // {PHASH_WIDE_SAMPLE_MOD}) % 4 AS v
      FROM documents WHERE doc_id % {PHASH_WIDE_SAMPLE_MOD} = 0
    ), h AS (
      SELECT doc_id, {_wide_word_sql(0)}, {_wide_word_sql(1)},
             {_wide_word_sql(2)}, {_wide_word_sql(3)}
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.h0, b.h0)) AS INTEGER)
         + CAST(bit_count(xor(a.h1, b.h1)) AS INTEGER)
         + CAST(bit_count(xor(a.h2, b.h2)) AS INTEGER)
         + CAST(bit_count(xor(a.h3, b.h3)) AS INTEGER) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE CAST(bit_count(xor(a.h0, b.h0)) AS INTEGER)
        + CAST(bit_count(xor(a.h1, b.h1)) AS INTEGER)
        + CAST(bit_count(xor(a.h2, b.h2)) AS INTEGER)
        + CAST(bit_count(xor(a.h3, b.h3)) AS INTEGER)
        <= {PHASH_WIDE_MAX_HAMMING}
    ORDER BY id_a, id_b
    """,
    doc="Wide-geometry (256-bit block dHash, 16x16-bit pigeonhole bands, "
    "hamming <= 15) image near-dup certification: crafted 34x32 PGMs whose "
    "17x16 downsample recovers four doc_id-predicted 60-bit words "
    "bit-for-bit; the 16-band join must equal the all-pairs definition "
    "(variants at hamming 4/8/12 pair; the 64-bit-flip variant never does). "
    "The scale-headroom geometry of r13 VERDICT #2.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def image_phash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashes = image_perceptual_hashes_wide(_wide_craft_media(spark, sf_dir))
    return media_pairs(hashes, IMAGE_WIDE).orderBy("id_a", "id_b")


def _wide_craft_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc_id-predicted 34x32 PGM corpus shared by the wide-pair
    certification queries."""
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA

    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % PHASH_WIDE_SAMPLE_MOD == 0)
        .select("doc_id"),
        heavy=True,
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                m = d // PHASH_WIDE_SAMPLE_MOD
                words = _phash_wide_target(m // 4, m % 4)
                rows.append((d, "image", _phash_wide_pgm(words), {}))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "meta"]
            )

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


@extra_query(
    "image_phash_wide_coarse_pairs",
    # Same crafted corpus and per-word arithmetic as image_phash_wide_pairs
    # but the COARSE banding (8 bands x 32-bit keys, budget <= 7): only the
    # hamming-4 variant pairs qualify; the hamming-8/12 pairs that the
    # 16-band query returns sit just past the coarse budget — certifying
    # the boundary and the coarse banding's losslessness in one oracle.
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (doc_id // {PHASH_WIDE_SAMPLE_MOD}) // 4 AS g,
             (doc_id // {PHASH_WIDE_SAMPLE_MOD}) % 4 AS v
      FROM documents WHERE doc_id % {PHASH_WIDE_SAMPLE_MOD} = 0
    ), h AS (
      SELECT doc_id, {_wide_word_sql(0)}, {_wide_word_sql(1)},
             {_wide_word_sql(2)}, {_wide_word_sql(3)}
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.h0, b.h0)) AS INTEGER)
         + CAST(bit_count(xor(a.h1, b.h1)) AS INTEGER)
         + CAST(bit_count(xor(a.h2, b.h2)) AS INTEGER)
         + CAST(bit_count(xor(a.h3, b.h3)) AS INTEGER) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE CAST(bit_count(xor(a.h0, b.h0)) AS INTEGER)
        + CAST(bit_count(xor(a.h1, b.h1)) AS INTEGER)
        + CAST(bit_count(xor(a.h2, b.h2)) AS INTEGER)
        + CAST(bit_count(xor(a.h3, b.h3)) AS INTEGER)
        <= 7
    ORDER BY id_a, id_b
    """,
    doc="Coarse-banded (8 bands x 32-bit keys, hamming <= 7) wide pair "
    "join — the candidate-headroom geometry for ~10^9-image corpora; "
    "must equal the all-pairs definition at its tighter budget.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def image_phash_wide_coarse_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashes = image_perceptual_hashes_wide(_wide_craft_media(spark, sf_dir))
    return media_pairs(hashes, IMAGE_WIDE, coarse=True).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Offset-tolerant video near-dup (r13 VERDICT #3): frame-ALIGNED matching
# (media_pairs(fh, VIDEO)) catches re-encodes but misses trimmed or
# padded copies. The offset mode runs the classic temporal-alignment
# vote: band-join WITHOUT frame_idx in the key, group candidates by
# (id_a, id_b, frame_offset = a.frame_idx - b.frame_idx), and apply the
# match fraction PER OFFSET against the SMALLER signature — so a clip
# cut from a longer indexed video still rejects (the aligned mode's
# larger-signature denominator deliberately does not). Still lossless:
# every frame pair within the hamming budget shares a chunk by
# pigeonhole, and the offset grouping only partitions those candidates.
# Costs more than the aligned mode (candidates join across ALL frame
# positions — sampled-frame counts multiply), which is why it is the
# OPTIONAL second pass, not the default.
# --------------------------------------------------------------------------
VIDEO_OFFSET_SAMPLE_MOD = 23


def _video_offset_frames(g: int, v: int) -> list:
    """Crafted per-frame hash list for the offset-certification variants:
    v0 = base (n = 3 + g%3 frames of md5('{g}:{f}')), v1 = front-trim 1,
    v2 = front-trim 2 XOR one bit (still within the hamming budget),
    v3 = front-trim 1 with the BACK half replaced by unrelated noise
    (match fraction ~0.5 — must NOT qualify). Python twin of the
    oracle's arithmetic."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    n = 3 + g % 3
    if v == 0:
        return [h(f"{g}:{f}") for f in range(n)]
    if v == 1:
        return [h(f"{g}:{f + 1}") for f in range(n - 1)]
    if v == 2:
        return [h(f"{g}:{f + 2}") ^ (1 << (g % 60)) for f in range(n - 2)]
    half = -(-(n - 1) // 2)  # ceil((n-1)/2)
    return [
        h(f"{g}:{f + 1}") if f < half else h(f"{g}:z{f}")
        for f in range(n - 1)
    ]


@extra_query(
    # r15 rotation: demoted — the per-offset temporal vote stays
    # driver-certified by audio_phash_offset_pairs (same vote, chunk
    # modality) and the promoted coarse twin below
    "video_phash_offset_pairs",
    # The oracle recomputes every crafted frame hash from doc_id
    # arithmetic and keeps the semantic all-pairs PER-OFFSET definition
    # (group by a.f - b.f, fraction of the SMALLER signature); the Spark
    # side recovers the same integers through the REAL craft -> Y4M ->
    # dhash -> unaligned banded join -> offset vote pipeline.
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (doc_id // {VIDEO_OFFSET_SAMPLE_MOD}) // 4 AS g,
             (doc_id // {VIDEO_OFFSET_SAMPLE_MOD}) % 4 AS v
      FROM documents WHERE doc_id % {VIDEO_OFFSET_SAMPLE_MOD} = 0
    ), fr AS (
      SELECT doc_id, g, v,
             unnest(generate_series(0,
               (3 + g % 3) - 1 - (CASE v WHEN 0 THEN 0 WHEN 2 THEN 2
                                         ELSE 1 END))) AS f
      FROM s
    ), h AS (
      SELECT doc_id, f,
        CASE
          WHEN v = 3 AND f >= CAST(CEIL((3 + g % 3 - 1) / 2.0) AS BIGINT)
          THEN CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':z' ||
                     CAST(f AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT)
          ELSE xor(
            CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':' ||
                  CAST(f + (CASE v WHEN 1 THEN 1 WHEN 2 THEN 2
                                   WHEN 3 THEN 1 ELSE 0 END)
                  AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT),
            CASE WHEN v = 2 THEN (CAST(1 AS BIGINT) << (g % 60))
                 ELSE 0 END)
        END AS fh
      FROM fr
    ), n AS (SELECT doc_id, count(*) AS nf FROM h GROUP BY 1),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(a.f - b.f AS INTEGER) AS frame_offset,
             count(*) AS n_match
      FROM h a JOIN h b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fh, b.fh)) <= {PHASH_MAX_HAMMING}
      GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, frame_offset, n_match,
           least(na.nf, nb.nf) AS n_small
    FROM m JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
    WHERE n_match >= CEIL({VIDEO_MATCH_FRAC} * least(na.nf, nb.nf))
    ORDER BY id_a, id_b, frame_offset
    """,
    doc="Offset-tolerant video near-dup certification: crafted Y4M "
    "variants are front-TRIMMED copies (by 1 and 2 frames, one carrying "
    "an extra in-budget bit flip) plus a half-noise negative; the "
    "unaligned banded join + per-offset temporal vote must reproduce the "
    "all-pairs per-offset definition exactly — trimmed copies qualify at "
    "their true shift, the half-noise variant at no shift.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def video_phash_offset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA

    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % VIDEO_OFFSET_SAMPLE_MOD == 0)
        .select("doc_id"),
        heavy=True,
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                m = d // VIDEO_OFFSET_SAMPLE_MOD
                y4m = _phash_y4m(_video_offset_frames(m // 4, m % 4))
                rows.append((d, "video", y4m, {}))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "meta"]
            )

    media = docs.mapInPandas(synth, MEDIA_SCHEMA)
    fh = video_perceptual_hashes(media, every_n=1)
    return media_pairs(fh, VIDEO, offset_tolerant=True).orderBy(
        "id_a", "id_b", "frame_offset"
    )


@extra_query(
    # EXTRA-certified: the coarse 2x32 join it certifies stays in the
    # REGISTRY gate through video_offset_coarse_recall, which runs the same
    # coarse offset join against the lossless fine one
    "video_phash_offset_coarse_pairs",
    # The coarse twin of video_phash_offset_pairs: identical crafted
    # fixture and per-offset vote, but the join runs on the 2x32-bit
    # chunk keys whose pigeonhole is lossless only for per-frame
    # hamming <= 1 — so the oracle's all-pairs definition tightens its
    # bit_count budget to 1 (the crafted variants stay within it: exact
    # trims at 0 bits, the flipped trim at 1).
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (doc_id // {VIDEO_OFFSET_SAMPLE_MOD}) // 4 AS g,
             (doc_id // {VIDEO_OFFSET_SAMPLE_MOD}) % 4 AS v
      FROM documents WHERE doc_id % {VIDEO_OFFSET_SAMPLE_MOD} = 0
    ), fr AS (
      SELECT doc_id, g, v,
             unnest(generate_series(0,
               (3 + g % 3) - 1 - (CASE v WHEN 0 THEN 0 WHEN 2 THEN 2
                                         ELSE 1 END))) AS f
      FROM s
    ), h AS (
      SELECT doc_id, f,
        CASE
          WHEN v = 3 AND f >= CAST(CEIL((3 + g % 3 - 1) / 2.0) AS BIGINT)
          THEN CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':z' ||
                     CAST(f AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT)
          ELSE xor(
            CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':' ||
                  CAST(f + (CASE v WHEN 1 THEN 1 WHEN 2 THEN 2
                                   WHEN 3 THEN 1 ELSE 0 END)
                  AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT),
            CASE WHEN v = 2 THEN (CAST(1 AS BIGINT) << (g % 60))
                 ELSE 0 END)
        END AS fh
      FROM fr
    ), n AS (SELECT doc_id, count(*) AS nf FROM h GROUP BY 1),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(a.f - b.f AS INTEGER) AS frame_offset,
             count(*) AS n_match
      FROM h a JOIN h b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fh, b.fh)) <= {PHASH_COARSE_MAX_HAMMING}
      GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, frame_offset, n_match,
           least(na.nf, nb.nf) AS n_small
    FROM m JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
    WHERE n_match >= CEIL({VIDEO_MATCH_FRAC} * least(na.nf, nb.nf))
    ORDER BY id_a, id_b, frame_offset
    """,
    doc="Coarse (2x32-bit chunk key) offset-tolerant video near-dup: the "
    "candidate-headroom geometry for large offset-mode indexes "
    "(PHASH_OFFSET_PROBE_r15 — 16-bit keys saturate, 32-bit keys track "
    "true pairs), lossless for per-frame hamming <= 1; must reproduce "
    "the tightened all-pairs per-offset definition exactly.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def video_phash_offset_coarse_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA

    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % VIDEO_OFFSET_SAMPLE_MOD == 0)
        .select("doc_id"),
        heavy=True,
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                m = d // VIDEO_OFFSET_SAMPLE_MOD
                y4m = _phash_y4m(_video_offset_frames(m // 4, m % 4))
                rows.append((d, "video", y4m, {}))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "meta"]
            )

    media = docs.mapInPandas(synth, MEDIA_SCHEMA)
    fh = video_perceptual_hashes(media, every_n=1)
    return media_pairs(fh, VIDEO, offset_tolerant=True, coarse=True).orderBy(
        "id_a", "id_b", "frame_offset"
    )


# --------------------------------------------------------------------------
# Coarse-offset recall canary — the measured complement of the coarse
# geometry's documented trade (PHASH_COARSE_MAX_HAMMING: pigeonhole
# lossless only for per-frame hamming <= 1; the temporal vote still
# tolerates whole frames differing). The text and embedding modalities
# already ship this pattern (dedup.lsh_recall_report,
# similarity.embedding_lsh_recall_report); this closes the gap for the
# coarse offset default so its miss rate is evidence, not prediction.
# --------------------------------------------------------------------------
VIDEO_COARSE_CANARY_MOD = 17
_CANARY_N_FRAMES = 8  # originals; trimmed copies carry 7


def _coarse_canary_frame_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted corpus at the frame-hash level: per sampled doc_id, an
    8-frame original (shared cross-engine 60-bit md5 hashes of
    'g:frame') and a front-trimmed 7-frame copy whose frames are
    perturbed by level g%3 — level 0: every frame 1 bit (within the
    coarse budget); level 1: ONE heavy frame; level 2: THREE heavy
    frames. Heavy frames flip 2-3 bits SPLIT across both 32-bit halves,
    so they exceed the coarse per-frame budget while staying within the
    fine join's hamming <= 3 — exactly the perturbation class the
    coarse geometry trades away. The hash level is the right altitude:
    the decode->dhash pipeline is certified by the *_phash_pairs
    entries; recall here is purely a property of the join geometry."""
    from railgun_spark.operators.dedup import _hash60_str

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % VIDEO_COARSE_CANARY_MOD == 0)
        .select(
            "doc_id",
            (F.col("doc_id") / VIDEO_COARSE_CANARY_MOD).cast("long").alias("g"),
        )
    )

    def base_hash(frame: Column) -> Column:
        return _hash60_str(
            F.concat(
                F.col("g").cast("string"), F.lit(":"), frame.cast("string")
            )
        )

    orig = docs.select(
        F.col("doc_id").alias("media_id"), "g",
        F.explode(
            F.sequence(F.lit(0), F.lit(_CANARY_N_FRAMES - 1))
        ).alias("frame_idx"),
    ).select("media_id", "frame_idx", base_hash(F.col("frame_idx")).alias("fhash"))

    lvl = F.col("g") % 3
    n_heavy = F.when(lvl == 0, 0).when(lvl == 1, 1).otherwise(3)
    # heavy = hamming 2 (even g) or 3 (odd g), always split across both
    # 32-bit halves so the frame exceeds the coarse per-frame budget
    heavy_mask = F.when(
        F.col("g") % 2 == 1, F.lit((1 << 5) | (1 << 35) | (1 << 36))
    ).otherwise(F.lit((1 << 5) | (1 << 35)))
    light_mask = F.expr("shiftleft(cast(1 as bigint), cast(g % 30 as int))")
    copy = docs.select(
        (F.col("doc_id") + 1).alias("media_id"), "g",
        F.explode(
            F.sequence(F.lit(0), F.lit(_CANARY_N_FRAMES - 2))
        ).alias("frame_idx"),
    ).select(
        "media_id", "frame_idx",
        base_hash(F.col("frame_idx") + 1).bitwiseXOR(
            F.when(F.col("frame_idx") < n_heavy, heavy_mask)
            .otherwise(light_mask)
            .cast("long")
        ).alias("fhash"),
    )
    return orig.unionByName(copy)


@query(
    # r16 flagship: the coarse default's measured miss rate
    "video_offset_coarse_recall",
    # The oracle re-derives the planted hashes (shared 60-bit md5 XOR
    # level masks) and keeps BOTH all-pairs per-offset vote definitions
    # (hamming <= 3 for the lossless fine geometry = ground truth,
    # hamming <= 1 for coarse); recall per level is their ratio. Both
    # Spark joins are pigeonhole-lossless vs their budget, so the report
    # is deterministic.
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id // {VIDEO_COARSE_CANARY_MOD} AS g
      FROM documents WHERE doc_id % {VIDEO_COARSE_CANARY_MOD} = 0
    ), lv AS (
      SELECT doc_id, g, g % 3 AS level,
             CASE g % 3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 3 END AS nh,
             2 + g % 2 AS hb
      FROM s
    ), oh AS (
      SELECT doc_id AS vid, f,
             CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':' ||
               CAST(f AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS fh
      FROM (SELECT doc_id, g,
              unnest(generate_series(0, {_CANARY_N_FRAMES - 1})) AS f
            FROM lv)
    ), ch AS (
      SELECT doc_id + 1 AS vid, k AS f,
             xor(
               CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':' ||
                 CAST(k + 1 AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT),
               CASE WHEN k < nh THEN
                 ((CAST(1 AS BIGINT) << 5) | (CAST(1 AS BIGINT) << 35) |
                  (CASE WHEN hb = 3 THEN (CAST(1 AS BIGINT) << 36)
                        ELSE 0 END))
               ELSE (CAST(1 AS BIGINT) << CAST(g % 30 AS INT)) END
             ) AS fh
      FROM (SELECT doc_id, g, nh, hb,
              unnest(generate_series(0, {_CANARY_N_FRAMES - 2})) AS k
            FROM lv)
    ), h AS (SELECT * FROM oh UNION ALL SELECT * FROM ch),
    n AS (SELECT vid, count(*) AS nf FROM h GROUP BY 1),
    me AS (
      SELECT a.vid AS id_a, b.vid AS id_b, a.f - b.f AS off, count(*) AS nm
      FROM h a JOIN h b ON a.vid < b.vid
      WHERE bit_count(xor(a.fh, b.fh)) <= {PHASH_MAX_HAMMING}
      GROUP BY 1, 2, 3
    ), pe AS (
      SELECT DISTINCT id_a, id_b FROM me
      JOIN n na ON na.vid = id_a JOIN n nb ON nb.vid = id_b
      WHERE nm >= CEIL({VIDEO_MATCH_FRAC} * least(na.nf, nb.nf))
    ), mc AS (
      SELECT a.vid AS id_a, b.vid AS id_b, a.f - b.f AS off, count(*) AS nm
      FROM h a JOIN h b ON a.vid < b.vid
      WHERE bit_count(xor(a.fh, b.fh)) <= {PHASH_COARSE_MAX_HAMMING}
      GROUP BY 1, 2, 3
    ), pc AS (
      SELECT DISTINCT id_a, id_b, 1 AS hit FROM mc
      JOIN n na ON na.vid = id_a JOIN n nb ON nb.vid = id_b
      WHERE nm >= CEIL({VIDEO_MATCH_FRAC} * least(na.nf, nb.nf))
    )
    SELECT CAST(lv.level AS INT) AS level,
           CAST(lv.nh AS INT) AS n_heavy_frames,
           count(*) AS n_exact_pairs,
           CAST(coalesce(sum(pc.hit), 0) AS BIGINT) AS n_coarse_pairs,
           round(coalesce(sum(pc.hit), 0) * 1.0 / count(*), 4) AS recall
    FROM pe
    JOIN lv ON lv.doc_id = pe.id_a
    LEFT JOIN pc ON pc.id_a = pe.id_a AND pc.id_b = pe.id_b
    GROUP BY 1, 2
    ORDER BY level
    """,
    doc="Measured recall of the coarse (2x32) offset geometry vs the "
    "lossless fine (4x16) offset join's ground truth, by planted "
    "heavy-frame level: level 0 = all frames within the coarse budget "
    "(recall 1.0), level 1 = one frame at hamming 2-3 (the vote "
    "absorbs it), level 2 = three heavy frames (vote lost — the "
    "documented trade, now a number). Runs per-corpus via "
    "`railgun stats --sections video_offset_coarse_recall`.",
    tags=("multimodal", "dedup", "canary"),
)
def video_offset_coarse_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin the crafted frame hashes ONCE: both the exact and the coarse
    # pair legs (and their internal n_frames/self-join reuse) otherwise
    # re-plan the Y4M synth + decode pipeline — the before-plan carried
    # 32 copies of the scan subtree
    fh = pin(_coarse_canary_frame_hashes(spark, sf_dir), "phash.coarse_canary_hashes")
    exact = media_pairs(fh, VIDEO, offset_tolerant=True).select(
        "id_a", "id_b"
    ).distinct()
    coarse = (
        media_pairs(fh, VIDEO, offset_tolerant=True, coarse=True)
        .select("id_a", "id_b").distinct()
        .withColumn("__hit", F.lit(1))
    )
    g = (F.col("id_a") / VIDEO_COARSE_CANARY_MOD).cast("long")
    lvl = (g % 3).cast("int")
    n_heavy = (
        F.when(lvl == 0, 0).when(lvl == 1, 1).otherwise(3).cast("int")
    )
    hit = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return (
        exact.join(coarse, ["id_a", "id_b"], "left")
        .select(lvl.alias("level"), n_heavy.alias("n_heavy_frames"), "__hit")
        .groupBy("level", "n_heavy_frames")
        .agg(
            F.count(F.lit(1)).alias("n_exact_pairs"),
            hit.alias("n_coarse_pairs"),
            F.round(hit * F.lit(1.0) / F.count(F.lit(1)), 4).alias("recall"),
        )
        .orderBy("level")
    )


# --------------------------------------------------------------------------
# Chunked audio fingerprints — offset tolerance for the audio modality.
# The global 72-window fingerprint (audio_fingerprint64 over the whole
# clip) normalizes its window grid to the CLIP length, so a front-trim
# shifts every window boundary and the copy escapes both the pairs query
# and the gate — the exact gap the video offset mode closes for video
# (reference behavior: railgun has no media dedup at all; this is the
# engine-superset training-pipeline surface). Chunked mode fingerprints
# FIXED-duration chunks instead: AUDIO_CHUNK_SAMPLES mono samples per
# chunk, each hashed by the same 72-window energy-delta staircase, so a
# front-trim by k whole chunks is a constant shift of the chunk sequence
# and the video temporal-alignment vote applies VERBATIM — the band rows
# keep the video shape (chunk_idx rides in the frame_idx slot, encoded
# into band_key bits >= _FRAME_KEY_SHIFT) so one set of gate / bucket /
# append functions serves both modalities, separated by mod='audio-chunk'.
# Tolerance granularity is the chunk duration (2304 samples = 288 ms at
# 8 kHz) — the documented trade vs sample-exact alignment, which no
# banding scheme gives.
# --------------------------------------------------------------------------
AUDIO_CHUNK_SAMPLES = AUDIO_PHASH_WINDOWS * _AUDIO_SEG_SAMPLES  # 2304
AUDIO_CHUNK_MATCH_FRAC = VIDEO_MATCH_FRAC
AUDIO_CHUNK_MOD = "audio-chunk"

AUDIO_CHUNK_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("fhash", T.LongType()),
        T.StructField("refused", T.StringType()),
    ]
)


def audio_chunk_fingerprints(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """MEDIA_SCHEMA audio rows -> (media_id, chunk_idx, fhash, refused):
    audio_fingerprint64 of every full AUDIO_CHUNK_SAMPLES-sample mono
    chunk, one Arrow pass through the shared PCM dispatch. Codec-bound
    payloads and clips shorter than one full chunk record ONE refusal
    row (chunk_idx/fhash NULL); a trailing partial chunk is dropped —
    chunk-local hashing is what buys trim tolerance, and a
    length-normalized tail would break it."""
    from railgun_spark.operators.multimodal import _audio_pcm_frames

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "audio"]
            if pdf.empty:
                continue
            mids, idxs, fhs, refs = [], [], [], []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                mid = int(mid)
                try:
                    frames, _rate = _audio_pcm_frames(bytes(content or b""))
                except ValueError as exc:
                    mids.append(mid)
                    idxs.append(None)
                    fhs.append(None)
                    refs.append(str(exc))
                    continue
                mono = frames.mean(axis=1)
                n_chunks = len(mono) // AUDIO_CHUNK_SAMPLES
                if n_chunks == 0:
                    mids.append(mid)
                    idxs.append(None)
                    fhs.append(None)
                    refs.append(
                        "audio shorter than one fingerprint chunk "
                        f"({AUDIO_CHUNK_SAMPLES} samples)"
                    )
                    continue
                for k in range(n_chunks):
                    h = audio_fingerprint64(
                        mono[k * AUDIO_CHUNK_SAMPLES:(k + 1) * AUDIO_CHUNK_SAMPLES]
                    )
                    mids.append(mid)
                    idxs.append(k)
                    fhs.append(h - (1 << 64) if h >= (1 << 63) else h)
                    refs.append(None)
            yield pd.DataFrame(
                {"media_id": mids,
                 "chunk_idx": pd.array(idxs, dtype="Int32"),
                 "fhash": pd.array(fhs, dtype="Int64"),
                 "refused": refs}
            )

    return df.mapInPandas(batches, AUDIO_CHUNK_PHASH_SCHEMA)


def _phash_wav_chunks(hs: list) -> bytes:
    """16-bit PCM WAV whose k-th AUDIO_CHUNK_SAMPLES-sample chunk
    fingerprints to exactly hs[k]: the `_phash_wav` staircase PCM per
    chunk, concatenated — chunk boundaries land exactly on the crafted
    block boundaries, so every windowed RMS is the block's constant
    amplitude."""
    import struct

    pcm_parts = []
    for h in hs:
        amps = []
        for y in range(8):
            vals = [64]
            for k in range(8):
                bit = (h >> (y * 8 + k)) & 1
                vals.append(vals[-1] + (1 if bit else -1))
            amps += vals
        pcm_parts.append(
            b"".join(struct.pack("<h", a * 256) * _AUDIO_SEG_SAMPLES for a in amps)
        )
    pcm = b"".join(pcm_parts)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)


AUDIO_OFFSET_SAMPLE_MOD = 29


@query(
    "audio_phash_offset_pairs",
    # Audio member of the offset-certification family: identical crafted
    # arithmetic to video_phash_offset_pairs (base / front-trim-1 /
    # front-trim-2 + in-budget bit / half-noise negative), shipped as
    # REAL multi-chunk WAVs — Spark must recover the integers through a
    # craft -> PCM decode -> per-chunk windowed-RMS -> delta-sign ->
    # unaligned banded join -> per-offset vote pipeline.
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (doc_id // {AUDIO_OFFSET_SAMPLE_MOD}) // 4 AS g,
             (doc_id // {AUDIO_OFFSET_SAMPLE_MOD}) % 4 AS v
      FROM documents WHERE doc_id % {AUDIO_OFFSET_SAMPLE_MOD} = 0
    ), fr AS (
      SELECT doc_id, g, v,
             unnest(generate_series(0,
               (3 + g % 3) - 1 - (CASE v WHEN 0 THEN 0 WHEN 2 THEN 2
                                         ELSE 1 END))) AS f
      FROM s
    ), h AS (
      SELECT doc_id, f,
        CASE
          WHEN v = 3 AND f >= CAST(CEIL((3 + g % 3 - 1) / 2.0) AS BIGINT)
          THEN CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':z' ||
                     CAST(f AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT)
          ELSE xor(
            CAST(('0x' || substr(md5(CAST(g AS VARCHAR) || ':' ||
                  CAST(f + (CASE v WHEN 1 THEN 1 WHEN 2 THEN 2
                                   WHEN 3 THEN 1 ELSE 0 END)
                  AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT),
            CASE WHEN v = 2 THEN (CAST(1 AS BIGINT) << (g % 60))
                 ELSE 0 END)
        END AS fh
      FROM fr
    ), n AS (SELECT doc_id, count(*) AS nf FROM h GROUP BY 1),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(a.f - b.f AS INTEGER) AS chunk_offset,
             count(*) AS n_match
      FROM h a JOIN h b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fh, b.fh)) <= {PHASH_MAX_HAMMING}
      GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, chunk_offset, n_match,
           least(na.nf, nb.nf) AS n_small
    FROM m JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
    WHERE n_match >= CEIL({AUDIO_CHUNK_MATCH_FRAC} * least(na.nf, nb.nf))
    ORDER BY id_a, id_b, chunk_offset
    """,
    doc="Offset-tolerant audio near-dup certification: crafted multi-chunk "
    "staircase WAVs whose per-chunk 72-window energy-delta fingerprints "
    "equal doc_id-predicted 60-bit values; variants are front-TRIMMED "
    "copies (by 1 and 2 chunks, one carrying an extra in-budget bit flip) "
    "plus a half-noise negative — the unaligned banded join + per-offset "
    "vote must reproduce the all-pairs per-offset definition exactly.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def audio_phash_offset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA

    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % AUDIO_OFFSET_SAMPLE_MOD == 0)
        .select("doc_id"),
        heavy=True,
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                m = d // AUDIO_OFFSET_SAMPLE_MOD
                wav = _phash_wav_chunks(_video_offset_frames(m // 4, m % 4))
                rows.append((d, "audio", wav, {}))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "meta"]
            )

    media = docs.mapInPandas(synth, MEDIA_SCHEMA)
    ch = audio_chunk_fingerprints(media)
    return (
        media_pairs(ch, AUDIO_CHUNK, offset_tolerant=True)
        .withColumnRenamed("frame_offset", "chunk_offset")
        .orderBy("id_a", "id_b", "chunk_offset")
    )


# --------------------------------------------------------------------------
# Pairs and incremental ingest gates: ONE implementation for every media
# modality, and one verified band self-join for both. `media_pairs`
# returns the self-join's pairs; a gate drops the id_b side of the same
# pairs within its batch, plus the rows that verify against the index.
#
# A gate admits the rows of a batch that have no VERIFIED perceptual
# near-dup in the persisted band index nor among the smaller-id rows of
# the batch itself. Each admitted medium stores one row per
# (band, hash) in the index: band_key = band_idx << 16 | 16-bit chunk
# (positional families add frame_idx << 18), the stored hash word(s),
# bits and a mod tag. A 16-bit chunk space SATURATES (by ~50k admitted
# images nearly every value of every band is occupied), so — unlike the
# high-entropy text MinHash band keys — collision alone CANNOT reject: it
# would false-reject ~everything (the r13 ingest grid measured 89% false
# rejects at a 50k index before the verify step existed). A band
# collision is only the candidate probe; rejection requires
# bit_count(xor) <= the family's hamming budget against the stored hash —
# lossless by pigeonhole AND zero false rejects. Decode-refused and other-kind rows pass through (they never
# band) and are not indexed.
#
# Positional families (video frames, fixed-duration audio chunks) vote:
# verified frame matches are counted per (new, indexed) medium and the
# new one rejects when the count clears min_match_frac — of the LARGER
# signature in aligned mode (the position rides in band_key), or of the
# SMALLER one per constant temporal shift in offset mode (trimmed and
# padded copies reject too). Offset mode reads the SAME index: the
# frame-stripped chunk key (band_key & _FRAME_KEY_MASK, or with `coarse`
# the 2x32-bit chunks of the stored hash, per-frame budget <= 1 —
# PHASH_OFFSET_PROBE_r15.json measured the 16-bit offset key's candidates
# growing ~N^2/2^16 while the coarse key tracks true pairs) is derived on
# both sides, so the index side shuffles every batch.
#
# Every index form has a bucketed-table twin whose join key is the
# bucketing column, so the index side scans in place and only the small
# batch shuffles: band_key for aligned gates, an explicit chunk_key
# column (its geometry declared once in TBLPROPERTIES) for offset gates.
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class SignatureFamily:
    """Everything that differs between the media signatures.
    `extract(df, every_n, id_col)` is the family's Arrow hash kernel;
    `sig_cols` are the hash columns it emits and `pos_col` its frame or
    chunk axis (None for one signature per medium); `hash_cols` are the
    hash columns a band index stores. The hamming budget follows from
    the hash width and the band width (`_budget`). `positional` families
    reject by match-fraction vote and alone support offset mode."""

    mod: str
    extract: Callable[[DataFrame, int, str], DataFrame]
    sig_cols: tuple[str, ...]
    pos_col: str | None
    hash_cols: tuple[str, ...]

    @property
    def positional(self) -> bool:
        return self.pos_col is not None

    @property
    def row_cols(self) -> tuple[str, ...]:
        """The hash columns as band rows carry them (a lone 64-bit hash
        rides as __h)."""
        return ("__h",) if len(self.hash_cols) == 1 else self.hash_cols

    @property
    def index_cols(self) -> tuple[str, ...]:
        """The stored hash columns renamed apart from `row_cols` for the
        gate's index join."""
        return tuple("__i" + c.lstrip("_") for c in self.row_cols)


IMAGE = SignatureFamily(
    "image", lambda df, every_n, id_col: image_perceptual_hashes(df, id_col),
    ("dhash",), None, ("dhash",),
)
IMAGE_WIDE = SignatureFamily(
    "image-wide",
    lambda df, every_n, id_col: image_perceptual_hashes_wide(df, id_col),
    _WIDE_HASH_COLS, None, _WIDE_HASH_COLS,
)
AUDIO = SignatureFamily(
    "audio", lambda df, every_n, id_col: audio_perceptual_hashes(df, id_col),
    ("fhash",), None, ("dhash",),
)
VIDEO = SignatureFamily(
    "video", video_perceptual_hashes, ("fhash",), "frame_idx", ("dhash",),
)
AUDIO_CHUNK = SignatureFamily(
    AUDIO_CHUNK_MOD,
    lambda df, every_n, id_col: audio_chunk_fingerprints(df, id_col),
    ("fhash",), "chunk_idx", ("dhash",),
)
FAMILIES = {f.mod: f for f in (IMAGE, IMAGE_WIDE, AUDIO, VIDEO, AUDIO_CHUNK)}


def _width(coarse: bool) -> int:
    """Band width in bits: coarse means 32-bit chunks for every family."""
    return 32 if coarse else PHASH_BAND_BITS


def _budget(fam: SignatureFamily, width: int, max_hamming: int | None = None) -> int:
    """The verify budget over `width`-bit bands (`max_hamming`, default
    the widest): pigeonhole over 64*words/width disjoint bands yields a
    lossless candidate set only for hamming <= bands - 1."""
    cap = 64 * len(fam.hash_cols) // width - 1
    if max_hamming is None:
        return cap
    if max_hamming > cap:
        raise ValueError(
            f"pigeonhole blocking with {cap + 1} bands is lossless only "
            f"for hamming <= {cap}; got {max_hamming}"
        )
    return max_hamming


def _hash_rows(hashes: DataFrame, fam: SignatureFamily) -> DataFrame:
    """Kernel output -> (__id, [__n, frame_idx,] <row_cols>): refused
    rows (NULL hash) dropped; positional families carry the medium's
    frame count on every row (the vote's denominator) — a window count,
    so the kernel output is read once (a count joined back would plan
    the decode pipeline twice)."""
    cols = [F.col("media_id").alias("__id")]
    if fam.positional:
        n = F.count(F.lit(1)).over(Window.partitionBy("media_id"))
        cols += [n.alias("__n"), F.col(fam.pos_col).alias("frame_idx")]
    cols += [F.col(s).alias(r) for s, r in zip(fam.sig_cols, fam.row_cols)]
    return hashes.filter(F.col(fam.sig_cols[0]).isNotNull()).select(*cols)


# positional band keys encode the frame (or chunk) index in bits >= 18;
# offset mode strips it back out to join across temporal positions
_FRAME_KEY_SHIFT = 18
_FRAME_KEY_MASK = (1 << _FRAME_KEY_SHIFT) - 1


def _bands(hashes: DataFrame, fam: SignatureFamily, width: int) -> DataFrame:
    """Hash rows -> one row per `width`-bit band, adding chunk_key =
    band_idx << width | chunk (frame-free: the offset and coarse joins'
    key) and band_key, the index's stored key: chunk_key plus, for
    positional families, frame_idx << 18. The position is ENCODED IN THE
    KEY so every aligned join is a single-key equi-join that a table
    bucketed by band_key serves in place (a two-key join would defeat the
    bucketed strategy, and Catalyst folds a residual frame equality back
    into the join keys)."""
    ex = hashes.select(
        *hashes.columns,
        F.posexplode(_chunks([F.col(c) for c in fam.row_cols], width)).alias(
            "__ci", "__cv"
        ),
    )
    chunk = F.shiftleft(F.col("__ci").cast("long"), width).bitwiseOR(F.col("__cv"))
    band = chunk
    if fam.positional:
        band = chunk + F.col("frame_idx").cast("bigint") * F.lit(1 << _FRAME_KEY_SHIFT)
    return ex.select(*hashes.columns, band.alias("band_key"), chunk.alias("chunk_key"))


def _hamming(xs: list[Column], ys: list[Column]) -> Column:
    """Hamming distance between two hashes held as equal-length lists of
    64-bit word columns."""
    if len(xs) == 1:
        return F.bit_count(xs[0].bitwiseXOR(ys[0]))
    out = F.lit(0)
    for x, y in zip(xs, ys):
        out = out + F.bit_count(x.bitwiseXOR(y))
    return out


def _check_mode(
    fam: SignatureFamily, offset_tolerant: bool, coarse: bool, index: bool = True
) -> None:
    """`index`: the call reads or writes a band index, whose aligned
    layout stores 16-bit keys only (pairs may band coarse without one
    unless the frame must ride in the key)."""
    if coarse and not offset_tolerant and (index or fam.positional):
        raise ValueError(
            "coarse=True only applies to the offset-tolerant gate (the "
            "aligned gate's band keys already carry frame alignment)"
        )
    if offset_tolerant and not fam.positional:
        raise ValueError(
            f"offset_tolerant needs a positional family (video, "
            f"{AUDIO_CHUNK_MOD}): {fam.mod!r} signatures have no frame or "
            "chunk axis to shift"
        )


# successful geometry validations, keyed by (index location, mod). An
# index only ever GROWS with constant bits/mod values written by this
# module's appends, so a once-valid index stays valid for the session —
# re-scanning it per micro-batch (two full-index jobs per gate call)
# bought nothing. External writers that corrupt a validated index
# mid-session are out of contract; clear this set to force
# re-validation.
_GEOMETRY_OK: set[tuple[str, str]] = set()


def _check_index_geometry(seen: DataFrame, where: str, fam: SignatureFamily) -> None:
    """Fail closed on an index from another chunking geometry, the
    pre-verify layout (no stored hash), or another MODALITY: its rows
    cannot be verified against this session's signatures, and treating
    them as history would silently admit (or falsely reject)
    duplicates. One aggregation scan, memoized per (index, mod) for the
    session (appends preserve geometry by construction)."""
    memo_key = (str(where), fam.mod)
    if memo_key in _GEOMETRY_OK:
        return
    if not ({"bits", "mod"} | set(fam.hash_cols)) <= set(seen.columns):
        raise ValueError(
            f"perceptual band index {where} predates the verified-hamming "
            f"geometry (band_key, {', '.join(fam.hash_cols)}, bits, mod); "
            f"rebuild it under the current "
            f"{PHASH_BANDS}x{PHASH_BAND_BITS}-bit chunking"
        )
    bad = seen.select(
        F.sum(
            (F.col("bits").isNull() | (F.col("bits") != PHASH_BAND_BITS))
            .cast("int")
        ).alias("bad_bits"),
        F.sum(
            (F.col("mod").isNull() | (F.col("mod") != fam.mod)).cast("int")
        ).alias("bad_mod"),
    ).first()
    if bad["bad_bits"]:
        raise ValueError(
            f"perceptual band index {where} contains rows from a different "
            f"chunking geometry; rebuild it under the current "
            f"{PHASH_BANDS}x{PHASH_BAND_BITS}-bit chunking"
        )
    if bad["bad_mod"]:
        raise ValueError(
            f"perceptual band index {where} holds fingerprints of another "
            f"modality (expected {fam.mod!r}); media gates must not share "
            "an index path — their hashes live in unrelated spaces"
        )
    _GEOMETRY_OK.add(memo_key)


_BITS_TBLPROP = "railgun.chunk_bits"


def _stamp_bucketed_offset_bits(
    spark: SparkSession, table: str, bits: int
) -> None:
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ('{_BITS_TBLPROP}'='{int(bits)}')"
    )


def _check_bucketed_offset_bits(
    spark: SparkSession, table: str, coarse: bool
) -> None:
    """Refuse a bucketed offset table whose chunk-key geometry doesn't
    match `coarse` — checked by the gate AND the append, so a wrong-flag
    append can never write 16-bit keys into a 32-bit table (those rows
    would never join and their duplicates would be silently admitted).

    The geometry is a TABLE-level property: bucketize_media_index
    declares it once in TBLPROPERTIES and this check reads it in O(1).
    Tables bucketized before the marker existed fall back ONCE to a
    min==max homogeneity scan of the per-row bits column (a mixed legacy
    table is always refused, never sampled) and are stamped on passing.
    An empty unstamped table passes — its first append establishes the
    geometry."""
    want_bits = 32 if coarse else PHASH_BAND_BITS
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    declared = props.get(_BITS_TBLPROP)
    if declared is None:
        probe = (
            spark.table(table)
            .agg(F.min("bits").alias("lo"), F.max("bits").alias("hi"))
            .collect()[0]
        )
        if probe["lo"] is None:
            return
        lo, hi = int(probe["lo"]), int(probe["hi"])
        if lo != hi:
            raise ValueError(
                f"bucketed table {table!r} carries MIXED chunk-key "
                f"geometries ({lo}- and {hi}-bit rows) — it must be "
                "rebuilt with one bucketize_media_index(coarse=...) "
                "geometry before any gate or append can use it"
            )
        _stamp_bucketed_offset_bits(spark, table, lo)
        declared = str(lo)
    if int(declared) != want_bits:
        raise ValueError(
            f"bucketed table {table!r} carries {int(declared)}-bit chunk "
            f"keys but this operation uses {want_bits}-bit keys — pass "
            "the matching coarse= flag or rebuild the table with the "
            "matching bucketize_media_index(coarse=...) geometry"
        )


def _index_side(
    seen: DataFrame, fam: SignatureFamily, offset_tolerant: bool, coarse: bool,
    table: bool,
) -> DataFrame:
    """The stored rows as the gate joins them: the verify hash(es)
    renamed __i*, plus — for positional families — the indexed medium
    (old_id), its frame count (n_old) and, in offset mode, the frame
    position (__of) and chunk_key."""
    hashes = [F.col(s).alias(i) for s, i in zip(fam.hash_cols, fam.index_cols)]
    if not fam.positional:
        return seen.select("band_key", *hashes)
    owner = [F.col("vid").alias("old_id"), F.col("n_frames").alias("n_old")]
    if not offset_tolerant:
        return seen.select(*owner, "band_key", *hashes)
    if table:
        return seen.select(
            *owner, F.col("frame_idx").alias("__of"), "chunk_key", *hashes
        )
    frame = F.shiftright(F.col("band_key"), _FRAME_KEY_SHIFT).cast("int")
    if not coarse:
        return seen.select(
            *owner, frame.alias("__of"),
            F.col("band_key").bitwiseAND(F.lit(_FRAME_KEY_MASK)).alias("chunk_key"),
            *hashes,
        )
    # coarse keys come from the stored hash, ONE row per frame first (or
    # every hit would count once per stored 16-bit band)
    frames = seen.select(
        F.col("vid").alias("__id"), F.col("n_frames").alias("__n"),
        frame.alias("frame_idx"), F.col("dhash").alias("__h"),
    ).distinct()
    return _bands(frames, fam, 32).select(
        F.col("__id").alias("old_id"), F.col("__n").alias("n_old"),
        F.col("frame_idx").alias("__of"), "chunk_key", F.col("__h").alias("__ih"),
    )


def _vote(
    cand: DataFrame, offset_tolerant: bool, min_match_frac: float
) -> DataFrame:
    """Verified candidate frame rows (id_a, id_b, [off,] fi, n_a, n_b) ->
    the pairs whose matched frames — per constant shift `off` in offset
    mode — clear min_match_frac of the LARGER signature (aligned) or the
    SMALLER one (offset: a clip cut from a longer one qualifies):
    (id_a, id_b, n_match, n_frames), or (id_a, id_b, frame_offset,
    n_match, n_small) in offset mode."""
    group = ["id_a", "id_b", "off"] if offset_tolerant else ["id_a", "id_b"]
    nf = (F.least if offset_tolerant else F.greatest)(F.col("n_a"), F.col("n_b"))
    off = [F.col("off").alias("frame_offset")] if offset_tolerant else []
    return (
        cand.distinct()
        .groupBy(*group, "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(F.col("n_match") >= F.ceil(F.lit(min_match_frac) * nf))
        .select(
            "id_a", "id_b", *off, "n_match",
            nf.alias("n_small" if offset_tolerant else "n_frames"),
        )
    )


def _self_pairs(
    probe: DataFrame,
    key: str,
    fam: SignatureFamily,
    budget: int,
    offset_tolerant: bool,
    min_match_frac: float,
) -> DataFrame:
    """The verified band self-join over `probe` (band rows joined on
    `key`, id_a < id_b, hamming <= `budget`): (id_a, id_b, hamming) for
    one signature per medium, else the `_vote` rows."""
    a, b = probe.alias("a"), probe.alias("b")
    ham = _hamming([F.col(f"a.{c}") for c in fam.row_cols],
                   [F.col(f"b.{c}") for c in fam.row_cols])
    cand = a.join(
        b,
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col("a.__id") < F.col("b.__id")),
    ).filter(ham <= budget)
    ids = [F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")]
    if not fam.positional:
        return cand.select(*ids, ham.alias("hamming")).distinct()
    # (id_a, id_b, off, fi) names ONE frame pair — an offset fixes b's
    # frame given a's — so the vote's distinct() dedups multi-band hits
    off = [(F.col("a.frame_idx") - F.col("b.frame_idx")).alias("off")]
    return _vote(
        cand.select(
            *ids, *(off if offset_tolerant else []),
            F.col("a.frame_idx").alias("fi"),
            F.col("a.__n").alias("n_a"), F.col("b.__n").alias("n_b"),
        ),
        offset_tolerant, min_match_frac,
    )


def _gate(
    df: DataFrame,
    hashes: DataFrame,
    fam: SignatureFamily,
    seen: DataFrame | None,
    id_col: str,
    min_match_frac: float,
    offset_tolerant: bool,
    coarse: bool,
    table: bool,
) -> DataFrame:
    """The one gate body: drop rows of `df` whose already-pinned hash
    rows verify against a smaller-id batch row (the `_self_pairs` id_b
    side) or against `seen` (the parquet index, the bucketed table, or
    None for an empty index)."""
    width = _width(coarse)
    budget = _budget(fam, width)
    key = "chunk_key" if offset_tolerant else "band_key"
    probe = _bands(hashes, fam, width)
    drops = _self_pairs(
        probe, key, fam, budget, offset_tolerant, min_match_frac
    ).select(F.col("id_b").alias("__id")).distinct()
    if seen is not None:
        hits = probe.join(
            _index_side(seen, fam, offset_tolerant, coarse, table), key
        ).filter(
            _hamming([F.col(c) for c in fam.row_cols],
                     [F.col(c) for c in fam.index_cols]) <= budget
        )
        if fam.positional:
            off = [(F.col("__of") - F.col("frame_idx")).alias("off")]
            hits = _vote(
                hits.select(
                    F.col("old_id").alias("id_a"), F.col("__id").alias("id_b"),
                    *(off if offset_tolerant else []),
                    F.col("frame_idx").alias("fi"),
                    F.col("n_old").alias("n_a"), F.col("__n").alias("n_b"),
                ),
                offset_tolerant, min_match_frac,
            ).select(F.col("id_b").alias("__id"))
        else:
            hits = hits.select("__id")
        drops = drops.union(hits).distinct()
    return df.join(drops, df[id_col] == drops["__id"], "left_anti")


def _pinned_hashes(
    df: DataFrame, fam: SignatureFamily, every_n: int, id_col: str
) -> DataFrame:
    # three plan branches consume the batch's bands (both intra-batch
    # sides + the index join): materialize the hash rows once instead of
    # re-decoding per branch
    return pin(_hash_rows(fam.extract(df, every_n, id_col), fam), "phash.batch_hashes")


def media_pairs(
    hashes: DataFrame,
    family: SignatureFamily,
    *,
    max_hamming: int | None = None,
    min_match_frac: float = VIDEO_MATCH_FRAC,
    offset_tolerant: bool = False,
    coarse: bool = False,
) -> DataFrame:
    """Every verified near-dup pair among the `family` kernel's output
    `hashes` — the gates' intra-batch self-join, returned instead of
    applied. Candidates are pigeonhole-banded (an equi-join on one band,
    never all-pairs), so the result is exact for any `max_hamming` up to
    bands - 1 (default: that budget) and refused rows never pair:
      - (id_a, id_b, hamming) for image, image-wide and audio;
      - (id_a, id_b, n_match, n_frames) for positional families: at
        least `min_match_frac` of the LARGER signature's frames match at
        the same position;
      - (id_a, id_b, frame_offset, n_match, n_small) with
        `offset_tolerant`: per constant shift, of the SMALLER signature
        (trimmed and padded copies qualify; a pair may qualify at
        several offsets).
    id_a < id_b always. `coarse` bands on 32-bit chunks (wide: 8x32,
    budget <= 7; one 64-bit hash: 2x32, budget <= 1): random band
    collisions cost 2^-32 instead of 2^-16, so the candidate stream keeps
    tracking true pairs as the corpus grows (PHASH_CANDIDATE_PROBE_r14,
    PHASH_OFFSET_PROBE_r15)."""
    _check_mode(family, offset_tolerant, coarse, index=False)
    width = _width(coarse)
    budget = _budget(family, width, max_hamming)
    # pin the hash rows ONCE: both self-join sides otherwise plan the
    # whole decode+hash pipeline again — one row per medium or frame is
    # strictly cheaper to pin than a second decode pass at any scale
    rows = pin(_hash_rows(hashes, family), "phash.pair_rows")
    key = "chunk_key" if offset_tolerant else "band_key"
    return _self_pairs(
        _bands(rows, family, width), key, family, budget, offset_tolerant,
        min_match_frac,
    )


def _read_seen(spark: SparkSession, index_path: str, fam: SignatureFamily):
    from railgun_spark.operators.dedup import _read_index_or_none

    seen = _read_index_or_none(spark, index_path, merge_schema=True)
    if seen is not None:
        _check_index_geometry(seen, index_path, fam)
    return seen


def media_dedup_against_index(
    df: DataFrame,
    index_path: str,
    family: SignatureFamily,
    every_n: int = 10,
    id_col: str = "media_id",
    min_match_frac: float = VIDEO_MATCH_FRAC,
    offset_tolerant: bool = False,
    coarse: bool = False,
) -> DataFrame:
    """Rows of `df` with no VERIFIED `family` near-dup in the parquet
    band index at `index_path` nor among the smaller-id rows of `df`
    (other-kind and decode-refused rows always survive). Use one index
    path per family — the mod tag refuses a mixed index loudly. Commit
    survivors with `append_media_to_index`.

    `every_n` (video) and `min_match_frac` apply to positional families
    only. `offset_tolerant` (positional only) switches to the per-shift
    vote over the SAME index; `coarse` (offset only) joins on the 2x32
    chunk keys, per-frame budget hamming <= 1."""
    _check_mode(family, offset_tolerant, coarse)
    hashes = _pinned_hashes(df, family, every_n, id_col)
    return _gate(
        df, hashes, family, _read_seen(df.sparkSession, index_path, family),
        id_col, min_match_frac, offset_tolerant, coarse, table=False,
    )


def media_gate_with_bands(
    df: DataFrame,
    index_path: str,
    family: SignatureFamily,
    every_n: int = 10,
    id_col: str = "media_id",
    min_match_frac: float = VIDEO_MATCH_FRAC,
    offset_tolerant: bool = False,
    coarse: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(survivors, survivor_band_rows) of `media_dedup_against_index` in
    ONE decode pass — the ingest loop's shape: the band rows both feed
    the index append and tell replay detection whether any GATE-ABLE row
    survived (pass-through rows never band)."""
    _check_mode(family, offset_tolerant, coarse)
    hashes = _pinned_hashes(df, family, every_n, id_col)
    survivors = _gate(
        df, hashes, family, _read_seen(df.sparkSession, index_path, family),
        id_col, min_match_frac, offset_tolerant, coarse, table=False,
    )
    survivors = pin(survivors, "phash.gate_survivors")
    # a semi-join against the already-materialized batch hashes, so the
    # ingest loop never decodes twice
    kept = hashes.join(survivors.select(F.col(id_col).alias("__id")), "__id", "semi")
    return survivors, _bands(kept, family, PHASH_BAND_BITS)


def media_dedup_against_table(
    df: DataFrame,
    table: str,
    family: SignatureFamily,
    every_n: int = 10,
    id_col: str = "media_id",
    min_match_frac: float = VIDEO_MATCH_FRAC,
    offset_tolerant: bool = False,
    coarse: bool = False,
) -> DataFrame:
    """`media_dedup_against_index` against a table built by
    `bucketize_media_index` with the same `offset_tolerant`/`coarse`:
    same admitted set, but the index side scans in place (no Exchange)
    — verify with .explain(). An offset table's chunk-key geometry is
    checked against `coarse` first."""
    _check_mode(family, offset_tolerant, coarse)
    spark = df.sparkSession
    hashes = _pinned_hashes(df, family, every_n, id_col)
    if offset_tolerant:
        _check_bucketed_offset_bits(spark, table, coarse)
    return _gate(
        df, hashes, family, spark.table(table), id_col, min_match_frac,
        offset_tolerant, coarse, table=True,
    )


def _stored_rows(bands: DataFrame, fam: SignatureFamily) -> DataFrame:
    """Band rows -> the parquet index / aligned table layout."""
    hashes = [F.col(r).alias(s) for r, s in zip(fam.row_cols, fam.hash_cols)]
    owner = (
        [F.col("__id").alias("vid"), F.col("__n").alias("n_frames"), "frame_idx"]
        if fam.positional else []
    )
    return bands.select(
        *owner, "band_key", *hashes,
        F.lit(PHASH_BAND_BITS).alias("bits"), F.lit(fam.mod).alias("mod"),
    )


def _append_band_rows(bands: DataFrame, index_path: str, fam: SignatureFamily) -> None:
    """Append already-computed band rows (the ingest loop's path — no
    second decode)."""
    _stored_rows(bands, fam).write.mode("append").parquet(index_path)


def append_media_to_index(
    survivors: DataFrame,
    index_path: str,
    family: SignatureFamily,
    every_n: int = 10,
    id_col: str = "media_id",
) -> None:
    """Append the survivors' band rows (recomputed map-only; the index
    grows one row per band per admitted medium — or per SAMPLED frame —
    of ~17 bytes, ~40 for the wide family). One layout serves both the
    aligned and the offset gates."""
    hashes = _hash_rows(family.extract(survivors, every_n, id_col), family)
    _append_band_rows(_bands(hashes, family, PHASH_BAND_BITS), index_path, family)


def _offset_table_rows(hashes: DataFrame, fam: SignatureFamily, coarse: bool) -> DataFrame:
    """Positional hash rows -> the chunk_key-bucketed offset table
    layout: one row per frame and frame-free chunk (`coarse`: 32-bit
    chunks, bits=32)."""
    width = _width(coarse)
    return _bands(hashes, fam, width).select(
        F.col("__id").alias("vid"),
        F.col("__n").alias("n_frames"),
        "frame_idx",
        "chunk_key",
        F.col("__h").alias("dhash"),
        F.lit(width).alias("bits"),
        F.lit(fam.mod).alias("mod"),
    )


def append_media_to_table(
    survivors: DataFrame,
    table: str,
    family: SignatureFamily,
    every_n: int = 10,
    id_col: str = "media_id",
    offset_tolerant: bool = False,
    coarse: bool = False,
) -> None:
    """Append the survivors' rows preserving the bucket spec of a table
    built by `bucketize_media_index` with the same
    `offset_tolerant`/`coarse` (an offset table's chunk-key geometry is
    verified first — a wrong-flag append would write rows that never
    join, silently admitting their duplicates)."""
    _check_mode(family, offset_tolerant, coarse)
    if offset_tolerant:
        _check_bucketed_offset_bits(survivors.sparkSession, table, coarse)
    hashes = _hash_rows(family.extract(survivors, every_n, id_col), family)
    rows = (
        _offset_table_rows(hashes, family, coarse) if offset_tolerant
        else _stored_rows(_bands(hashes, family, PHASH_BAND_BITS), family)
    )
    rows.write.mode("append").insertInto(table)


def bucketize_media_index(
    spark: SparkSession,
    index_path: str,
    table: str,
    family: SignatureFamily,
    n_buckets: int = 64,
    offset_tolerant: bool = False,
    coarse: bool = False,
) -> int:
    """Materialize a parquet band index as a managed table for
    `media_dedup_against_table` (one-time migration; thereafter append
    with `append_media_to_table`). Refuses an index of another geometry
    or family. Returns the distinct row count.

    Aligned tables keep the index layout bucketed by band_key. With
    `offset_tolerant` the frame-stripped chunk key becomes an explicit
    bucketed column (chunk_key = band_key % 2^18; with `coarse`, the 2x32
    chunks of the stored hash, 2 rows per frame), so the offset gate's
    index side scans in place too; its bits geometry is declared in
    TBLPROPERTIES for the gates and appends to check."""
    from railgun_spark.operators.dedup import _local_index_path, _recover_index

    _check_mode(family, offset_tolerant, coarse)
    local = _local_index_path(index_path)
    _recover_index(local)
    idx = spark.read.option("mergeSchema", "true").parquet(local)
    _check_index_geometry(idx, index_path, family)
    if offset_tolerant:
        key = "chunk_key"
        frames = idx.select(
            F.col("vid").alias("__id"), F.col("n_frames").alias("__n"),
            "frame_idx", F.col("dhash").alias("__h"),
        ).distinct()
        rows = _offset_table_rows(frames, family, coarse)
    else:
        key = "band_key"
        owner = ["vid", "n_frames", "frame_idx"] if family.positional else []
        rows = idx.select(
            *owner, "band_key", *family.hash_cols, "bits", "mod"
        ).distinct()
    rows.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, key
    ).saveAsTable(table)
    if offset_tolerant:
        _stamp_bucketed_offset_bits(spark, table, _width(coarse))
    return spark.table(table).count()
