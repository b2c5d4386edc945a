"""Image perceptual-hash dedup: kernels, the Arrow hash pass, the
lossless banded pair join, and the incremental ingest gate (batch +
streaming with crash-replay windows) — the image-modality member of the
dedup family (operators/phash.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from railgun_spark.operators.multimodal import MEDIA_SCHEMA
from railgun_spark.operators.phash import (
    AUDIO,
    AUDIO_CHUNK,
    IMAGE,
    IMAGE_WIDE,
    PHASH_BANDS,
    PHASH_MAX_HAMMING,
    VIDEO,
    _phash_pgm,
    _phash_target,
    ahash64,
    append_media_to_index,
    append_media_to_table,
    bucketize_media_index,
    dhash64,
    image_perceptual_hashes,
    media_dedup_against_index,
    media_dedup_against_table,
    media_pairs,
)
from railgun_spark.streaming.ingest import (
    ingest_media_batch,
    stream_ingest_media_availablenow,
)


def _rng(seed=7):
    return np.random.RandomState(seed)


def test_dhash_ahash_kernels():
    """Determinism, invariance to pixel doubling (the resize collapses
    it exactly), sensitivity ordering: tiny edit -> small hamming,
    unrelated image -> large hamming."""
    rng = _rng()
    img = rng.randint(0, 256, size=(32, 48, 3)).astype("float64")
    assert dhash64(img) == dhash64(img.copy())
    assert ahash64(img) == ahash64(img.copy())

    # pixel-doubling an image already ON the hash grid (9x8 / 8x8) is
    # exact: the 2x downsample averages each duplicated pair back
    on_grid_d = rng.randint(0, 256, size=(8, 9, 3)).astype("float64")
    assert dhash64(np.repeat(np.repeat(on_grid_d, 2, 0), 2, 1)) == dhash64(on_grid_d)
    on_grid_a = rng.randint(0, 256, size=(8, 8, 3)).astype("float64")
    assert ahash64(np.repeat(np.repeat(on_grid_a, 2, 0), 2, 1)) == ahash64(on_grid_a)

    # a small local edit moves few bits; an unrelated image moves many
    edited = img.copy()
    edited[:2, :2] = 255.0
    other = rng.randint(0, 256, size=(32, 48, 3)).astype("float64")
    d0, d1, d2 = dhash64(img), dhash64(edited), dhash64(other)
    assert bin(d0 ^ d1).count("1") < bin(d0 ^ d2).count("1")

    # crafted PGM encodes an arbitrary 60-bit target exactly
    for g, v in ((0, 0), (3, 1), (11, 2), (29, 3)):
        h = _phash_target(g, v)
        from railgun_spark.operators.multimodal import decode_image_raster

        assert dhash64(decode_image_raster(_phash_pgm(h))) == h

    # ahash: half-bright image sets exactly half the bits
    half = np.zeros((16, 16, 3))
    half[:8] = 255.0
    assert bin(ahash64(half)).count("1") == 32


def test_image_perceptual_hashes_refusal_and_kinds(spark):
    """Non-image rows drop; codec-bound payloads record a per-row refusal
    (NULL hashes) without killing the stage; good rows hash."""
    pgm = _phash_pgm(_phash_target(1, 0))
    rows = [
        (1, "image", bytearray(pgm), {}),
        (2, "image", bytearray(b"not an image"), {}),
        (3, "audio", bytearray(b"RIFF"), {}),
    ]
    got = {
        r["media_id"]: r
        for r in image_perceptual_hashes(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert set(got) == {1, 2}  # audio row dropped
    assert got[1]["refused"] is None
    assert got[1]["dhash"] == _phash_target(1, 0)
    assert got[2]["dhash"] is None and got[2]["ahash"] is None
    assert "unsupported image codec" in got[2]["refused"]


def test_phash_pairs_lossless_vs_brute_force(spark):
    """The banded join must equal the brute-force hamming <= 3 definition
    on an adversarial hash set (perturbations at band boundaries, sign
    bit set, duplicate hashes)."""
    rng = _rng(13)
    hashes = []
    base_vals = [int(rng.randint(0, 1 << 62)) for _ in range(12)]
    base_vals.append((1 << 63) - 1)  # all-ones-below-sign
    base_vals.append(-(1 << 63))  # sign bit only (negative long)
    i = 0
    for b in base_vals:
        hashes.append((i, b)); i += 1
        hashes.append((i, b ^ (1 << 15))); i += 1  # flip at a band boundary
        hashes.append((i, b ^ (1 << 16) ^ (1 << 47) ^ 1)); i += 1  # 3 bits
        hashes.append((i, b ^ 0xFF))  # 8 bits: out of range
        i += 1
    # mask into signed-64 so createDataFrame accepts them as LongType
    rows = [(mid, h - (1 << 64) if h >= (1 << 63) else h, None, None)
            for mid, h in hashes]
    df = spark.createDataFrame(
        rows, "media_id: long, dhash: long, ahash: long, refused: string"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in media_pairs(df, IMAGE).collect()
    )
    vals = {mid: h & ((1 << 64) - 1) for mid, h in hashes}
    want = sorted(
        (a, b, bin(vals[a] ^ vals[b]).count("1"))
        for a in vals
        for b in vals
        if a < b and bin(vals[a] ^ vals[b]).count("1") <= PHASH_MAX_HAMMING
    )
    assert got == want and len(want) >= len(base_vals)

    with pytest.raises(ValueError, match="lossless"):
        media_pairs(df, IMAGE, max_hamming=PHASH_BANDS)


def _media_rows(ids_and_hashes):
    return [
        (mid, "image", bytearray(_phash_pgm(h)), {}) for mid, h in ids_and_hashes
    ]


def test_image_dedup_against_index_gate(spark, tmp_path):
    """Intra-batch greedy-by-id rejection, index rejection across
    batches, refused rows always surviving, and the geometry guard."""

    idx = str(tmp_path / "phash_bands")
    h_a = _phash_target(5, 0)
    h_a1 = h_a ^ (1 << 7)  # hamming 1 from h_a
    h_b = _phash_target(99, 0)  # unrelated

    batch1 = spark.createDataFrame(
        _media_rows([(1, h_a), (2, h_a1), (3, h_b)]), MEDIA_SCHEMA
    )
    s1 = media_dedup_against_index(batch1, idx, IMAGE)
    assert sorted(r["media_id"] for r in s1.collect()) == [1, 3]  # 2 intra-rejected
    append_media_to_index(s1, idx, IMAGE)

    # second batch: near-dup of an admitted image rejects; new one admits;
    # a decode-refused row survives and is not indexed
    h_c = _phash_target(7, 3)
    batch2 = spark.createDataFrame(
        _media_rows([(10, h_a ^ 1), (11, h_c)])
        + [(12, "image", bytearray(b"JUNK"), {})],
        MEDIA_SCHEMA,
    )
    s2 = media_dedup_against_index(batch2, idx, IMAGE)
    assert sorted(r["media_id"] for r in s2.collect()) == [11, 12]
    append_media_to_index(s2, idx, IMAGE)
    bands = spark.read.parquet(idx)
    n_imgs = 3  # ids 1, 3, 11 indexed; 12 contributed nothing
    assert bands.count() == PHASH_BANDS * n_imgs

    # geometry guard: an index without the bits tag refuses loudly
    legacy = str(tmp_path / "legacy_bands")
    spark.createDataFrame([(1,)], "band_key: long").write.parquet(legacy)
    with pytest.raises(ValueError, match="geometry"):
        media_dedup_against_index(batch1, legacy, IMAGE).collect()
    # and a foreign chunk width too
    foreign = str(tmp_path / "foreign_bands")
    spark.createDataFrame([(1, 8)], "band_key: long, bits: int").write.parquet(
        foreign
    )
    with pytest.raises(ValueError, match="geometry"):
        media_dedup_against_index(batch1, foreign, IMAGE).collect()


def test_family_mode_refusals(spark, tmp_path):
    """Every gate, append and bucketize entry point refuses, before any
    decode or index read, `coarse` without offset mode and offset mode on
    a family with no frame or chunk axis."""
    from railgun_spark.operators.phash import FAMILIES, media_gate_with_bands

    assert [f.mod for f in FAMILIES.values() if f.positional] == [
        "video", "audio-chunk",
    ]
    df = spark.createDataFrame([], MEDIA_SCHEMA)
    idx, table = str(tmp_path / "idx"), "phash_mode_guard"
    calls = [
        lambda fam, **kw: media_dedup_against_index(df, idx, fam, **kw),
        lambda fam, **kw: media_dedup_against_table(df, table, fam, **kw),
        lambda fam, **kw: media_gate_with_bands(df, idx, fam, **kw),
        lambda fam, **kw: append_media_to_table(df, table, fam, **kw),
        lambda fam, **kw: bucketize_media_index(spark, idx, table, fam, **kw),
        lambda fam, **kw: ingest_media_batch(df, idx, str(tmp_path / "s"), fam, **kw),
    ]
    for call in calls:
        for fam in (VIDEO, AUDIO_CHUNK):
            with pytest.raises(ValueError, match="coarse=True only applies"):
                call(fam, coarse=True)
        for fam in (IMAGE, IMAGE_WIDE, AUDIO):
            with pytest.raises(ValueError, match="positional family"):
                call(fam, offset_tolerant=True)


def test_stream_ingest_images_gate_with_replay_windows(spark, tmp_path):
    """MEDIA shards streamed one-per-micro-batch admit exactly one image
    per perceptual near-dup class; a crash window BETWEEN sink write and
    index append replays to the identical survivor set (partition
    overwritten once), and a full restart against the same index admits
    nothing — the ingest_batch crash discipline on the image gate."""
    import shutil

    from railgun_spark.streaming.ingest import _write_sink

    h0, h1 = _phash_target(0, 0), _phash_target(50, 0)
    shards = [
        _media_rows([(1, h0), (2, h0 ^ 1)]),  # one class: admit 1
        _media_rows([(10, h1), (11, h0 ^ 2)]),  # admit 10; 11 vs index
        _media_rows([(20, h1 ^ (1 << 30))]),  # near-dup of 10: admit 0
    ]
    src = tmp_path / "arriving"
    src.mkdir()
    for i, rows in enumerate(shards):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1).write.parquet(
            str(stage)
        )
        shutil.move(
            str(next(stage.glob("part-*.parquet"))), str(src / f"s{i}.parquet")
        )

    idx, sink = str(tmp_path / "bands"), str(tmp_path / "imgs")

    # CRASH WINDOW: a crashed attempt at batch 0 wrote the sink partition
    # but died before the index append — simulate it directly, then let
    # the stream replay batch 0 from scratch.
    crashed = media_dedup_against_index(
        spark.createDataFrame(shards[0], MEDIA_SCHEMA), idx, IMAGE,
    )
    _write_sink(crashed, sink, batch_id=0)

    admitted = stream_ingest_media_availablenow(
        spark, str(src), index_path=idx, sink_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"), family=IMAGE,
    )
    assert admitted == 2  # ids 1 and 10
    got = spark.read.option("basePath", sink).parquet(sink)
    assert sorted(r["media_id"] for r in got.collect()) == [1, 10]

    # full restart over the same shards + index: everything already admitted
    admitted2 = stream_ingest_media_availablenow(
        spark, str(src), index_path=idx, sink_path=str(tmp_path / "imgs2"),
        checkpoint_dir=str(tmp_path / "ckpt2"), family=IMAGE,
    )
    assert admitted2 == 0

    # CRASH WINDOW (b): index committed but checkpoint lost — a direct
    # replay of an already-committed batch admits 0 and must NOT clobber
    # the written partition
    n = ingest_media_batch(
        spark.createDataFrame(shards[0], MEDIA_SCHEMA), idx, sink, IMAGE, batch_id=0,
    )
    assert n == 0
    still = spark.read.option("basePath", sink).parquet(sink)
    assert sorted(r["media_id"] for r in still.collect()) == [1, 10]


def test_image_phash_pairs_local_shape(spark, sf_dir):
    """The oracle-gated query at sf0.001: groups of variants 0/1/2 pair
    (hamming 1/2/3), variant 3 never appears, banding stays lossless."""
    from railgun_spark import suite

    suite._ensure_loaded()
    rows = suite.extra_specs()["image_phash_pairs"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["hamming"] <= PHASH_MAX_HAMMING for r in rows)
    v3_ids = {
        r["id_a"] for r in rows if (r["id_a"] // 7) % 4 == 3
    } | {r["id_b"] for r in rows if (r["id_b"] // 7) % 4 == 3}
    assert not v3_ids
    # within-group hamming values are exactly the crafted 1/2/3
    by_pair = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    for (a, b), ham in by_pair.items():
        if a // 28 == b // 28:
            va, vb = (a // 7) % 4, (b // 7) % 4
            want = {frozenset((0, 1)): 1, frozenset((0, 2)): 2,
                    frozenset((1, 2)): 3}[frozenset((va, vb))]
            assert ham == want, (a, b)


@pytest.mark.slow
def test_stream_ingest_soak_image_gate(spark, tmp_path):
    """Image-gate soak (slow, ~1 min): 16 availableNow micro-batches
    through the perceptual-hash band gate with two injected crash/replay
    windows at batch boundaries 6 (sink written, index lost) and 11
    (index committed, checkpoint lost). The admitted content set must
    equal the batch-backfill ground truth, and per-batch walls must not
    grow with index size."""
    import glob
    import os
    import shutil
    import time

    from railgun_spark.streaming.ingest import (
        _drain_availablenow,
        _write_sink,
    )

    n_shards = 16

    def fresh_hash(k: int, j: int) -> int:
        return _phash_target(1000 + k * 2 + j, 0)

    def shard_rows(k: int):
        rows = _media_rows(
            [(100 * k + j, fresh_hash(k, j)) for j in (0, 1)]
        )
        # intra-shard near-dup of this shard's first fresh image (higher
        # id -> greedy intra-batch rejection)
        rows += _media_rows([(100 * k + 60, fresh_hash(k, 0) ^ (1 << ((k + 5) % 60)))])
        if k > 0:  # near-dup of the PREVIOUS shard's admitted image
            rows += _media_rows([(100 * k + 50, fresh_hash(k - 1, 0) ^ (1 << (k % 60)))])
        return rows

    src = tmp_path / "arriving"
    src.mkdir()

    def ship(k: int) -> None:
        stage = tmp_path / f"__s{k}"
        spark.createDataFrame(shard_rows(k), MEDIA_SCHEMA).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dest = src / f"shard{k:02d}.parquet"
        shutil.move(part, str(dest))
        os.utime(dest, (1_700_000_000 + k, 1_700_000_000 + k))

    idx, sink, ckpt = (str(tmp_path / p) for p in ("idx", "imgs", "ckpt"))
    walls: list[float] = []

    def gate(batch_df, batch_id):
        t0 = time.time()
        n = ingest_media_batch(batch_df, idx, sink, IMAGE, batch_id=batch_id)
        walls.append(time.time() - t0)
        return n

    def drain():
        return _drain_availablenow(
            spark, str(src), MEDIA_SCHEMA, ckpt, 1, gate
        )

    admitted = 0
    for k in range(6):
        ship(k)
    admitted += drain()  # batches 0..5

    # CRASH WINDOW 1 at boundary 6: sink partition written, index lost
    ship(6)
    crashed = media_dedup_against_index(
        spark.read.parquet(str(src / "shard06.parquet")), idx, IMAGE,
    )
    _write_sink(crashed, sink, batch_id=6)
    for k in range(7, 11):
        ship(k)
    admitted += drain()  # batches 6..10 (6 is a replay)

    # CRASH WINDOW 2 at boundary 11: index committed, checkpoint lost
    ship(11)
    n11 = ingest_media_batch(
        spark.read.parquet(str(src / "shard11.parquet")), idx, sink, IMAGE, batch_id=11,
    )
    assert n11 == 2
    for k in range(12, n_shards):
        ship(k)
    admitted += drain()  # batches 11..15 (11 replays to 0)

    assert len(walls) == n_shards
    got = sorted(
        bytes(r["content"]) for r in spark.read.parquet(sink).collect()
    )
    want = sorted(
        bytes(_phash_pgm(fresh_hash(k, j)))
        for k in range(n_shards) for j in (0, 1)
    )
    assert got == want  # exactly one copy per near-dup class
    assert admitted == 2 * n_shards - 2  # window-2's replay admitted 0

    # batch-backfill ground truth: same shards, direct gate calls
    b_idx, b_sink = str(tmp_path / "b_idx"), str(tmp_path / "b_imgs")
    for k in range(n_shards):
        ingest_media_batch(
            spark.createDataFrame(shard_rows(k), MEDIA_SCHEMA), b_idx, b_sink, IMAGE,
            batch_id=None,
        )
    backfill = sorted(
        bytes(r["content"]) for r in spark.read.parquet(b_sink).collect()
    )
    assert got == backfill

    print("IMAGE_SOAK_WALLS " + " ".join(f"{w:.2f}" for w in walls))
    first = sum(walls[:5]) / 5
    last = sum(walls[-5:]) / 5
    assert last <= 3 * first, (first, last, walls)


@pytest.mark.parametrize(
    "modality", ["image", "audio", "video", "audio_chunk"]
)
def test_mixed_batch_replay_after_index_append(spark, tmp_path, modality):
    """ADVICE r13 (medium): a batch holding BOTH decodable and
    pass-through rows (decode-refused / non-matching kind), replayed
    after the index append (checkpoint lost), must NOT overwrite the
    sink partition with only the pass-through rows — the previously
    admitted decodable rows must stay in the sink. A FIRST write of an
    all-pass-through batch must still write normally."""
    from railgun_spark.operators.phash import (
        _phash_wav,
        _phash_wav_chunks,
        _phash_y4m,
    )

    h = _phash_target(123, 0)
    kind = "audio" if modality == "audio_chunk" else modality
    if modality == "image":
        payload, junk, other_kind = _phash_pgm(h), b"JUNK", "audio"
        family, knobs = IMAGE, {}
    elif modality == "audio":
        payload, junk, other_kind = _phash_wav(h), b"ID3\x04", "video"
        family, knobs = AUDIO, {}
    elif modality == "audio_chunk":
        payload, junk, other_kind = (
            _phash_wav_chunks([h, h ^ 1]), b"ID3\x05", "video",
        )
        family, knobs = AUDIO_CHUNK, {"offset_tolerant": True}
    else:
        payload, junk, other_kind = (
            _phash_y4m([h, h ^ 1]), b"RIFF....AVI JUNK", "image",
        )
        family, knobs = VIDEO, {"every_n": 1}

    def ingest(df, idx, sink, batch_id):
        return ingest_media_batch(df, idx, sink, family, batch_id=batch_id, **knobs)

    rows = [
        (1, kind, bytearray(payload), {}),              # decodable: admits
        (2, kind, bytearray(junk), {}),                 # decode-refused
        (3, other_kind, bytearray(b"\x00"), {}),        # non-matching kind
    ]
    idx, sink = str(tmp_path / "idx"), str(tmp_path / "sink")
    batch = spark.createDataFrame(rows, MEDIA_SCHEMA)
    assert ingest(batch, idx, sink, batch_id=0) == 3

    # replay of the SAME batch after the committed index append: the
    # decodable row is rejected by its own bands; only pass-throughs
    # survive re-gating — the write must be SKIPPED, not overwritten
    assert ingest(batch, idx, sink, batch_id=0) == 0
    got = sorted(
        r["media_id"]
        for r in spark.read.option("basePath", sink).parquet(sink).collect()
    )
    assert got == [1, 2, 3]  # decodable row 1 not lost

    # first write of an all-pass-through batch still writes
    only_pass = spark.createDataFrame(
        [(10, kind, bytearray(junk), {})], MEDIA_SCHEMA
    )
    assert ingest(only_pass, idx, sink, batch_id=1) == 1
    got2 = sorted(
        r["media_id"]
        for r in spark.read.option("basePath", sink).parquet(sink).collect()
    )
    assert got2 == [1, 2, 3, 10]


def test_video_perceptual_hashes_containers_and_refusal(spark):
    """Per-frame dHashes recover crafted targets through Y4M AND GIF89a
    containers; a codec-bound video records ONE refusal row; every_n
    samples only every n-th frame."""
    from railgun_spark.geo.serving import encode_gif_animation
    from railgun_spark.operators.phash import (
        _phash_y4m,
        video_perceptual_hashes,
    )

    targets = [_phash_target(200 + f, 0) for f in range(4)]
    y4m = _phash_y4m(targets)

    # GIF twin: full-frame solid-gray animations have exactly-known
    # canvases, so their dHashes are computable from the decoded frames
    pal = [(g, g, g) for g in (40, 90, 140, 190)]
    frames = [(0, 0, [[k] * 18 for _ in range(16)]) for k in range(4)]
    gif = encode_gif_animation(frames, pal)

    rows = [
        (1, "video", bytearray(y4m), {}),
        (2, "video", bytearray(gif), {}),
        (3, "video", bytearray(b"RIFF....AVI JUNK"), {}),
        (4, "image", bytearray(b"P5\n1 1\n255\nx"), {}),  # non-video drops
    ]
    got = video_perceptual_hashes(
        spark.createDataFrame(rows, MEDIA_SCHEMA), every_n=1
    ).collect()
    by_vid = {}
    for r in got:
        by_vid.setdefault(r["media_id"], []).append(r)
    assert set(by_vid) == {1, 2, 3}

    y_rows = sorted(by_vid[1], key=lambda r: r["frame_idx"])
    assert [r["fhash"] for r in y_rows] == targets
    assert all(r["refused"] is None for r in y_rows)

    # solid frames -> dHash 0 (no rightward step is ever positive)
    g_rows = sorted(by_vid[2], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in g_rows] == [0, 1, 2, 3]
    assert all(r["fhash"] == 0 for r in g_rows)

    (ref,) = by_vid[3]
    assert ref["fhash"] is None and ref["refused"] is not None

    # every_n=2 keeps frames 0 and 2 only
    sampled = video_perceptual_hashes(
        spark.createDataFrame(rows[:1], MEDIA_SCHEMA), every_n=2
    ).collect()
    assert sorted(r["frame_idx"] for r in sampled) == [0, 2]


def test_video_phash_pairs_semantics(spark):
    """Frame-aligned match fraction: identical-per-frame videos pair;
    a video matching on only 1 of 3 frames does not; a SHORT clip inside
    a longer video does not (n_frames = the larger signature)."""
    from railgun_spark.operators.phash import (
        _phash_y4m,
        video_perceptual_hashes,
    )

    base = [_phash_target(300 + f, 0) for f in range(3)]
    near = [h ^ (1 << ((7 * f + 3) % 60)) for f, h in enumerate(base)]  # 1 bit/frame
    one_frame = [base[0], _phash_target(900, 0), _phash_target(901, 0)]
    clip = base[:1]  # 1-of-3 prefix
    rows = [
        (1, "video", bytearray(_phash_y4m(base)), {}),
        (2, "video", bytearray(_phash_y4m(near)), {}),
        (3, "video", bytearray(_phash_y4m(one_frame)), {}),
        (4, "video", bytearray(_phash_y4m(clip)), {}),
    ]
    fh = video_perceptual_hashes(
        spark.createDataFrame(rows, MEDIA_SCHEMA), every_n=1
    )
    got = {(r["id_a"], r["id_b"]): (r["n_match"], r["n_frames"])
           for r in media_pairs(fh, VIDEO).collect()}
    assert got == {(1, 2): (3, 3)}


def test_audio_fingerprint_kernel_and_containers(spark):
    """The 72-window energy-delta fingerprint recovers crafted targets
    bit-exactly; the SAME signal fingerprints identically through WAV and
    FLAC containers; MP3 records a per-row refusal; level-preserving
    16-bit re-encode keeps the fingerprint."""
    import struct

    from railgun_spark.operators.multimodal import (
        _audio_pcm_frames,
        _encode_wav_pcm16,
        _flac_verbatim_mono,
    )
    from railgun_spark.operators.phash import (
        _phash_wav,
        audio_fingerprint64,
        audio_perceptual_hashes,
    )

    for g, v in ((0, 0), (4, 1), (9, 2), (21, 3)):
        h = _phash_target(g, v)
        frames, rate = _audio_pcm_frames(_phash_wav(h))
        assert rate == 8000
        assert audio_fingerprint64(frames.mean(axis=1)) == h

    # container invariance: identical PCM through FLAC
    h = _phash_target(77, 0)
    wav = _phash_wav(h)
    frames, _ = _audio_pcm_frames(wav)
    pcm16 = [int(round(x * 32768)) for x in frames[:, 0]]
    flac = _flac_verbatim_mono(pcm16, 8000)
    rows = [
        (1, "audio", bytearray(wav), {}),
        (2, "audio", bytearray(flac), {}),
        (3, "audio", bytearray(b"ID3\x04\x00"), {}),  # MP3: refusal
        (4, "video", bytearray(b"x"), {}),  # non-audio drops
    ]
    got = {r["media_id"]: r for r in audio_perceptual_hashes(
        spark.createDataFrame(rows, MEDIA_SCHEMA)
    ).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["fhash"] == got[2]["fhash"] == h
    assert got[3]["fhash"] is None and got[3]["refused"] is not None

    # 16-bit re-encode round-trip (the resample_audio output path)
    frames2, _ = _audio_pcm_frames(_encode_wav_pcm16(frames, 8000))
    assert audio_fingerprint64(frames2.mean(axis=1)) == h


def test_bucketed_image_index_same_result_fewer_shuffles(spark, tmp_path):
    """The bucketed image band table must admit exactly the same rows as
    the parquet index, with FEWER exchanges in the gate plan (the index
    side scans in place thanks to its bucket layout); geometry-guarded."""

    idx = str(tmp_path / "pb")
    h = _phash_target(42, 0)
    b1 = spark.createDataFrame(
        _media_rows([(1, h), (2, _phash_target(77, 3))]), MEDIA_SCHEMA
    )
    s1 = media_dedup_against_index(b1, idx, IMAGE)
    append_media_to_index(s1, idx, IMAGE)

    table = "phash_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert bucketize_media_index(
        spark, idx, table, IMAGE, n_buckets=8,
    ) == 2 * PHASH_BANDS

    b2 = spark.createDataFrame(
        _media_rows([(10, h ^ 1), (11, _phash_target(500, 0))]), MEDIA_SCHEMA
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        via_parquet = media_dedup_against_index(b2, idx, IMAGE)
        via_table = media_dedup_against_table(b2, table, IMAGE)
        assert sorted(r["media_id"] for r in via_table.collect()) == \
               sorted(r["media_id"] for r in via_parquet.collect()) == [11]

        plan_table = via_table._jdf.queryExecution().executedPlan().toString()
        plan_parquet = via_parquet._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_table
        assert plan_table.count("Exchange") < plan_parquet.count("Exchange")

        # appends preserve the bucket spec and stay visible to the gate
        append_media_to_table(via_table, table, IMAGE)
        b3 = spark.createDataFrame(
            _media_rows([(20, _phash_target(500, 0) ^ 4)]), MEDIA_SCHEMA
        )
        assert media_dedup_against_table(b3, table, IMAGE).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    # geometry guard at bucketize time
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([(1,)], "band_key: long").write.parquet(legacy)
    with pytest.raises(ValueError, match="geometry"):
        bucketize_media_index(spark, legacy, "phash_bucketed_guard", IMAGE)


def test_audio_gate_and_modality_guard(spark, tmp_path):
    """The audio fingerprint gate rejects verified near-dups only (no
    band-saturation false rejects), MP3 refusals survive unindexed, and
    an image-modality index refuses loudly when passed to the audio
    gate (and vice versa)."""
    from railgun_spark.operators.phash import _phash_wav

    idx = str(tmp_path / "audio_bands")
    h = _phash_target(7, 0)
    b1 = spark.createDataFrame(
        [(1, "audio", bytearray(_phash_wav(h)), {}),
         (2, "audio", bytearray(_phash_wav(h ^ 2)), {}),  # intra near-dup
         (3, "audio", bytearray(_phash_wav(_phash_target(60, 3))), {}),
         (4, "audio", bytearray(b"ID3\x04"), {})],  # MP3: refusal survives
        MEDIA_SCHEMA,
    )
    s1 = media_dedup_against_index(b1, idx, AUDIO)
    assert sorted(r["media_id"] for r in s1.collect()) == [1, 3, 4]
    append_media_to_index(s1, idx, AUDIO)
    assert spark.read.parquet(idx).count() == 2 * 4  # clip 4 not indexed

    b2 = spark.createDataFrame(
        [(10, "audio", bytearray(_phash_wav(h ^ 4)), {}),  # vs index
         (11, "audio", bytearray(_phash_wav(_phash_target(61, 0))), {})],
        MEDIA_SCHEMA,
    )
    s2 = media_dedup_against_index(b2, idx, AUDIO)
    assert sorted(r["media_id"] for r in s2.collect()) == [11]

    # modality guard both ways
    img_idx = str(tmp_path / "img_bands")
    imgs = spark.createDataFrame(
        _media_rows([(50, _phash_target(80, 0))]), MEDIA_SCHEMA
    )
    append_media_to_index(
        media_dedup_against_index(imgs, img_idx, IMAGE), img_idx, IMAGE,
    )
    with pytest.raises(ValueError, match="modality"):
        media_dedup_against_index(b2, img_idx, AUDIO).collect()
    with pytest.raises(ValueError, match="modality"):
        media_dedup_against_index(imgs, idx, IMAGE).collect()


def test_ingest_audio_batch_and_stream(spark, tmp_path):
    """ingest_media_batch(AUDIO) admits one clip per fingerprint near-dup class;
    the streaming drain over the same index admits nothing new; the
    batch replay after a committed index skips the write."""
    import shutil

    from railgun_spark.operators.phash import _phash_wav

    h = _phash_target(33, 0)
    rows = [(1, "audio", bytearray(_phash_wav(h)), {}),
            (2, "audio", bytearray(_phash_wav(h ^ 1)), {}),
            (3, "audio", bytearray(_phash_wav(_phash_target(44, 0))), {})]
    idx, sink = str(tmp_path / "idx"), str(tmp_path / "clips")
    n = ingest_media_batch(
        spark.createDataFrame(rows, MEDIA_SCHEMA), idx, sink, AUDIO, batch_id=0,
    )
    assert n == 2

    src = tmp_path / "arriving"
    src.mkdir()
    stage = tmp_path / "stage"
    spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1).write.parquet(str(stage))
    shutil.move(str(next(stage.glob("part-*.parquet"))), str(src / "s0.parquet"))
    admitted = stream_ingest_media_availablenow(
        spark, str(src), index_path=idx, sink_path=str(tmp_path / "clips2"),
        checkpoint_dir=str(tmp_path / "ckpt"), family=AUDIO,
    )
    assert admitted == 0  # everything already in the index


def test_phash_index_compaction_preserves_gate(spark, tmp_path):
    """dedup.compact_index folds replay-duplicated perceptual band rows
    (multi-column layout: band_key, dhash, bits, mod) without changing
    gate decisions."""
    from railgun_spark.operators.dedup import compact_index

    idx = str(tmp_path / "bands")
    h = _phash_target(11, 0)
    batch = spark.createDataFrame(_media_rows([(1, h)]), MEDIA_SCHEMA)
    s = media_dedup_against_index(batch, idx, IMAGE)
    append_media_to_index(s, idx, IMAGE)
    append_media_to_index(s, idx, IMAGE)  # replayed append: physical dups
    assert spark.read.parquet(idx).count() == 2 * PHASH_BANDS

    assert compact_index(spark, idx) == PHASH_BANDS  # distinct rows only
    compacted = spark.read.parquet(idx)
    assert compacted.count() == PHASH_BANDS
    assert set(compacted.columns) == {"band_key", "dhash", "bits", "mod"}

    # gate decisions unchanged after the rewrite
    probe = spark.createDataFrame(
        _media_rows([(9, h ^ 1), (10, _phash_target(90, 0))]), MEDIA_SCHEMA
    )
    assert sorted(
        r["media_id"] for r in media_dedup_against_index(probe, idx, IMAGE).collect()
    ) == [10]


def test_video_gate_and_ingest(spark, tmp_path):
    """Video ingest gate: frame-aligned verified rejection with the match
    fraction (a 1-of-3-frame match survives; a full near-dup rejects;
    a short clip inside a longer video survives), refusals pass through,
    modality guard fires on a wrong-modality index, streaming drain over
    a committed index admits nothing."""
    import shutil

    from railgun_spark.operators.phash import _phash_y4m

    base = [_phash_target(400 + f, 0) for f in range(3)]
    near = [h ^ (1 << (5 * f + 2)) for f, h in enumerate(base)]
    one_frame = [base[0], _phash_target(950, 0), _phash_target(951, 0)]
    clip = base[:1]
    b1 = spark.createDataFrame(
        [(1, "video", bytearray(_phash_y4m(base)), {}),
         (2, "video", bytearray(_phash_y4m(near)), {}),  # intra reject
         (3, "video", bytearray(_phash_y4m(one_frame)), {}),  # 1/3: survives
         (4, "video", bytearray(b"RIFF....AVI JUNK"), {})],  # refusal survives
        MEDIA_SCHEMA,
    )
    idx, sink = str(tmp_path / "vidx"), str(tmp_path / "vids")
    n = ingest_media_batch(
        spark.createDataFrame(b1.collect(), MEDIA_SCHEMA), idx, sink, VIDEO,
        batch_id=0, every_n=1,
    )
    assert n == 3  # 1, 3, 4 admitted; 2 rejected intra-batch

    # second batch: near-dup of an ADMITTED video rejects; the short
    # clip (1 of 3 aligned frames) survives the fraction filter
    b2 = spark.createDataFrame(
        [(10, "video", bytearray(_phash_y4m([h ^ 8 for h in base])), {}),
         (11, "video", bytearray(_phash_y4m(clip)), {})],
        MEDIA_SCHEMA,
    )
    s2 = media_dedup_against_index(b2, idx, VIDEO, every_n=1)
    assert sorted(r["media_id"] for r in s2.collect()) == [11]
    append_media_to_index(s2, idx, VIDEO, every_n=1)

    # modality guard: the video gate refuses an image index
    img_idx = str(tmp_path / "iidx")
    imgs = spark.createDataFrame(
        _media_rows([(50, _phash_target(85, 0))]), MEDIA_SCHEMA
    )

    append_media_to_index(
        media_dedup_against_index(imgs, img_idx, IMAGE), img_idx, IMAGE,
    )
    with pytest.raises(ValueError, match="modality"):
        media_dedup_against_index(b2, img_idx, VIDEO, every_n=1).collect()

    # streaming drain over the committed index: everything already seen
    src = tmp_path / "arriving"
    src.mkdir()
    stage = tmp_path / "stage"
    spark.createDataFrame(
        [(20, "video", bytearray(_phash_y4m([h ^ 16 for h in base])), {})],
        MEDIA_SCHEMA,
    ).coalesce(1).write.parquet(str(stage))
    shutil.move(str(next(stage.glob("part-*.parquet"))), str(src / "s0.parquet"))
    admitted = stream_ingest_media_availablenow(
        spark, str(src), index_path=idx, sink_path=str(tmp_path / "vids2"),
        checkpoint_dir=str(tmp_path / "ckpt"), every_n=1, family=VIDEO,
    )
    assert admitted == 0


def test_bucketed_audio_and_video_indexes(spark, tmp_path):
    """The bucketed audio/video band tables admit exactly the parquet
    gates' sets with fewer exchanges (index side scans in place —
    including the video gate's (frame_idx, band_key) join, whose
    clustered distribution HashPartitioning(band_key) satisfies)."""
    from railgun_spark.operators.phash import (
        _phash_wav,
        _phash_y4m,
    )

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # ---- audio ----
        h = _phash_target(13, 0)
        aidx = str(tmp_path / "aidx")
        a1 = spark.createDataFrame(
            [(1, "audio", bytearray(_phash_wav(h)), {}),
             (2, "audio", bytearray(_phash_wav(_phash_target(70, 3))), {})],
            MEDIA_SCHEMA,
        )
        append_media_to_index(media_dedup_against_index(a1, aidx, AUDIO), aidx, AUDIO)
        import shutil

        atable = "phash_audio_bucketed_test"
        spark.sql(f"DROP TABLE IF EXISTS {atable}")
        shutil.rmtree(f"spark-warehouse/{atable}", ignore_errors=True)
        assert bucketize_media_index(
            spark, aidx, atable, AUDIO, n_buckets=8,
        ) == 2 * PHASH_BANDS
        a2 = spark.createDataFrame(
            [(10, "audio", bytearray(_phash_wav(h ^ 2)), {}),
             (11, "audio", bytearray(_phash_wav(_phash_target(71, 0))), {})],
            MEDIA_SCHEMA,
        )
        via_p = media_dedup_against_index(a2, aidx, AUDIO)
        via_t = media_dedup_against_table(a2, atable, AUDIO)
        assert sorted(r["media_id"] for r in via_t.collect()) == \
               sorted(r["media_id"] for r in via_p.collect()) == [11]
        plan_t = via_t._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_t
        assert plan_t.count("Exchange") < via_p._jdf.queryExecution(
        ).executedPlan().toString().count("Exchange")
        append_media_to_table(via_t, atable, AUDIO)
        a3 = spark.createDataFrame(
            [(20, "audio", bytearray(_phash_wav(_phash_target(71, 0) ^ 1)), {})],
            MEDIA_SCHEMA,
        )
        assert media_dedup_against_table(a3, atable, AUDIO).count() == 0
        spark.sql(f"DROP TABLE IF EXISTS {atable}")

        # ---- video ----
        base = [_phash_target(500 + f, 0) for f in range(3)]
        vidx = str(tmp_path / "vidx")
        v1 = spark.createDataFrame(
            [(1, "video", bytearray(_phash_y4m(base)), {})], MEDIA_SCHEMA
        )
        append_media_to_index(
            media_dedup_against_index(v1, vidx, VIDEO, every_n=1), vidx, VIDEO,
            every_n=1,
        )
        vtable = "phash_video_bucketed_test"
        spark.sql(f"DROP TABLE IF EXISTS {vtable}")
        shutil.rmtree(f"spark-warehouse/{vtable}", ignore_errors=True)
        assert bucketize_media_index(
            spark, vidx, vtable, VIDEO, n_buckets=8,
        ) == 3 * PHASH_BANDS
        v2 = spark.createDataFrame(
            [(10, "video", bytearray(_phash_y4m([x ^ 4 for x in base])), {}),
             (11, "video", bytearray(
                 _phash_y4m([_phash_target(600 + f, 0) for f in range(3)])), {})],
            MEDIA_SCHEMA,
        )
        via_p = media_dedup_against_index(v2, vidx, VIDEO, every_n=1)
        via_t = media_dedup_against_table(v2, vtable, VIDEO, every_n=1)
        assert sorted(r["media_id"] for r in via_t.collect()) == \
               sorted(r["media_id"] for r in via_p.collect()) == [11]
        plan_t = via_t._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_t
        assert plan_t.count("Exchange") < via_p._jdf.queryExecution(
        ).executedPlan().toString().count("Exchange")
        append_media_to_table(via_t, vtable, VIDEO, every_n=1)
        v3 = spark.createDataFrame(
            [(20, "video", bytearray(
                _phash_y4m([_phash_target(600 + f, 0) ^ 8 for f in range(3)])), {})],
            MEDIA_SCHEMA,
        )
        assert media_dedup_against_table(v3, vtable, VIDEO, every_n=1).count() == 0
        spark.sql(f"DROP TABLE IF EXISTS {vtable}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_wide_block_dhash_kernel_and_craft():
    """block_dhash256 is deterministic, pixel-doubling-invariant on the
    17x16 grid, and the crafted 34x32 PGM recovers all four predicted
    words bit-for-bit across variants."""
    from railgun_spark.operators.multimodal import decode_image_raster
    from railgun_spark.operators.phash import (
        _phash_wide_pgm,
        _phash_wide_target,
        block_dhash256,
    )

    rng = _rng(3)
    img = rng.randint(0, 256, size=(48, 64, 3)).astype("float64")
    assert block_dhash256(img) == block_dhash256(img.copy())
    on_grid = rng.randint(0, 256, size=(16, 17, 3)).astype("float64")
    assert block_dhash256(np.repeat(np.repeat(on_grid, 2, 0), 2, 1)) == \
        block_dhash256(on_grid)

    for g, v in ((0, 0), (4, 1), (12, 2), (33, 3)):
        words = _phash_wide_target(g, v)
        got = [
            w & ((1 << 64) - 1)
            for w in block_dhash256(decode_image_raster(_phash_wide_pgm(words)))
        ]
        assert got == words, (g, v)

    # variant distances: 4 / 8 / 12 within the budget, v3 at 64 outside
    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    t = {v: _phash_wide_target(9, v) for v in range(4)}
    assert (ham(t[0], t[1]), ham(t[0], t[2]), ham(t[1], t[2])) == (4, 8, 12)
    assert ham(t[0], t[3]) == 64


def test_wide_pairs_lossless_vs_brute_force(spark):
    """The 16-band pigeonhole join equals the brute-force 256-bit
    hamming <= 15 definition on adversarial word sets (band-boundary
    flips, sign bits, cross-word spreads); the coarse 8x32 banding equals
    it at hamming <= 7 and refuses 8."""
    from railgun_spark.operators.phash import PHASH_WIDE_MAX_HAMMING

    rng = _rng(29)
    quads = []
    for _ in range(8):
        quads.append([int(rng.randint(0, 1 << 62)) for _ in range(4)])
    quads.append([(1 << 63) - 1] * 4)
    quads.append([-(1 << 63) & ((1 << 64) - 1)] * 4)  # sign bit each word
    rows, vals, i = [], {}, 0

    def add(ws):
        nonlocal i
        vals[i] = [w & ((1 << 64) - 1) for w in ws]
        signed = [w - (1 << 64) if w >= (1 << 63) else w for w in vals[i]]
        rows.append((i, *signed, None))
        i += 1

    for q in quads:
        add(q)
        add([q[0] ^ (1 << 15), q[1], q[2], q[3]])  # band boundary, 1 bit
        # 15 bits spread across all words: still within budget
        add([q[0] ^ 0x1F, q[1] ^ (0xF << 30), q[2] ^ (0x7 << 61), q[3] ^ 0x7])
        add([q[0] ^ 0xFFFF, q[1] ^ 0xFF, q[2], q[3]])  # 24 bits: out

    df = spark.createDataFrame(
        rows, "media_id: long, h0: long, h1: long, h2: long, h3: long, refused: string"
    )

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(vals[a], vals[b]))

    for coarse, budget in ((False, PHASH_WIDE_MAX_HAMMING), (True, 7)):
        got = sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in media_pairs(df, IMAGE_WIDE, coarse=coarse).collect()
        )
        want = sorted(
            (a, b, ham(a, b))
            for a in vals for b in vals
            if a < b and ham(a, b) <= budget
        )
        assert got == want and len(want) >= len(quads)

        with pytest.raises(ValueError, match="lossless"):
            media_pairs(df, IMAGE_WIDE, max_hamming=budget + 1, coarse=coarse)


def test_wide_gate_and_geometry_guard(spark, tmp_path):
    """The wide gate rejects verified 256-bit near-dups only, refusals
    pass through unindexed, replay after the append skips the write, and
    narrow/wide indexes refuse each other loudly."""
    from railgun_spark.operators.phash import (
        _phash_wide_pgm,
        _phash_wide_target,
    )

    def wrows(ids_gv):
        return [
            (mid, "image", bytearray(_phash_wide_pgm(_phash_wide_target(g, v))), {})
            for mid, g, v in ids_gv
        ]

    idx = str(tmp_path / "wide_bands")
    b1 = spark.createDataFrame(
        wrows([(1, 5, 0), (2, 5, 2), (3, 40, 0)])  # 2 is hamming-8 of 1
        + [(4, "image", bytearray(b"JUNK"), {})][0:1],
        MEDIA_SCHEMA,
    )
    s1 = media_dedup_against_index(b1, idx, IMAGE_WIDE)
    assert sorted(r["media_id"] for r in s1.collect()) == [1, 3, 4]
    append_media_to_index(s1, idx, IMAGE_WIDE)
    from railgun_spark.operators.phash import PHASH_WIDE_BANDS

    assert spark.read.parquet(idx).count() == 2 * PHASH_WIDE_BANDS

    # near-dup of an admitted image rejects; v3 (64 bits away) admits
    b2 = spark.createDataFrame(
        wrows([(10, 5, 1), (11, 40, 3)]), MEDIA_SCHEMA
    )
    s2 = media_dedup_against_index(b2, idx, IMAGE_WIDE)
    assert sorted(r["media_id"] for r in s2.collect()) == [11]

    # ingest twin: mixed-batch replay discipline holds for the wide gate
    sink = str(tmp_path / "sink")
    batch = spark.createDataFrame(
        wrows([(20, 77, 0)]) + [(21, "image", bytearray(b"JUNK"), {})],
        MEDIA_SCHEMA,
    )
    assert ingest_media_batch(batch, idx, sink, IMAGE_WIDE, batch_id=0) == 2
    assert ingest_media_batch(batch, idx, sink, IMAGE_WIDE, batch_id=0) == 0
    kept = sorted(
        r["media_id"]
        for r in spark.read.option("basePath", sink).parquet(sink).collect()
    )
    assert kept == [20, 21]

    # modality guard both ways: narrow gate refuses a wide index and
    # vice versa
    imgs = spark.createDataFrame(_media_rows([(50, _phash_target(80, 0))]), MEDIA_SCHEMA)
    # the wide index lacks the narrow layout's dhash column, so the narrow
    # gate fails closed on geometry before it can reach the modality check
    with pytest.raises(ValueError, match="geometry|modality"):
        media_dedup_against_index(imgs, idx, IMAGE).collect()
    narrow_idx = str(tmp_path / "narrow_bands")
    append_media_to_index(
        media_dedup_against_index(imgs, narrow_idx, IMAGE), narrow_idx, IMAGE,
    )
    with pytest.raises(ValueError, match="geometry|modality"):
        media_dedup_against_index(b2, narrow_idx, IMAGE_WIDE).collect()


def test_video_offset_pairs_and_gate(spark, tmp_path):
    """Offset-tolerant video matching: a front-trimmed copy qualifies at
    its true shift (which the frame-ALIGNED mode misses), a half-noise
    variant at no shift; the offset gate rejects a trimmed re-upload of
    an indexed video against the SAME index the aligned gate writes."""
    from railgun_spark.operators.phash import (
        _phash_y4m,
        video_perceptual_hashes,
    )

    base = [_phash_target(700 + f, 0) for f in range(4)]
    trimmed = [h ^ 1 for h in base[1:]]  # front-trim 1, 1 bit per frame
    noise = [base[1], base[2]] + [_phash_target(980 + f, 0) for f in range(2)]
    rows = [
        (1, "video", bytearray(_phash_y4m(base)), {}),
        (2, "video", bytearray(_phash_y4m(trimmed)), {}),
        (3, "video", bytearray(_phash_y4m(noise)), {}),  # 2/4 at off -1: fails
    ]
    fh = video_perceptual_hashes(
        spark.createDataFrame(rows, MEDIA_SCHEMA), every_n=1
    )
    got = {
        (r["id_a"], r["id_b"]): (r["frame_offset"], r["n_match"], r["n_small"])
        for r in media_pairs(fh, VIDEO, offset_tolerant=True).collect()
    }
    # pair (1,2): video 1's frame f+1 matches video 2's frame f -> off +1,
    # all 3 of the smaller signature's frames
    assert got == {(1, 2): (1, 3, 3)}
    # the aligned mode misses the trimmed copy entirely
    assert media_pairs(fh, VIDEO).count() == 0

    with pytest.raises(ValueError, match="lossless"):
        media_pairs(fh, VIDEO, max_hamming=PHASH_BANDS, offset_tolerant=True)

    # gate: index video 1 through the ALIGNED gate's append, then an
    # offset-gated batch must reject the trimmed re-upload and admit the
    # half-noise clip; the aligned gate admits both (documented miss)
    idx = str(tmp_path / "vidx")
    b1 = spark.createDataFrame(rows[:1], MEDIA_SCHEMA)
    s1 = media_dedup_against_index(b1, idx, VIDEO, every_n=1)
    append_media_to_index(s1, idx, VIDEO, every_n=1)
    b2 = spark.createDataFrame(
        [(10, "video", bytearray(_phash_y4m(trimmed)), {}),
         (11, "video", bytearray(_phash_y4m(noise)), {}),
         (12, "video", bytearray(b"RIFF....AVI JUNK"), {})],  # refusal survives
        MEDIA_SCHEMA,
    )
    off_s = media_dedup_against_index(b2, idx, VIDEO, every_n=1, offset_tolerant=True)
    assert sorted(r["media_id"] for r in off_s.collect()) == [11, 12]
    aligned_s = media_dedup_against_index(b2, idx, VIDEO, every_n=1)
    assert sorted(r["media_id"] for r in aligned_s.collect()) == [10, 11, 12]

    # intra-batch: a trimmed copy of a smaller-id batch video rejects
    b3 = spark.createDataFrame(
        [(20, "video", bytearray(_phash_y4m([_phash_target(880 + f, 0) for f in range(4)])), {}),
         (21, "video", bytearray(_phash_y4m([_phash_target(881 + f, 0) ^ 2 for f in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    s3 = media_dedup_against_index(
        b3, str(tmp_path / "fresh"), VIDEO, every_n=1, offset_tolerant=True,
    )
    assert sorted(r["media_id"] for r in s3.collect()) == [20]


@pytest.mark.slow
@pytest.mark.parametrize(
    "modality", ["audio", "video", "image_wide", "audio_chunk"]
)
def test_stream_ingest_soak_media_gate(spark, tmp_path, modality):
    """Audio/video/wide-image gate soak (slow, ~1-2 min each; r13 VERDICT
    #4 — the image gate's injected-crash soak generalized): 12
    availableNow micro-batches with two crash/replay windows at batch
    boundaries 5 (sink written, index lost) and 8 (index committed,
    checkpoint lost). Every shard carries a pass-through (decode-refused)
    row, so window 2's replay exercises the r14 mixed-batch discipline:
    the admitted content set must still equal the batch-backfill ground
    truth, and per-batch walls must not grow with index size."""
    import glob
    import os
    import shutil
    import time

    from railgun_spark.operators.phash import (
        _phash_wav,
        _phash_wav_chunks,
        _phash_wide_pgm,
        _phash_y4m,
    )
    from railgun_spark.streaming.ingest import (
        _drain_availablenow,
        _write_sink,
    )

    n_shards = 12
    kind = {"image_wide": "image", "audio_chunk": "audio"}.get(modality, modality)

    def fresh_hash(k: int, j: int) -> int:
        return _phash_target(3000 + k * 2 + j, 0)

    if modality == "audio_chunk":
        # offset-tolerant chunked mode: two-chunk clips, trim-robust gate
        payload = lambda h: _phash_wav_chunks([h, h ^ 2])  # noqa: E731
        refuse = lambda k: b"ID3\x05" + bytes([k])  # noqa: E731
        family, knobs = AUDIO_CHUNK, {"offset_tolerant": True}
    elif modality == "audio":
        payload = lambda h: _phash_wav(h)  # noqa: E731
        refuse = lambda k: b"ID3\x04" + bytes([k])  # noqa: E731
        family, knobs = AUDIO, {}
    elif modality == "video":
        payload = lambda h: _phash_y4m([h, h ^ 2])  # noqa: E731
        refuse = lambda k: b"RIFF....AVI " + bytes([k])  # noqa: E731
        family, knobs = VIDEO, {"every_n": 1}
    else:  # image_wide: 64-bit targets widen to 4 words (word 0 = h)
        payload = lambda h: _phash_wide_pgm([h, h ^ 3, h ^ 5, h ^ 9])  # noqa: E731
        refuse = lambda k: b"JUNK" + bytes([k])  # noqa: E731
        family, knobs = IMAGE_WIDE, {}

    def ingest(df, batch_id):
        return ingest_media_batch(df, idx, sink, family, batch_id=batch_id, **knobs)

    def gate_direct(df, b_idx, b_sink):
        return ingest_media_batch(df, b_idx, b_sink, family, batch_id=None, **knobs)

    def shard_rows(k: int):
        rows = [
            (100 * k + j, kind, bytearray(payload(fresh_hash(k, j))), {})
            for j in (0, 1)
        ]
        # intra-shard near-dup (higher id -> greedy rejection)
        rows.append((100 * k + 60, kind,
                     bytearray(payload(fresh_hash(k, 0) ^ (1 << ((k + 5) % 60)))), {}))
        if k > 0:  # near-dup of the PREVIOUS shard's admitted clip
            rows.append((100 * k + 50, kind,
                         bytearray(payload(fresh_hash(k - 1, 0) ^ (1 << (k % 60)))), {}))
        rows.append((100 * k + 70, kind, bytearray(refuse(k)), {}))
        return rows

    src = tmp_path / "arriving"
    src.mkdir()

    def ship(k: int) -> None:
        stage = tmp_path / f"__s{k}"
        spark.createDataFrame(shard_rows(k), MEDIA_SCHEMA).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dest = src / f"shard{k:02d}.parquet"
        shutil.move(part, str(dest))
        os.utime(dest, (1_700_000_000 + k, 1_700_000_000 + k))

    idx, sink, ckpt = (str(tmp_path / p) for p in ("idx", "sink", "ckpt"))
    walls: list[float] = []

    def gate(batch_df, batch_id):
        t0 = time.time()
        n = ingest(batch_df, batch_id)
        walls.append(time.time() - t0)
        return n

    def drain():
        return _drain_availablenow(spark, str(src), MEDIA_SCHEMA, ckpt, 1, gate)

    admitted = 0
    for k in range(5):
        ship(k)
    admitted += drain()  # batches 0..4

    # CRASH WINDOW 1 at boundary 5: sink partition written, index lost
    ship(5)
    crashed = media_dedup_against_index(
        spark.read.parquet(str(src / "shard05.parquet")), idx, family, **knobs
    )
    _write_sink(crashed, sink, batch_id=5)
    for k in range(6, 8):
        ship(k)
    admitted += drain()  # batches 5..7 (5 is a replay)

    # CRASH WINDOW 2 at boundary 8: index committed, checkpoint lost —
    # the replay batch is MIXED (pass-through refusal + rejected
    # decodables) and must not clobber the written partition
    ship(8)
    n8 = ingest(spark.read.parquet(str(src / "shard08.parquet")), 8)
    assert n8 == 3  # 2 fresh + 1 refused pass-through
    for k in range(9, n_shards):
        ship(k)
    admitted += drain()  # batches 8..11 (8 replays to 0)

    assert len(walls) == n_shards
    got = sorted(
        bytes(r["content"]) for r in spark.read.parquet(sink).collect()
    )
    want = sorted(
        [bytes(payload(fresh_hash(k, j))) for k in range(n_shards) for j in (0, 1)]
        + [bytes(refuse(k)) for k in range(n_shards)]
    )
    assert got == want  # one copy per class + every pass-through row
    # per drained batch: 2 fresh + 1 refusal admitted, except window-2's
    # replay (0)
    assert admitted == 3 * n_shards - 3

    # batch-backfill ground truth: same shards, direct gate calls
    b_idx, b_sink = str(tmp_path / "b_idx"), str(tmp_path / "b_sink")

    def backfill_gate(df):
        return gate_direct(df, b_idx, b_sink)

    for k in range(n_shards):
        backfill_gate(spark.createDataFrame(shard_rows(k), MEDIA_SCHEMA))
    backfill = sorted(
        bytes(r["content"]) for r in spark.read.parquet(b_sink).collect()
    )
    assert got == backfill

    print(f"{modality.upper()}_SOAK_WALLS " + " ".join(f"{w:.2f}" for w in walls))
    first = sum(walls[:4]) / 4
    last = sum(walls[-4:]) / 4
    assert last <= 3 * first, (first, last, walls)


def test_wide_stream_and_bucketed_index(spark, tmp_path):
    """The wide gate's streaming drain admits one image per 256-bit
    near-dup class, and the bucketed wide band table admits exactly the
    parquet gate's set with fewer exchanges (index side scans in
    place)."""
    import shutil

    from railgun_spark.operators.phash import (
        PHASH_WIDE_BANDS,
        _phash_wide_pgm,
        _phash_wide_target,
    )

    def wrow(mid, g, v):
        return (mid, "image",
                bytearray(_phash_wide_pgm(_phash_wide_target(g, v))), {})

    # streaming drain: shard 0 = base + its hamming-4 variant (one
    # admits); shard 1 = near-dup of shard 0's admit + a fresh image
    shards = [
        [wrow(1, 11, 0), wrow(2, 11, 1)],
        [wrow(10, 11, 2), wrow(11, 90, 0)],
    ]
    src = tmp_path / "arriving"
    src.mkdir()
    for i, rows in enumerate(shards):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1).write.parquet(
            str(stage)
        )
        shutil.move(
            str(next(stage.glob("part-*.parquet"))), str(src / f"s{i}.parquet")
        )
    idx, sink = str(tmp_path / "widx"), str(tmp_path / "wsink")
    admitted = stream_ingest_media_availablenow(
        spark, str(src), index_path=idx, sink_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"), family=IMAGE_WIDE,
    )
    assert admitted == 2  # ids 1 and 11
    got = spark.read.option("basePath", sink).parquet(sink)
    assert sorted(r["media_id"] for r in got.collect()) == [1, 11]

    # bucketed table: same decisions, fewer exchanges
    table = "phash_wide_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"spark-warehouse/{table}", ignore_errors=True)
    assert bucketize_media_index(spark, idx, table, IMAGE_WIDE, n_buckets=8) == \
        2 * PHASH_WIDE_BANDS
    probe = spark.createDataFrame(
        [wrow(20, 90, 1), wrow(21, 500, 0)], MEDIA_SCHEMA
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        via_p = media_dedup_against_index(probe, idx, IMAGE_WIDE)
        via_t = media_dedup_against_table(probe, table, IMAGE_WIDE)
        assert sorted(r["media_id"] for r in via_t.collect()) == \
               sorted(r["media_id"] for r in via_p.collect()) == [21]
        plan_t = via_t._jdf.queryExecution().executedPlan().toString()
        plan_p = via_p._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_t
        assert plan_t.count("Exchange") < plan_p.count("Exchange")
        # appends preserve the bucket spec and stay visible
        append_media_to_table(via_t, table, IMAGE_WIDE)
        probe2 = spark.createDataFrame([wrow(30, 500, 1)], MEDIA_SCHEMA)
        assert media_dedup_against_table(probe2, table, IMAGE_WIDE).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    # geometry guard at bucketize time: a NARROW index refuses
    narrow_idx = str(tmp_path / "nidx")

    imgs = spark.createDataFrame(_media_rows([(50, _phash_target(81, 0))]), MEDIA_SCHEMA)
    append_media_to_index(
        media_dedup_against_index(imgs, narrow_idx, IMAGE), narrow_idx, IMAGE,
    )
    with pytest.raises(ValueError, match="geometry|modality"):
        bucketize_media_index(spark, narrow_idx, "phash_wide_guard", IMAGE_WIDE)


def test_offset_tolerant_video_ingest(spark, tmp_path):
    """ingest_media_batch(VIDEO, offset_tolerant=True): a trimmed re-upload of
    an ADMITTED video rejects in the next batch, the replay-after-append
    discipline still holds, and the same index keeps serving the aligned
    mode."""
    from railgun_spark.operators.phash import _phash_y4m

    base = [_phash_target(810 + f, 0) for f in range(4)]
    trimmed = [h ^ 4 for h in base[1:]]
    idx, sink = str(tmp_path / "idx"), str(tmp_path / "sink")
    b1 = spark.createDataFrame(
        [(1, "video", bytearray(_phash_y4m(base)), {})], MEDIA_SCHEMA
    )
    assert ingest_media_batch(
        b1, idx, sink, VIDEO, batch_id=0, every_n=1, offset_tolerant=True,
    ) == 1

    b2 = spark.createDataFrame(
        [(10, "video", bytearray(_phash_y4m(trimmed)), {}),  # trim: reject
         (11, "video", bytearray(
             _phash_y4m([_phash_target(910 + f, 0) for f in range(3)])), {}),
         (12, "video", bytearray(b"RIFF....AVI JUNK"), {})],  # pass-through
        MEDIA_SCHEMA,
    )
    assert ingest_media_batch(
        b2, idx, sink, VIDEO, batch_id=1, every_n=1, offset_tolerant=True,
    ) == 2  # 11 + the refusal; 10 rejected at offset +1

    # replay of batch 1 after its append: mixed-batch skip still holds
    assert ingest_media_batch(
        b2, idx, sink, VIDEO, batch_id=1, every_n=1, offset_tolerant=True,
    ) == 0
    kept = sorted(
        r["media_id"]
        for r in spark.read.option("basePath", sink).parquet(sink).collect()
    )
    assert kept == [1, 11, 12]

    # the SAME index still serves the aligned mode
    b3 = spark.createDataFrame(
        [(20, "video", bytearray(_phash_y4m([h ^ 1 for h in base])), {})],
        MEDIA_SCHEMA,
    )
    assert media_dedup_against_index(b3, idx, VIDEO, every_n=1).count() == 0


def test_compaction_preserves_wide_and_video_indexes(spark, tmp_path):
    """dedup.compact_index folds replay-duplicated rows of the WIDE
    (band_key, h0..h3, bits, mod) and VIDEO (vid, n_frames, frame_idx,
    band_key, dhash, bits, mod) layouts without changing gate
    decisions."""
    from railgun_spark.operators.dedup import compact_index
    from railgun_spark.operators.phash import (
        PHASH_WIDE_BANDS,
        _phash_wide_pgm,
        _phash_wide_target,
        _phash_y4m,
    )

    # wide image index
    widx = str(tmp_path / "widx")
    wbatch = spark.createDataFrame(
        [(1, "image", bytearray(_phash_wide_pgm(_phash_wide_target(3, 0))), {})],
        MEDIA_SCHEMA,
    )
    ws = media_dedup_against_index(wbatch, widx, IMAGE_WIDE)
    append_media_to_index(ws, widx, IMAGE_WIDE)
    append_media_to_index(ws, widx, IMAGE_WIDE)  # replayed append
    assert spark.read.parquet(widx).count() == 2 * PHASH_WIDE_BANDS
    assert compact_index(spark, widx) == PHASH_WIDE_BANDS
    probe = spark.createDataFrame(
        [(9, "image", bytearray(_phash_wide_pgm(_phash_wide_target(3, 1))), {}),
         (10, "image", bytearray(_phash_wide_pgm(_phash_wide_target(3, 3))), {})],
        MEDIA_SCHEMA,
    )
    assert sorted(
        r["media_id"]
        for r in media_dedup_against_index(probe, widx, IMAGE_WIDE).collect()
    ) == [10]

    # video index (per-frame rows)
    vidx = str(tmp_path / "vidx")
    base = [_phash_target(860 + f, 0) for f in range(3)]
    vbatch = spark.createDataFrame(
        [(1, "video", bytearray(_phash_y4m(base)), {})], MEDIA_SCHEMA
    )
    vs = media_dedup_against_index(vbatch, vidx, VIDEO, every_n=1)
    append_media_to_index(vs, vidx, VIDEO, every_n=1)
    append_media_to_index(vs, vidx, VIDEO, every_n=1)
    assert spark.read.parquet(vidx).count() == 2 * 3 * PHASH_BANDS
    assert compact_index(spark, vidx) == 3 * PHASH_BANDS
    vprobe = spark.createDataFrame(
        [(9, "video", bytearray(_phash_y4m([h ^ 1 for h in base])), {}),
         (10, "video", bytearray(
             _phash_y4m([_phash_target(960 + f, 0) for f in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    assert sorted(
        r["media_id"]
        for r in media_dedup_against_index(vprobe, vidx, VIDEO, every_n=1).collect()
    ) == [10]


def test_bucketed_offset_video_index(spark, tmp_path):
    """The chunk_key-bucketed offset table admits exactly the parquet
    offset gate's set with fewer exchanges (the derived-key join that
    forces the parquet index to shuffle scans in place here)."""
    import shutil

    from railgun_spark.operators.phash import _phash_y4m

    base = [_phash_target(1100 + f, 0) for f in range(4)]
    idx = str(tmp_path / "vidx")
    v1 = spark.createDataFrame(
        [(1, "video", bytearray(_phash_y4m(base)), {})], MEDIA_SCHEMA
    )
    append_media_to_index(
        media_dedup_against_index(v1, idx, VIDEO, every_n=1), idx, VIDEO, every_n=1,
    )

    table = "phash_video_offset_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"spark-warehouse/{table}", ignore_errors=True)
    assert bucketize_media_index(
        spark, idx, table, VIDEO, n_buckets=8, offset_tolerant=True,
    ) == 4 * PHASH_BANDS

    probe = spark.createDataFrame(
        [(10, "video", bytearray(_phash_y4m([h ^ 2 for h in base[1:]])), {}),
         (11, "video", bytearray(
             _phash_y4m([_phash_target(1200 + f, 0) for f in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        via_p = media_dedup_against_index(
            probe, idx, VIDEO, every_n=1, offset_tolerant=True,
        )
        via_t = media_dedup_against_table(
            probe, table, VIDEO, every_n=1, offset_tolerant=True,
        )
        assert sorted(r["media_id"] for r in via_t.collect()) == \
               sorted(r["media_id"] for r in via_p.collect()) == [11]
        plan_t = via_t._jdf.queryExecution().executedPlan().toString()
        plan_p = via_p._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_t
        assert plan_t.count("Exchange") < plan_p.count("Exchange")
        # appends preserve the bucket spec and stay visible
        append_media_to_table(via_t, table, VIDEO, every_n=1, offset_tolerant=True)
        probe2 = spark.createDataFrame(
            [(20, "video", bytearray(
                _phash_y4m([_phash_target(1201 + f, 0) ^ 1 for f in range(2)])), {})],
            MEDIA_SCHEMA,
        )
        assert media_dedup_against_table(
            probe2, table, VIDEO, every_n=1, offset_tolerant=True,
        ).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_audio_chunk_fingerprints_kernel_and_refusals(spark):
    """Chunked audio fingerprints: per-chunk crafted hashes recover
    bit-for-bit, a trailing partial chunk is dropped, sub-chunk clips
    and codec-bound payloads record one refusal row each."""
    import struct

    from railgun_spark.operators.phash import (
        AUDIO_CHUNK_SAMPLES,
        _phash_wav_chunks,
        audio_chunk_fingerprints,
    )

    def wav_of_pcm(pcm: bytes) -> bytes:
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(pcm)) + pcm)

    hs = [_phash_target(500 + k, 0) for k in range(3)]
    full = _phash_wav_chunks(hs)
    # carve the raw PCM back out (header is 44 bytes) to craft the
    # ragged variants
    pcm = full[44:]
    ragged = wav_of_pcm(pcm + pcm[: AUDIO_CHUNK_SAMPLES])  # +half chunk
    short = wav_of_pcm(pcm[: AUDIO_CHUNK_SAMPLES])  # half a chunk
    rows = [
        (1, "audio", bytearray(full), {}),
        (2, "audio", bytearray(ragged), {}),
        (3, "audio", bytearray(short), {}),
        (4, "audio", bytearray(b"ID3\x03\x00notdecodable"), {}),
        (5, "image", bytearray(b"P5 1 1 255 \x00"), {}),  # non-audio: no row
    ]
    out = audio_chunk_fingerprints(
        spark.createDataFrame(rows, MEDIA_SCHEMA)
    ).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert set(by_id) == {1, 2, 3, 4}
    signed = [h - (1 << 64) if h >= (1 << 63) else h for h in hs]
    assert [r["fhash"] for r in sorted(by_id[1], key=lambda r: r["chunk_idx"])] == signed
    # the ragged clip's full chunks hash identically; the tail is dropped
    assert [r["fhash"] for r in sorted(by_id[2], key=lambda r: r["chunk_idx"])] == signed
    assert len(by_id[3]) == 1 and by_id[3][0]["fhash"] is None
    assert "shorter than one fingerprint chunk" in by_id[3][0]["refused"]
    assert len(by_id[4]) == 1 and by_id[4][0]["refused"] is not None


def test_audio_chunk_offset_pairs_and_gate(spark, tmp_path):
    """Offset-tolerant audio matching: a front-trimmed copy qualifies at
    its true chunk shift (which the GLOBAL whole-clip fingerprint
    provably misses), a half-noise variant at no shift; the offset gate
    rejects a trimmed re-upload of indexed audio against the SAME index
    the aligned chunked gate writes."""
    from railgun_spark.operators.phash import (
        PHASH_MAX_HAMMING,
        _phash_wav_chunks,
        audio_chunk_fingerprints,
        audio_fingerprint64,
    )
    from railgun_spark.operators.multimodal import _audio_pcm_frames

    base = [_phash_target(700 + f, 0) for f in range(4)]
    trimmed = [h ^ 1 for h in base[1:]]  # front-trim 1 chunk, 1 bit per chunk
    noise = [base[1], base[2]] + [_phash_target(980 + f, 0) for f in range(2)]
    rows = [
        (1, "audio", bytearray(_phash_wav_chunks(base)), {}),
        (2, "audio", bytearray(_phash_wav_chunks(trimmed)), {}),
        (3, "audio", bytearray(_phash_wav_chunks(noise)), {}),  # 2/4 at off -1
    ]
    ch = audio_chunk_fingerprints(spark.createDataFrame(rows, MEDIA_SCHEMA))
    got = {
        (r["id_a"], r["id_b"]): (r["chunk_offset"], r["n_match"], r["n_small"])
        for r in media_pairs(ch, AUDIO_CHUNK, offset_tolerant=True)
        .withColumnRenamed("frame_offset", "chunk_offset").collect()
    }
    assert got == {(1, 2): (1, 3, 3)}

    # the motivating gap, pinned: the GLOBAL fingerprint of the trimmed
    # clip sits far outside the hamming budget (length-normalized
    # windows all shift), so the whole-clip pairs/gate never catch it
    gb = audio_fingerprint64(
        _audio_pcm_frames(_phash_wav_chunks(base))[0].mean(axis=1))
    gt = audio_fingerprint64(
        _audio_pcm_frames(_phash_wav_chunks(trimmed))[0].mean(axis=1))
    assert bin(gb ^ gt).count("1") > PHASH_MAX_HAMMING

    with pytest.raises(ValueError, match="lossless"):
        media_pairs(ch, AUDIO_CHUNK, max_hamming=PHASH_BANDS, offset_tolerant=True)

    # gate: index clip 1 through the aligned chunked gate's append; an
    # offset-gated batch must reject the trimmed re-upload and admit the
    # half-noise clip; the aligned chunked gate admits both (documented
    # miss — same-position chunks only)
    idx = str(tmp_path / "acidx")
    b1 = spark.createDataFrame(rows[:1], MEDIA_SCHEMA)
    s1 = media_dedup_against_index(b1, idx, AUDIO_CHUNK)
    append_media_to_index(s1, idx, AUDIO_CHUNK)
    b2 = spark.createDataFrame(
        [(10, "audio", bytearray(_phash_wav_chunks(trimmed)), {}),
         (11, "audio", bytearray(_phash_wav_chunks(noise)), {}),
         (12, "audio", bytearray(b"ID3\x03\x00junk"), {})],  # refusal survives
        MEDIA_SCHEMA,
    )
    off_s = media_dedup_against_index(b2, idx, AUDIO_CHUNK, offset_tolerant=True)
    assert sorted(r["media_id"] for r in off_s.collect()) == [11, 12]
    aligned_s = media_dedup_against_index(b2, idx, AUDIO_CHUNK)
    assert sorted(r["media_id"] for r in aligned_s.collect()) == [10, 11, 12]

    # modality guard: the audio-chunk index must refuse a video gate read

    vprobe = spark.createDataFrame(
        [(20, "video", bytearray(b"YUV4MPEG2 junk"), {})], MEDIA_SCHEMA
    )
    with pytest.raises(ValueError, match="another modality"):
        media_dedup_against_index(vprobe, idx, VIDEO, every_n=1).collect()

    # intra-batch: a trimmed copy of a smaller-id batch clip rejects
    b3 = spark.createDataFrame(
        [(30, "audio", bytearray(_phash_wav_chunks(
            [_phash_target(880 + f, 0) for f in range(4)])), {}),
         (31, "audio", bytearray(_phash_wav_chunks(
            [_phash_target(881 + f, 0) ^ 2 for f in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    s3 = media_dedup_against_index(
        b3, str(tmp_path / "fresh"), AUDIO_CHUNK, offset_tolerant=True,
    )
    assert sorted(r["media_id"] for r in s3.collect()) == [30]


def test_bucketed_audio_chunk_indexes(spark, tmp_path):
    """Aligned (band_key-bucketed) and offset (chunk_key-bucketed)
    audio-chunk tables admit exactly their parquet gates' sets with
    fewer exchanges; appends preserve the bucket specs."""
    import shutil

    from railgun_spark.operators.phash import (
        PHASH_BANDS,
        _phash_wav_chunks,
    )

    base = [_phash_target(1100 + f, 0) for f in range(4)]
    idx = str(tmp_path / "acidx")
    a1 = spark.createDataFrame(
        [(1, "audio", bytearray(_phash_wav_chunks(base)), {})], MEDIA_SCHEMA
    )
    append_media_to_index(
        media_dedup_against_index(a1, idx, AUDIO_CHUNK), idx, AUDIO_CHUNK,
    )

    probe = spark.createDataFrame(
        [(10, "audio", bytearray(_phash_wav_chunks([h ^ 2 for h in base[1:]])), {}),
         (11, "audio", bytearray(
             _phash_wav_chunks([_phash_target(1200 + f, 0) for f in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    aligned_probe = spark.createDataFrame(
        [(12, "audio", bytearray(_phash_wav_chunks([h ^ 2 for h in base])), {})],
        MEDIA_SCHEMA,
    )
    t_aligned = "phash_audio_chunk_bucketed_test"
    t_offset = "phash_audio_chunk_offset_bucketed_test"
    for t in (t_aligned, t_offset):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    assert bucketize_media_index(spark, idx, t_aligned, AUDIO_CHUNK, n_buckets=8) == 4 * PHASH_BANDS
    assert bucketize_media_index(
        spark, idx, t_offset, AUDIO_CHUNK, n_buckets=8, offset_tolerant=True,
    ) == 4 * PHASH_BANDS

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # aligned: same-position re-encode rejects; trimmed copy admits
        al_p = media_dedup_against_index(aligned_probe, idx, AUDIO_CHUNK)
        al_t = media_dedup_against_table(aligned_probe, t_aligned, AUDIO_CHUNK)
        assert al_p.count() == al_t.count() == 0
        # offset: trimmed copy rejects, unrelated admits — parquet and
        # bucketed agree; the bucketed plan scans in place
        off_p = media_dedup_against_index(probe, idx, AUDIO_CHUNK, offset_tolerant=True)
        off_t = media_dedup_against_table(
            probe, t_offset, AUDIO_CHUNK, offset_tolerant=True,
        )
        assert sorted(r["media_id"] for r in off_t.collect()) == \
               sorted(r["media_id"] for r in off_p.collect()) == [11]
        plan_t = off_t._jdf.queryExecution().executedPlan().toString()
        plan_p = off_p._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_t
        assert plan_t.count("Exchange") < plan_p.count("Exchange")
        # appends preserve the bucket spec and stay visible
        append_media_to_table(off_t, t_offset, AUDIO_CHUNK, offset_tolerant=True)
        probe2 = spark.createDataFrame(
            [(20, "audio", bytearray(_phash_wav_chunks(
                [_phash_target(1201 + f, 0) ^ 1 for f in range(2)])), {})],
            MEDIA_SCHEMA,
        )
        assert media_dedup_against_table(
            probe2, t_offset, AUDIO_CHUNK, offset_tolerant=True,
        ).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for t in (t_aligned, t_offset):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_audio_chunk_gain_and_container_invariance(spark):
    """The chunked fingerprint inherits the energy-delta family's
    invariances, per chunk: a constant-gain re-encode (0.5x, exact on
    the 16-bit grid) preserves every chunk hash (RMS scales linearly, so
    delta SIGNS are gain-invariant), and the same PCM through a FLAC
    container fingerprints identically."""
    import struct

    from railgun_spark.operators.multimodal import _audio_pcm_frames, _flac_verbatim_mono
    from railgun_spark.operators.phash import (
        _phash_wav_chunks,
        audio_chunk_fingerprints,
    )

    hs = [_phash_target(910 + k, 0) for k in range(3)]
    wav = _phash_wav_chunks(hs)
    frames, _ = _audio_pcm_frames(wav)
    pcm16 = [int(round(x * 32768)) for x in frames[:, 0]]
    halved = wav[:44] + b"".join(struct.pack("<h", v // 2) for v in pcm16)
    flac = _flac_verbatim_mono(pcm16, 8000)
    rows = [
        (1, "audio", bytearray(wav), {}),
        (2, "audio", bytearray(halved), {}),
        (3, "audio", bytearray(flac), {}),
    ]
    out = audio_chunk_fingerprints(
        spark.createDataFrame(rows, MEDIA_SCHEMA)
    ).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], {})[r["chunk_idx"]] = r["fhash"]
    signed = {k: h - (1 << 64) if h >= (1 << 63) else h for k, h in enumerate(hs)}
    assert by_id[1] == by_id[2] == by_id[3] == signed


def test_compaction_preserves_audio_chunk_index(spark, tmp_path):
    """dedup.compact_index folds replay-duplicated rows of the
    audio-chunk layout (the video column set under mod='audio-chunk')
    without changing either gate mode's decisions."""
    from railgun_spark.operators.dedup import compact_index
    from railgun_spark.operators.phash import (
        PHASH_BANDS,
        _phash_wav_chunks,
    )

    idx = str(tmp_path / "acidx")
    base = [_phash_target(1300 + f, 0) for f in range(3)]
    batch = spark.createDataFrame(
        [(1, "audio", bytearray(_phash_wav_chunks(base)), {})], MEDIA_SCHEMA
    )
    s = media_dedup_against_index(batch, idx, AUDIO_CHUNK)
    append_media_to_index(s, idx, AUDIO_CHUNK)
    append_media_to_index(s, idx, AUDIO_CHUNK)  # replay duplicate
    assert spark.read.parquet(idx).count() == 2 * 3 * PHASH_BANDS
    assert compact_index(spark, idx) == 3 * PHASH_BANDS
    probe = spark.createDataFrame(
        [(9, "audio", bytearray(_phash_wav_chunks([h ^ 1 for h in base])), {}),
         (10, "audio", bytearray(_phash_wav_chunks([h ^ 1 for h in base[1:]])), {}),
         (11, "audio", bytearray(_phash_wav_chunks(
             [_phash_target(1400 + f, 0) for f in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    # aligned rejects the same-length re-encode; offset also the trim
    assert sorted(
        r["media_id"]
        for r in media_dedup_against_index(probe, idx, AUDIO_CHUNK).collect()
    ) == [10, 11]
    assert sorted(
        r["media_id"]
        for r in media_dedup_against_index(
            probe, idx, AUDIO_CHUNK, offset_tolerant=True,
        ).collect()
    ) == [11]


def test_video_offset_coarse_pairs(spark):
    """Coarse (2x32-key) offset matching: a 1-bit-per-frame trimmed copy
    qualifies at its true shift (same result as the 4x16 join), a
    2-bit-per-frame trim is OUTSIDE the coarse pigeonhole and must be
    refused by the budget guard rather than silently missed."""
    from railgun_spark.operators.phash import (
        PHASH_COARSE_MAX_HAMMING,
        _phash_y4m,
        video_perceptual_hashes,
    )

    base = [_phash_target(760 + f, 0) for f in range(4)]
    trimmed = [h ^ 1 for h in base[1:]]  # 1 bit per frame: within coarse budget
    rows = [
        (1, "video", bytearray(_phash_y4m(base)), {}),
        (2, "video", bytearray(_phash_y4m(trimmed)), {}),
    ]
    fh = video_perceptual_hashes(
        spark.createDataFrame(rows, MEDIA_SCHEMA), every_n=1
    )
    fine = {
        (r["id_a"], r["id_b"]): (r["frame_offset"], r["n_match"], r["n_small"])
        for r in media_pairs(
            fh, VIDEO, max_hamming=1, offset_tolerant=True
        ).collect()
    }
    coarse = {
        (r["id_a"], r["id_b"]): (r["frame_offset"], r["n_match"], r["n_small"])
        for r in media_pairs(
            fh, VIDEO, max_hamming=PHASH_COARSE_MAX_HAMMING,
            offset_tolerant=True, coarse=True,
        ).collect()
    }
    assert coarse == fine == {(1, 2): (1, 3, 3)}

    # budget guard: coarse pigeonhole is lossless only for hamming <= 1
    with pytest.raises(ValueError, match="lossless"):
        media_pairs(fh, VIDEO, max_hamming=2, offset_tolerant=True, coarse=True)


def test_video_offset_coarse_gate(spark, tmp_path):
    """Coarse offset GATE reads the SAME index the aligned gate writes:
    a 1-bit-per-frame trimmed re-upload of indexed footage rejects
    through the 2x32 chunk-key join, the half-noise clip and refused
    rows survive, and the intra-batch leg catches a trimmed smaller-id
    copy — identical admitted sets to the fine offset gate for
    in-budget inputs, with no index migration."""
    from railgun_spark.operators.phash import _phash_y4m

    base = [_phash_target(840 + f, 0) for f in range(4)]
    trimmed = [h ^ 1 for h in base[1:]]  # 1 bit per frame: within coarse budget
    noise = [base[1], base[2]] + [_phash_target(990 + f, 0) for f in range(2)]
    idx = str(tmp_path / "vidx")
    b1 = spark.createDataFrame(
        [(1, "video", bytearray(_phash_y4m(base)), {})], MEDIA_SCHEMA
    )
    s1 = media_dedup_against_index(b1, idx, VIDEO, every_n=1)
    append_media_to_index(s1, idx, VIDEO, every_n=1)

    b2 = spark.createDataFrame(
        [(10, "video", bytearray(_phash_y4m(trimmed)), {}),
         (11, "video", bytearray(_phash_y4m(noise)), {}),
         (12, "video", bytearray(b"RIFF....AVI JUNK"), {})],
        MEDIA_SCHEMA,
    )
    coarse_s = media_dedup_against_index(
        b2, idx, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
    )
    assert sorted(r["media_id"] for r in coarse_s.collect()) == [11, 12]
    fine_s = media_dedup_against_index(b2, idx, VIDEO, every_n=1, offset_tolerant=True)
    assert sorted(r["media_id"] for r in fine_s.collect()) == [11, 12]

    # intra-batch: a 1-bit trimmed copy of a smaller-id batch video rejects
    b3 = spark.createDataFrame(
        [(20, "video",
          bytearray(_phash_y4m([_phash_target(860 + f, 0) for f in range(4)])), {}),
         (21, "video",
          bytearray(_phash_y4m([_phash_target(861 + f, 0) ^ 4 for f in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    s3 = media_dedup_against_index(
        b3, str(tmp_path / "fresh"), VIDEO, every_n=1, offset_tolerant=True, coarse=True,
    )
    assert sorted(r["media_id"] for r in s3.collect()) == [20]


def test_audio_chunk_offset_coarse_gate(spark, tmp_path):
    """Audio twin: the coarse offset gate rejects a chunk-shifted 1-bit
    re-upload against the index the aligned chunk gate wrote."""
    from railgun_spark.operators.phash import _phash_wav_chunks

    hs = [_phash_target(900 + k, 0) for k in range(4)]
    idx = str(tmp_path / "aidx")
    b1 = spark.createDataFrame(
        [(1, "audio", bytearray(_phash_wav_chunks(hs)), {})], MEDIA_SCHEMA
    )
    s1 = media_dedup_against_index(b1, idx, AUDIO_CHUNK)
    append_media_to_index(s1, idx, AUDIO_CHUNK)

    trimmed = [h ^ 8 for h in hs[1:]]  # chunk-shift 1, 1 bit per chunk
    b2 = spark.createDataFrame(
        [(10, "audio", bytearray(_phash_wav_chunks(trimmed)), {}),
         (11, "audio", bytearray(_phash_wav_chunks(
             [_phash_target(970 + k, 0) for k in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    got = media_dedup_against_index(
        b2, idx, AUDIO_CHUNK, offset_tolerant=True, coarse=True,
    )
    assert sorted(r["media_id"] for r in got.collect()) == [11]


def test_bucketed_coarse_offset_video_index(spark, tmp_path):
    """The COARSE (2x32-key) bucketed offset table: admits exactly the
    coarse parquet gate's set with the index side scanning in place, a
    geometry-mismatched table is refused via the bits marker, and coarse
    appends preserve the bucket spec."""
    import shutil

    from railgun_spark.operators.phash import _phash_y4m

    base = [_phash_target(1300 + f, 0) for f in range(4)]
    idx = str(tmp_path / "vidx")
    v1 = spark.createDataFrame(
        [(1, "video", bytearray(_phash_y4m(base)), {})], MEDIA_SCHEMA
    )
    append_media_to_index(
        media_dedup_against_index(v1, idx, VIDEO, every_n=1), idx, VIDEO, every_n=1,
    )

    table = "phash_video_offset_coarse_bucketed_test"
    fine_table = "phash_video_offset_fine_for_mismatch_test"
    for t in (table, fine_table):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    # 2 coarse rows per frame (vs PHASH_BANDS=4 fine rows)
    assert bucketize_media_index(
        spark, idx, table, VIDEO, n_buckets=8, offset_tolerant=True, coarse=True,
    ) == 4 * 2

    probe = spark.createDataFrame(
        [(10, "video", bytearray(_phash_y4m([h ^ 1 for h in base[1:]])), {}),
         (11, "video", bytearray(
             _phash_y4m([_phash_target(1400 + f, 0) for f in range(3)])), {})],
        MEDIA_SCHEMA,
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        via_p = media_dedup_against_index(
            probe, idx, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
        )
        via_t = media_dedup_against_table(
            probe, table, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
        )
        assert sorted(r["media_id"] for r in via_t.collect()) == \
               sorted(r["media_id"] for r in via_p.collect()) == [11]
        plan_t = via_t._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_t

        # geometry marker: a fine gate against the coarse table (and the
        # reverse) fails loudly instead of silently missing pairs
        with pytest.raises(ValueError, match="32-bit"):
            media_dedup_against_table(
                probe, table, VIDEO, every_n=1, offset_tolerant=True,
            ).collect()
        bucketize_media_index(
            spark, idx, fine_table, VIDEO, n_buckets=8, offset_tolerant=True,
        )
        with pytest.raises(ValueError, match="16-bit"):
            media_dedup_against_table(
                probe, fine_table, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
            ).collect()

        # coarse appends preserve the bucket spec and stay visible
        append_media_to_table(
            via_t, table, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
        )
        probe2 = spark.createDataFrame(
            [(20, "video", bytearray(
                _phash_y4m([_phash_target(1401 + f, 0) ^ 1 for f in range(2)])), {})],
            MEDIA_SCHEMA,
        )
        assert media_dedup_against_table(
            probe2, table, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
        ).count() == 0

        # APPENDS check the geometry too (ADVICE r15): a wrong-flag
        # append would write rows that never join, silently admitting
        # their duplicates — refused with nothing written
        before = spark.table(table).count()
        with pytest.raises(ValueError, match="32-bit"):
            append_media_to_table(
                via_t, table, VIDEO, every_n=1, offset_tolerant=True,
            )
        with pytest.raises(ValueError, match="16-bit"):
            append_media_to_table(
                via_t, fine_table, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
            )
        assert spark.table(table).count() == before

        # the geometry is DECLARED once in TBLPROPERTIES (O(1) check, no
        # per-call scan of the bits column)
        props = {r["key"]: r["value"] for r in spark.sql(
            f"SHOW TBLPROPERTIES {table}").collect()}
        assert props.get("railgun.chunk_bits") == "32"

        # legacy tables (bucketized before the marker existed) fall back
        # to a DETERMINISTIC min==max homogeneity scan — a mixed table
        # is always refused, never limit(1)-sampled — and a passing
        # legacy table is stamped so the scan never repeats
        spark.sql(f"ALTER TABLE {table} "
                  "UNSET TBLPROPERTIES ('railgun.chunk_bits')")
        spark.table(fine_table).limit(1).write.mode("append").insertInto(
            table
        )
        with pytest.raises(ValueError, match="MIXED"):
            media_dedup_against_table(
                probe2, table, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
            ).collect()
        with pytest.raises(ValueError, match="MIXED"):
            append_media_to_table(
                via_t, table, VIDEO, every_n=1, offset_tolerant=True, coarse=True,
            )
        # homogeneous legacy table: one scan, then stamped
        spark.sql(f"ALTER TABLE {fine_table} "
                  "UNSET TBLPROPERTIES ('railgun.chunk_bits')")
        assert media_dedup_against_table(
            probe2, fine_table, VIDEO, every_n=1, offset_tolerant=True,
        ).count() >= 0
        props = {r["key"]: r["value"] for r in spark.sql(
            f"SHOW TBLPROPERTIES {fine_table}").collect()}
        assert props.get("railgun.chunk_bits") == "16"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for t in (table, fine_table):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# On-disk band rows for one fixed crafted medium per family / table
# layout, recorded from the writer before the pair and gate bodies were
# unified: {non-key columns: sorted band_key or chunk_key values}. Any
# drift in the stored key encoding, column names or bits/mod tags breaks
# every index already on disk, so these are literals, not re-derivations.
_SIGN = 1 << 63
_V_ROWS = {
    (1, 2, 0, -8291580938710487918, 16): [60562, 74178, 156433, 232686],
    (1, 2, 1, 411687513358362068, 16): [288212, 374832, 433052, 460214],
}
_INDEX_COLS = ["band_key", "dhash", "bits", "mod"]
_POS_INDEX_COLS = ["vid", "n_frames", "frame_idx", "band_key", "dhash", "bits", "mod"]
_GOLDEN_INDEX = {
    "image": (_INDEX_COLS, {
        (-8192712136519261644, 16): [57908, 129980, 172983, 233037],
    }),
    "image-wide": (["band_key", "h0", "h1", "h2", "h3", "bits", "mod"], {
        (711458392371561979, 1114483266343501346, 934352852285092187,
         119947881030269677, 16): [
            1531, 93639, 170915, 199135, 294434, 343685, 422048, 462711,
            553307, 655187, 687351, 724215, 834285, 874590, 926710, 983466,
        ],
    }),
    "audio": (_INDEX_COLS, {
        (-8192712136519261644, 16): [57908, 129980, 172983, 233037],
    }),
    "video": (_POS_INDEX_COLS, _V_ROWS),
    "audio-chunk": (_POS_INDEX_COLS, _V_ROWS),
}
_GOLDEN_TABLE = {
    "aligned": (_POS_INDEX_COLS, {
        **_V_ROWS,
        (2, 1, 0, 816068468346854677, 16): [7445, 114742, 147954, 199507],
    }),
    "offset": (["vid", "n_frames", "frame_idx", "chunk_key", "dhash", "bits", "mod"], {
        (1, 2, 0, -8291580938710487918, 16): [60562, 74178, 156433, 232686],
        (1, 2, 1, 411687513358362068, 16): [26068, 112688, 170908, 198070],
        (2, 1, 0, 816068468346854677, 16): [7445, 114742, 147954, 199507],
    }),
    "coarse": (["vid", "n_frames", "frame_idx", "chunk_key", "dhash", "bits", "mod"], {
        (1, 2, 0, -8291580938710487918, 32): [566422674, 6659400465],
        (1, 2, 1, 411687513358362068, 32): [3090179540, 4390820764],
        (2, 1, 0, 816068468346854677, 32): [3224771861, 4484973042],
    }),
}


def _keyed_rows(df, mod):
    """Stored rows -> {non-key columns minus mod: sorted keys}, checking
    every row carries `mod`."""
    key = "chunk_key" if "chunk_key" in df.columns else "band_key"
    out = {}
    for r in df.collect():
        assert r["mod"] == mod
        rest = tuple(r[c] for c in df.columns if c not in (key, "mod"))
        out.setdefault(rest, []).append(r[key])
    return {k: sorted(v) for k, v in out.items()}


def _golden_media(mod):
    """One crafted medium per family; the image/audio hash and the first
    frame hash carry the sign bit, so chunk 3 of a negative long is
    pinned too."""
    from railgun_spark.operators.phash import (
        FAMILIES,
        _phash_wav,
        _phash_wav_chunks,
        _phash_wide_pgm,
        _phash_wide_target,
        _phash_y4m,
    )

    h = _phash_target(5, 0) | _SIGN
    frames = [_phash_target(500, 0) | _SIGN, _phash_target(501, 0)]
    payload = {
        "image": ("image", _phash_pgm(h)),
        "image-wide": ("image", _phash_wide_pgm(_phash_wide_target(9, 1))),
        "audio": ("audio", _phash_wav(h)),
        "video": ("video", _phash_y4m(frames)),
        "audio-chunk": ("audio", _phash_wav_chunks(frames)),
    }[mod]
    return FAMILIES[mod], [(1, payload[0], bytearray(payload[1]), {})]


@pytest.mark.parametrize("mod", list(_GOLDEN_INDEX))
def test_index_band_rows_golden(spark, tmp_path, mod):
    """`append_media_to_index` writes exactly the recorded rows."""
    fam, rows = _golden_media(mod)
    idx = str(tmp_path / "idx")
    append_media_to_index(spark.createDataFrame(rows, MEDIA_SCHEMA), idx, fam, every_n=1)
    got = spark.read.parquet(idx)
    cols, want = _GOLDEN_INDEX[mod]
    assert got.columns == cols
    assert _keyed_rows(got, mod) == want


@pytest.mark.parametrize("layout", list(_GOLDEN_TABLE))
def test_table_band_rows_golden(spark, tmp_path, layout):
    """`bucketize_media_index` then `append_media_to_table` write exactly
    the recorded rows for the aligned, offset and coarse table layouts."""
    import shutil

    from railgun_spark.operators.phash import _phash_y4m

    offset, coarse = layout != "aligned", layout == "coarse"
    fam, first = _golden_media("video")
    second = [(2, "video", bytearray(_phash_y4m([_phash_target(502, 2)])), {})]
    idx = str(tmp_path / "vidx")
    append_media_to_index(spark.createDataFrame(first, MEDIA_SCHEMA), idx, fam, every_n=1)
    table = f"phash_golden_{layout}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"spark-warehouse/{table}", ignore_errors=True)
    try:
        bucketize_media_index(
            spark, idx, table, fam, n_buckets=4,
            offset_tolerant=offset, coarse=coarse,
        )
        append_media_to_table(
            spark.createDataFrame(second, MEDIA_SCHEMA), table, fam, every_n=1,
            offset_tolerant=offset, coarse=coarse,
        )
        got = spark.table(table)
        cols, want = _GOLDEN_TABLE[layout]
        assert got.columns == cols
        assert _keyed_rows(got, "video") == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.mark.parametrize(
    "mod,offset_tolerant,coarse",
    [("image", False, False), ("image-wide", False, False), ("audio", False, False)]
    + [(m, o, c) for m in ("video", "audio-chunk")
       for o, c in ((False, False), (True, False), (True, True))],
)
def test_gate_drops_equal_pair_id_b(spark, tmp_path, mod, offset_tolerant, coarse):
    """One body: against an empty index, the ids the gate drops are
    exactly the id_b side of `media_pairs` over the same batch."""
    from railgun_spark.operators.phash import (
        FAMILIES,
        _phash_wav,
        _phash_wav_chunks,
        _phash_wide_pgm,
        _phash_wide_target,
        _phash_y4m,
    )

    fam = FAMILIES[mod]
    x, z = _phash_target(5, 0), _phash_target(40, 0)
    if mod == "image-wide":
        kind, payloads = "image", [
            _phash_wide_pgm(_phash_wide_target(g, v))
            for g, v in ((5, 0), (5, 1), (5, 2), (40, 0))
        ]
    elif not fam.positional:
        kind, enc = ("image", _phash_pgm) if mod == "image" else ("audio", _phash_wav)
        payloads = [enc(h) for h in (x, x ^ 1, x ^ 0b10000000000000000011, z)]
    else:
        kind, enc = ("video", _phash_y4m) if mod == "video" else ("audio", _phash_wav_chunks)
        xs = [_phash_target(700 + f, 0) for f in range(4)]
        zs = [_phash_target(800 + f, 0) for f in range(4)]
        payloads = [enc(fs) for fs in (
            xs, [h ^ 1 for h in xs], [h ^ 1 for h in xs[1:]], zs,
        )]
    rows = [(i + 1, kind, bytearray(p), {}) for i, p in enumerate(payloads)]
    rows.append((len(rows) + 1, kind, bytearray(b"JUNK"), {}))
    batch = spark.createDataFrame(rows, MEDIA_SCHEMA)
    kw = {"offset_tolerant": offset_tolerant, "coarse": coarse}

    survivors = media_dedup_against_index(
        batch, str(tmp_path / "empty"), fam, every_n=1, **kw
    )
    dropped = {r[0] for r in rows} - {r["media_id"] for r in survivors.collect()}
    pairs = media_pairs(fam.extract(batch, 1, "media_id"), fam, **kw)
    assert dropped == {r["id_b"] for r in pairs.collect()}
    assert dropped
