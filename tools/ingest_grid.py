"""Ingest-gate throughput GRID: docs/sec per (gate, index-size,
batch-size) cell for the three admission gates —

  content    exact content-hash anti-join (streaming/ingest.ingest_batch)
  span       content gate + incremental exact-substring window-hash gate
  minhash    MinHash LSH band gate (dedup.near_dup_against_index +
             append_bands_to_index, composed the way ingest_batch is)
  embedding  sign-LSH band gate (ingest_embeddings_batch)

tools/ingest_probe.py measures the end-to-end streaming drain (per-
micro-batch overhead included); THIS grid isolates the per-batch gate
cost and answers the scale question directly: admission cost must track
BATCH size, not INDEX size — the bucketed index layout means the
index-side leg of the anti-join is a co-located scan, not a reshuffle
(BUCKETED_JOIN_PROBE_r09: 0 index-side exchanges), so a cell at 10x the
index rows should run at the same docs/sec.

Method per cell: populate an index to the target size ONCE per (gate,
index-size) via the gate itself (untimed), copy it (cells must not see
each other's appends), then time ONE ingest_batch of the target batch
size end-to-end: anti-join(s) + sink write + index append(s). Batches
come from sf0.1; index populations from the token-salted /
sign-flipped sf1-probe dataset (zero content overlap with the batch by
construction, minus the embedding set's unperturbed copy 0, which is
dropped), so every cell measures the ADMIT path — the expensive one.

Usage: python tools/ingest_grid.py [--out FILE]
Env: SPARK_GRAFT_SF1_DIR (default /tmp/sf1_probe; built on demand).
Prints one JSON line: {"metric": "ingest_grid", "cells": [
  {"gate": g, "index_docs": I, "batch_docs": B, "sec": s,
   "docs_per_sec": r, "admitted": n}, ...]}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INDEX_SIZES = (0, 5_000, 50_000)
BATCH_SIZES = (500, 2_500, 5_000)


def _salted_doc_copies(spark, sf_dir: str, n_copies: int):
    """An index SOURCE bigger than the sf1 probe: n_copies token-salted
    copies of the sf0.1 documents (every token prefixed g<i> — zero
    token/shingle/window overlap across copies AND vs the unsalted batch
    docs, so every populated doc takes the admit path and the timed batch
    is never span/band-rejected). Used for the 500k index column."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.lit(n_copies - 1))).alias("i"),
    )
    tag = F.concat(F.lit("g"), F.col("i").cast("string"))
    salted = F.array_join(
        F.transform(F.split("text", " "), lambda t: F.concat(tag, t)), " "
    )
    return docs.select(
        (F.col("doc_id") + F.col("i") * F.lit(10_000_000)).alias("doc_id"),
        salted.alias("text"),
    ).repartition(64)


def _populate_direct(df, idx: str, span: bool, minhash: bool) -> None:
    """Populate indexes via the gate's own APPEND paths (what ingest_batch
    commits when every doc is admitted — guaranteed here by the salting),
    skipping the anti-join: at 500k populate docs the join adds minutes
    without changing the committed index contents."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.dedup import (
        _batch_unique,
        append_bands_to_index,
        append_to_index,
        append_window_hashes_to_index,
    )

    append_to_index(_batch_unique(df, "text", "doc_id"), idx)
    if span:
        append_window_hashes_to_index(df, idx + "_span")
    if minhash:
        append_bands_to_index(df, idx + "_mh")


def _media_ingest(mod: str, **knobs):
    """(batch, idx, sink) -> admitted count through the `mod` family's
    media ingest gate."""

    def run(batch, idx, sink):
        from railgun_spark.operators.phash import FAMILIES
        from railgun_spark.streaming.ingest import ingest_media_batch

        return ingest_media_batch(batch, idx, sink, FAMILIES[mod], **knobs)

    return run


def main() -> int:
    from pyspark.sql import functions as F

    from railgun_spark.session import get_spark
    from railgun_spark.streaming.ingest import (
        ingest_batch,
        ingest_embeddings_batch,
    )
    from tools.sf1_all import SHIFT, _build_sf1

    global INDEX_SIZES, BATCH_SIZES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1_probe")
    out_path = None
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    only_gates = None
    if "--gates" in sys.argv:
        only_gates = set(sys.argv[sys.argv.index("--gates") + 1].split(","))
    if "--index-sizes" in sys.argv:
        INDEX_SIZES = tuple(
            int(x) for x in sys.argv[sys.argv.index("--index-sizes") + 1].split(",")
        )
    if "--batches" in sys.argv:
        BATCH_SIZES = tuple(
            int(x) for x in sys.argv[sys.argv.index("--batches") + 1].split(",")
        )
    spark = get_spark("ingest_grid")
    _build_sf1(spark, sf1_dir)

    docs_batch_src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs_index_src = spark.read.parquet(f"{sf1_dir}/documents.parquet")
    emb_batch_src = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # copy 0 of the sf1 embeddings is the UNPERTURBED sf0.1 set — drop it
    # so the batch vectors are novel to the index and take the admit path
    emb_index_src = spark.read.parquet(f"{sf1_dir}/embeddings.parquet").filter(
        F.col("vec_id") >= SHIFT
    )

    work = tempfile.mkdtemp(prefix="ingest_grid_")
    cells = []

    def run_gate(gate: str, index_src, batch_src, populate, time_batch,
                 suffixes=("",), big_populate=None):
        if only_gates is not None and gate not in only_gates:
            return
        for idx_n in INDEX_SIZES:
            base_idx = os.path.join(work, f"{gate}_idx_{idx_n}")
            if idx_n > 5_000 and big_populate is not None:
                # big cells: synthesize a salted source and commit via the
                # gate's own append paths (identical index contents to a
                # gate populate over all-admitted docs, minus the
                # untimed anti-join minutes)
                big_populate(idx_n, base_idx)
            elif idx_n > 0:
                populate(index_src.limit(idx_n), base_idx)
            for batch_n in BATCH_SIZES:
                cell_dir = os.path.join(work, f"{gate}_{idx_n}_{batch_n}")
                os.makedirs(cell_dir)
                idx = os.path.join(cell_dir, "idx")
                if idx_n > 0:
                    for sfx in suffixes:  # content index (+ span sibling)
                        shutil.copytree(base_idx + sfx, idx + sfx)
                batch = batch_src.limit(batch_n).localCheckpoint()
                # materialize outside the timed window; rows can be fewer
                # than requested (source smaller than the nominal size) —
                # throughput must divide by the ACTUAL row count
                rows = batch.count()
                t0 = time.time()
                admitted = time_batch(batch, idx, os.path.join(cell_dir, "sink"))
                dt = time.time() - t0
                cells.append({
                    "gate": gate, "index_docs": idx_n, "batch_docs": rows,
                    "sec": round(dt, 2),
                    "docs_per_sec": round(rows / dt, 1),
                    "admitted": admitted,
                })
                print(f"{gate:9s} idx={idx_n:6d} batch={rows:5d} "
                      f"{dt:6.2f}s  {rows / dt:8.1f} docs/s "
                      f"admitted={admitted}", flush=True)

    # gate 1: exact content hash
    run_gate(
        "content", docs_index_src, docs_batch_src,
        populate=lambda df, idx: ingest_batch(
            df, idx, idx + "_popsink"),
        time_batch=lambda b, idx, sink: ingest_batch(b, idx, sink),
    )
    # gate 2: content + span window hashes (two indexes; the span index
    # is populated alongside by the same gate call)
    run_gate(
        "span", docs_index_src, docs_batch_src,
        populate=lambda df, idx: ingest_batch(
            df, idx, idx + "_popsink", span_index_path=idx + "_span"),
        time_batch=lambda b, idx, sink: ingest_batch(
            b, idx, sink, span_index_path=idx + "_span"),
        suffixes=("", "_span"),
    )
    # gate 3: MinHash LSH band gate (same admit-commit shape as
    # ingest_batch: anti-join survivors, write sink, append band keys)
    def minhash_ingest(batch, idx, sink):
        from railgun_spark.operators.dedup import (
            append_bands_to_index,
            near_dup_against_index,
        )

        survivors = near_dup_against_index(batch, idx).localCheckpoint()
        n = survivors.count()
        if n > 0:
            survivors.write.mode("append").parquet(sink)
            append_bands_to_index(survivors, idx)
        return n

    run_gate(
        "minhash", docs_index_src, docs_batch_src,
        populate=lambda df, idx: minhash_ingest(df, idx, idx + "_popsink"),
        time_batch=minhash_ingest,
    )
    # gate 4: embedding sign-LSH bands
    run_gate(
        "embedding", emb_index_src, emb_batch_src,
        populate=lambda df, idx: ingest_embeddings_batch(
            df, idx, idx + "_popsink"),
        time_batch=lambda b, idx, sink: ingest_embeddings_batch(b, idx, sink),
    )
    # composite: the first-class three-text-gate chain (content -> span
    # -> MinHash bands) through one ingest_batch call — the configuration
    # the r12 streaming soak drives; its cost should track the sum of
    # the individual text gates, flat across index size
    # gate 5 (r13): image perceptual-hash band gate — crafted PGMs whose
    # dHash is a 60-bit md5 of the id, so index and batch images are
    # pairwise non-colliding by construction and every cell measures the
    # ADMIT path (decode + band semi-join + append)
    def _media_frame(ids_df, salt: str):
        import hashlib

        import pandas as pd

        from railgun_spark.operators.multimodal import MEDIA_SCHEMA
        from railgun_spark.session import spread_scan
        from railgun_spark.operators.phash import _phash_pgm

        def synth(it):
            for pdf in it:
                rows = []
                for mid in pdf["media_id"]:
                    mid = int(mid)
                    h = int(hashlib.md5(f"{salt}:{mid}".encode()).hexdigest()[:15], 16)
                    rows.append((mid, "image", _phash_pgm(h), {}))
                yield pd.DataFrame(
                    rows, columns=["media_id", "kind", "content", "meta"]
                )

        return spread_scan(ids_df, heavy=True).mapInPandas(synth, MEDIA_SCHEMA)

    img_index_src = _media_frame(
        spark.range(60_000).select((F.col("id") + 1_000_000_000).alias("media_id")),
        "idx",
    )
    img_batch_src = _media_frame(
        spark.range(5_000).select(F.col("id").alias("media_id")), "batch"
    )

    image_ingest = _media_ingest("image")

    run_gate(
        "image", img_index_src, img_batch_src,
        populate=lambda df, idx: image_ingest(df, idx, idx + "_popsink"),
        time_batch=image_ingest,
    )

    # gate 5b (r14): WIDE 256-bit block-dHash gate — crafted 34x32 PGMs
    # whose four words are per-word 60-bit md5 values of the id, so every
    # cell measures the admit path under the 16-band verified gate
    def _media_frame_wide(ids_df, salt: str):
        import hashlib

        import pandas as pd

        from railgun_spark.operators.multimodal import MEDIA_SCHEMA
        from railgun_spark.session import spread_scan
        from railgun_spark.operators.phash import _phash_wide_pgm

        def synth(it):
            for pdf in it:
                rows = []
                for mid in pdf["media_id"]:
                    mid = int(mid)
                    words = [
                        int(hashlib.md5(
                            f"{salt}:{mid}:w{w}".encode()
                        ).hexdigest()[:15], 16)
                        for w in range(4)
                    ]
                    rows.append((mid, "image", _phash_wide_pgm(words), {}))
                yield pd.DataFrame(
                    rows, columns=["media_id", "kind", "content", "meta"]
                )

        return spread_scan(ids_df, heavy=True).mapInPandas(synth, MEDIA_SCHEMA)

    imgw_index_src = _media_frame_wide(
        spark.range(60_000).select((F.col("id") + 2_000_000_000).alias("media_id")),
        "idx",
    )
    imgw_batch_src = _media_frame_wide(
        spark.range(5_000).select(F.col("id").alias("media_id")), "batch"
    )

    image_wide_ingest = _media_ingest("image-wide")

    run_gate(
        "image_wide", imgw_index_src, imgw_batch_src,
        populate=lambda df, idx: image_wide_ingest(df, idx, idx + "_popsink"),
        time_batch=image_wide_ingest,
    )

    # gate 6 (r13): audio fingerprint band gate — crafted staircase WAVs
    # whose energy-delta fingerprint is a 60-bit md5 of the id
    def _audio_frame(ids_df, salt: str):
        import hashlib

        import pandas as pd

        from railgun_spark.operators.multimodal import MEDIA_SCHEMA
        from railgun_spark.session import spread_scan
        from railgun_spark.operators.phash import _phash_wav

        def synth(it):
            for pdf in it:
                rows = []
                for mid in pdf["media_id"]:
                    mid = int(mid)
                    h = int(hashlib.md5(f"{salt}:{mid}".encode()).hexdigest()[:15], 16)
                    rows.append((mid, "audio", _phash_wav(h), {}))
                yield pd.DataFrame(
                    rows, columns=["media_id", "kind", "content", "meta"]
                )

        return spread_scan(ids_df, heavy=True).mapInPandas(synth, MEDIA_SCHEMA)

    audio_ingest = _media_ingest("audio")

    run_gate(
        "audio",
        _audio_frame(
            spark.range(60_000).select(
                (F.col("id") + 2_000_000_000).alias("media_id")
            ),
            "aidx",
        ),
        _audio_frame(spark.range(5_000).select(F.col("id").alias("media_id")),
                     "abatch"),
        populate=lambda df, idx: audio_ingest(df, idx, idx + "_popsink"),
        time_batch=audio_ingest,
    )

    # gate 7 (r13): video per-frame signature gate — crafted 3-frame Y4M
    # streams whose frame hashes are 60-bit md5s of (id, frame)
    def _video_frame(ids_df, salt: str):
        import hashlib

        import pandas as pd

        from railgun_spark.operators.multimodal import MEDIA_SCHEMA
        from railgun_spark.session import spread_scan
        from railgun_spark.operators.phash import _phash_y4m

        def synth(it):
            for pdf in it:
                rows = []
                for mid in pdf["media_id"]:
                    mid = int(mid)
                    hs = [
                        int(hashlib.md5(f"{salt}:{mid}:{f}".encode())
                            .hexdigest()[:15], 16)
                        for f in range(3)
                    ]
                    rows.append((mid, "video", _phash_y4m(hs), {}))
                yield pd.DataFrame(
                    rows, columns=["media_id", "kind", "content", "meta"]
                )

        return spread_scan(ids_df, heavy=True).mapInPandas(synth, MEDIA_SCHEMA)

    video_ingest = _media_ingest("video", every_n=1)

    run_gate(
        "video",
        _video_frame(
            spark.range(60_000).select(
                (F.col("id") + 3_000_000_000).alias("media_id")
            ),
            "vidx",
        ),
        _video_frame(spark.range(5_000).select(F.col("id").alias("media_id")),
                     "vbatch"),
        populate=lambda df, idx: video_ingest(df, idx, idx + "_popsink"),
        time_batch=video_ingest,
    )

    # gate 7b (r14): the OFFSET-TOLERANT video gate over the identical
    # index layout — times the per-offset temporal vote's derived-key
    # join; crafted sources are pairwise non-matching, so every cell
    # still measures the zero-false-reject admit path
    video_offset_ingest = _media_ingest("video", every_n=1, offset_tolerant=True)

    run_gate(
        "video_offset",
        _video_frame(
            spark.range(60_000).select(
                (F.col("id") + 4_000_000_000).alias("media_id")
            ),
            "voidx",
        ),
        _video_frame(spark.range(5_000).select(F.col("id").alias("media_id")),
                     "vobatch"),
        populate=lambda df, idx: video_offset_ingest(df, idx, idx + "_popsink"),
        time_batch=video_offset_ingest,
    )

    # gate 7c (r15): the COARSE offset video gate — 2x32 chunk keys
    # derived from the stored frame hashes (the candidate-headroom mode
    # for large offset indexes; PHASH_OFFSET_PROBE_r15); same index
    # layout, so populate reuses the plain offset ingest
    video_offset_coarse_ingest = _media_ingest(
        "video", every_n=1, offset_tolerant=True, coarse=True
    )

    run_gate(
        "video_offset_coarse",
        _video_frame(
            spark.range(60_000).select(
                (F.col("id") + 5_000_000_000).alias("media_id")
            ),
            "vocidx",
        ),
        _video_frame(spark.range(5_000).select(F.col("id").alias("media_id")),
                     "vocbatch"),
        populate=lambda df, idx: video_offset_coarse_ingest(
            df, idx, idx + "_popsink"
        ),
        time_batch=video_offset_coarse_ingest,
    )

    # gate 8 (r14 extension): the OFFSET-TOLERANT chunked audio gate —
    # crafted 3-chunk WAVs whose per-chunk fingerprints are 60-bit md5s
    # of (id, chunk); pairwise non-matching, so every cell measures the
    # zero-false-reject admit path of the per-offset vote
    def _audio_chunk_frame(ids_df, salt: str):
        import hashlib

        import pandas as pd

        from railgun_spark.operators.multimodal import MEDIA_SCHEMA
        from railgun_spark.session import spread_scan
        from railgun_spark.operators.phash import _phash_wav_chunks

        def synth(it):
            for pdf in it:
                rows = []
                for mid in pdf["media_id"]:
                    mid = int(mid)
                    hs = [
                        int(hashlib.md5(f"{salt}:{mid}:{c}".encode())
                            .hexdigest()[:15], 16)
                        for c in range(3)
                    ]
                    rows.append((mid, "audio", _phash_wav_chunks(hs), {}))
                yield pd.DataFrame(
                    rows, columns=["media_id", "kind", "content", "meta"]
                )

        return spread_scan(ids_df, heavy=True).mapInPandas(synth, MEDIA_SCHEMA)

    audio_chunk_offset_ingest = _media_ingest("audio-chunk", offset_tolerant=True)

    run_gate(
        "audio_chunk_offset",
        _audio_chunk_frame(
            spark.range(60_000).select(
                (F.col("id") + 5_000_000_000).alias("media_id")
            ),
            "acidx",
        ),
        _audio_chunk_frame(
            spark.range(5_000).select(F.col("id").alias("media_id")), "acbatch"
        ),
        populate=lambda df, idx: audio_chunk_offset_ingest(
            df, idx, idx + "_popsink"
        ),
        time_batch=audio_chunk_offset_ingest,
    )

    # gate 8b (r15): the COARSE offset audio gate — 2x32 chunk keys
    # (candidate-headroom mode); same index layout as gate 8
    audio_chunk_offset_coarse_ingest = _media_ingest(
        "audio-chunk", offset_tolerant=True, coarse=True
    )

    run_gate(
        "audio_chunk_offset_coarse",
        _audio_chunk_frame(
            spark.range(60_000).select(
                (F.col("id") + 6_000_000_000).alias("media_id")
            ),
            "aoc_idx",
        ),
        _audio_chunk_frame(
            spark.range(5_000).select(F.col("id").alias("media_id")), "aoc_b"
        ),
        populate=lambda df, idx: audio_chunk_offset_coarse_ingest(
            df, idx, idx + "_popsink"
        ),
        time_batch=audio_chunk_offset_coarse_ingest,
    )

    def composite_big_populate(idx_n: int, base_idx: str) -> None:
        n_copies = -(-idx_n // 5000)  # sf0.1 has 5000 docs per salted copy
        src = _salted_doc_copies(spark, sf_dir, n_copies).limit(idx_n)
        _populate_direct(src, base_idx, span=True, minhash=True)

    run_gate(
        "composite", docs_index_src, docs_batch_src,
        populate=lambda df, idx: ingest_batch(
            df, idx, idx + "_popsink",
            span_index_path=idx + "_span", minhash_index_path=idx + "_mh"),
        time_batch=lambda b, idx, sink: ingest_batch(
            b, idx, sink,
            span_index_path=idx + "_span", minhash_index_path=idx + "_mh"),
        suffixes=("", "_span", "_mh"),
        big_populate=composite_big_populate,
    )

    shutil.rmtree(work, ignore_errors=True)
    payload = {"metric": "ingest_grid", "index_sizes": list(INDEX_SIZES),
               "batch_sizes": list(BATCH_SIZES), "cells": cells}
    line = json.dumps(payload)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    print(line)
    return 0


ANN_INDEX_SIZES = (50_000, 200_000, 500_000)
ANN_BATCH_SIZES = (2_500, 25_000)
ANN_K = 64  # inverted lists; nprobe=2 scans 1/32 of the index
ANN_NQ = 20


def _synth_vecs(spark, n: int, offset: int = 0, seed: int = 11):
    """Deterministic (vec_id, label, v) frame of 64-dim uniform vectors —
    the ANN lifecycle grid measures THROUGHPUT (encode/append/search/
    compact walls), not recall, so unclustered vectors are the right
    load: every list stays balanced and walls aren't flattered by empty
    probes."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        (F.col("id") + offset).alias("vec_id"),
        F.lit("x").alias("label"),
        F.array(*[F.rand(seed + i) for i in range(64)]).alias("v"),
    )


def ann_main() -> int:
    """The ANN index lifecycle grid (VERDICT r15 #3): append docs/sec,
    batch-search p50, and the compaction pause per (kind, index-size,
    batch-size) cell, for the raw IVF layout and the IVF-PQ (8x256,
    store_raw) + rerank layout. The scale claims under test: append and
    search walls flat in index size (appends touch only assigned
    partitions; searches scan nprobe/K of the lists), compaction linear
    in index size (it rewrites the layout — the priced pause)."""
    import statistics

    from railgun_spark.operators.similarity import (
        IVFSpec,
        append_to_index,
        build_index,
        compact_ivf_index,
        search_index,
    )
    from railgun_spark.session import get_spark

    sizes, batches = ANN_INDEX_SIZES, ANN_BATCH_SIZES
    k = ANN_K
    out_path = None
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    if "--k" in sys.argv:
        k = int(sys.argv[sys.argv.index("--k") + 1])
    if "--index-sizes" in sys.argv:
        sizes = tuple(
            int(x) for x in sys.argv[sys.argv.index("--index-sizes") + 1].split(",")
        )
    if "--batches" in sys.argv:
        batches = tuple(
            int(x) for x in sys.argv[sys.argv.index("--batches") + 1].split(",")
        )
    spark = get_spark("ingest_grid_ann")
    queries = _synth_vecs(
        spark, ANN_NQ, offset=20_000_000, seed=97
    ).selectExpr("vec_id as qid", "v").localCheckpoint()

    work = tempfile.mkdtemp(prefix="ingest_grid_ann_")
    cells = []
    try:
        for kind in ("ivf", "ivf_pq_rerank"):
            pq = kind == "ivf_pq_rerank"
            spec = (IVFSpec(k=k, m=8, ks=256, store_raw=True, rerank=50)
                    if pq else IVFSpec(k=k))
            for idx_n in sizes:
                base = os.path.join(work, f"{kind}_{idx_n}")
                vecs = _synth_vecs(spark, idx_n)
                t0 = time.time()
                build_index(vecs, base, spec)
                build_s = time.time() - t0
                for batch_n in batches:
                    idx = os.path.join(work, f"{kind}_{idx_n}_{batch_n}")
                    shutil.copytree(base, idx)
                    batch = _synth_vecs(
                        spark, batch_n, offset=10_000_000
                    ).localCheckpoint()
                    rows = batch.count()
                    t0 = time.time()
                    append_to_index(batch, idx, pq=pq)
                    append_s = time.time() - t0
                    walls = []
                    for _ in range(5):
                        t0 = time.time()
                        search_index(
                            spark, queries, idx, pq=pq, nprobe=spec.nprobe,
                            rerank=spec.rerank,
                        ).collect()
                        walls.append(time.time() - t0)
                    t0 = time.time()
                    compact_ivf_index(spark, idx)
                    compact_s = time.time() - t0
                    shutil.rmtree(idx, ignore_errors=True)
                    cell = {
                        "kind": kind, "index_docs": idx_n,
                        "batch_docs": rows,
                        "build_sec": round(build_s, 2),
                        "append_sec": round(append_s, 2),
                        "append_docs_per_sec": round(rows / append_s, 1),
                        "search_p50_s": round(statistics.median(walls), 3),
                        "search_min_s": round(min(walls), 3),
                        "compact_sec": round(compact_s, 2),
                    }
                    cells.append(cell)
                    print(f"{kind:14s} idx={idx_n:7d} batch={rows:6d} "
                          f"append={append_s:6.2f}s "
                          f"({rows / append_s:8.1f}/s) "
                          f"search_p50={cell['search_p50_s']:.3f}s "
                          f"compact={compact_s:6.2f}s", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    payload = {"metric": "ingest_grid_ann", "k": k, "nprobe": 2,
               "n_queries": ANN_NQ, "rerank": 50,
               "index_sizes": list(sizes), "batch_sizes": list(batches),
               "cells": cells}
    line = json.dumps(payload)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(ann_main() if "--ann" in sys.argv else main())
