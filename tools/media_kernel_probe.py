"""Scale curves for the REAL media transform kernels (r12 VERDICT #5):
resize_images and resample_audio as LIBRARY APIs under growing media
payload bytes.

The r12 oracle reports certified the kernels on tiny crafted payloads;
this probe measures the kernels themselves at 1x / 4x / 10x total media
bytes (real PPM rasters through decode -> bilinear -> PNG re-encode;
real PCM WAVs through decode -> linear interp -> 16-bit re-encode) plus
the new perceptual-hash pass (decode -> 2x bilinear -> dHash/aHash).
Each stage is one Arrow mapInPandas pass whose cost is per-byte decode
work, so the expected curve is linear in payload bytes; the ratios
printed here pin that. spread_scan(heavy=True) keeps the CPU-bound
stage on all cores despite the single-file synthetic source.

Usage: python tools/media_kernel_probe.py [--out MEDIA_KERNEL_PROBE.json]
"""

from __future__ import annotations

import json
import os
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

# base scale: ~10 MB images + ~8 MB audio; 4x / 10x multiply row counts
N_IMAGES, IMG_W, IMG_H = 400, 96, 72
N_CLIPS, CLIP_SAMPLES = 400, 8000
SCALES = (1, 4, 10, 25)


def _media_rows(spark, n_images: int, n_clips: int):
    """Deterministic MEDIA_SCHEMA frame: binary P6 PPMs with per-pixel
    doc-derived bytes (so PNG re-encode can't trivially compress away the
    work) and 16-bit PCM WAVs of a doc-derived tone."""
    import numpy as np
    import pandas as pd

    from railgun_spark.operators.multimodal import MEDIA_SCHEMA
    from railgun_spark.session import spread_scan

    ids = spark.range(n_images + n_clips).select(F.col("id").alias("media_id"))

    def synth(it):
        for pdf in it:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                if mid < n_images:
                    rng = np.random.RandomState(mid)
                    px = rng.randint(0, 256, size=(IMG_H, IMG_W, 3), dtype=np.uint8)
                    blob = (b"P6\n" + f"{IMG_W} {IMG_H}\n255\n".encode()
                            + px.tobytes())
                    rows.append((mid, "image", blob, {}))
                else:
                    t = np.arange(CLIP_SAMPLES)
                    freq = 100 + (mid % 50) * 7
                    s = np.round(
                        9000 * np.sin(2 * np.pi * freq * t / 8000)
                    ).astype("<i2").tobytes()
                    wav = (b"RIFF" + struct.pack("<I", 36 + len(s)) + b"WAVE"
                           + b"fmt "
                           + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
                           + b"data" + struct.pack("<I", len(s)) + s)
                    rows.append((mid, "audio", wav, {}))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content", "meta"])

    return spread_scan(ids, heavy=True).mapInPandas(synth, MEDIA_SCHEMA)


def _timed(df) -> tuple[float, int]:
    t0 = time.time()
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("content")).alias("bytes"),
    ).collect()[0]
    return time.time() - t0, int(row["bytes"])


def main() -> int:
    out_path = "MEDIA_KERNEL_PROBE.json"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]

    from railgun_spark.operators.multimodal import resample_audio, resize_images
    from railgun_spark.operators.phash import (
        audio_chunk_fingerprints,
        image_perceptual_hashes,
        image_perceptual_hashes_wide,
    )
    from railgun_spark.session import get_spark

    spark = get_spark("media_kernel_probe")
    results: dict = {"scales": {}, "base": {
        "n_images": N_IMAGES, "img": [IMG_W, IMG_H],
        "n_clips": N_CLIPS, "clip_samples": CLIP_SAMPLES,
    }}
    for scale in SCALES:
        media = _media_rows(spark, N_IMAGES * scale, N_CLIPS * scale)
        media = media.localCheckpoint()  # time the kernels, not the synth
        cell: dict = {}
        wall, nbytes = _timed(resize_images(media.filter(F.col("kind") == "image"),
                                            IMG_W // 2, IMG_H // 2))
        cell["resize"] = {"wall_s": round(wall, 3), "out_bytes": nbytes}
        wall, nbytes = _timed(resample_audio(media.filter(F.col("kind") == "audio"),
                                             16000))
        cell["resample"] = {"wall_s": round(wall, 3), "out_bytes": nbytes}
        t0 = time.time()
        n_hashed = image_perceptual_hashes(media).filter(
            F.col("refused").isNull()
        ).count()
        cell["phash"] = {"wall_s": round(time.time() - t0, 3), "n": n_hashed}
        t0 = time.time()
        n_wide = image_perceptual_hashes_wide(media).filter(
            F.col("refused").isNull()
        ).count()
        cell["phash_wide"] = {"wall_s": round(time.time() - t0, 3), "n": n_wide}
        t0 = time.time()
        n_chunks = audio_chunk_fingerprints(media).filter(
            F.col("refused").isNull()
        ).count()
        cell["audio_chunk_fp"] = {
            "wall_s": round(time.time() - t0, 3), "n_chunks": n_chunks,
        }
        results["scales"][str(scale)] = cell
        print(f"scale x{scale}: {json.dumps(cell)}", flush=True)
        media.unpersist()

    for op in ("resize", "resample", "phash", "phash_wide", "audio_chunk_fp"):
        w1 = results["scales"]["1"][op]["wall_s"]
        for s in SCALES[1:]:
            results[f"{op}_ratio_{s}x"] = round(
                results["scales"][str(s)][op]["wall_s"] / w1, 2
            )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps({k: v for k, v in results.items() if k.endswith("x")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
