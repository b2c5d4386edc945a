"""Quantizer/codebook training wall at production index size: full-corpus
Lloyd vs the bounded deterministic sample (train_ivf_centroids /
train_pq_codebooks `sample`, the FAISS max(256*k, 1e5) recipe).

The scale claim under test (VERDICT r16 worklist #2): without the bound,
coarse-quantizer training iterates over EVERY vector per iteration and
PQ training runs m sequential Lloyd loops over the full corpus —
m*iters full-corpus passes (160 at m=16, iters=10); with it, one
sampling pass materializes a bounded frame that all iterations share, so
the training wall stops tracking corpus size entirely. Quality is
checked, not assumed: the probe reports the full-corpus quantization
error (mean nearest-centroid / per-subspace nearest-codeword squared
distance) of both quantizers — sampled training must stay within a few
percent.

Usage: python tools/ann_train_probe.py [--out FILE] [--n N] [--k K]
Prints one JSON line:
{"metric": "ann_train_sampled", "n": N, "k": K,
 "ivf": {"full_s": ..., "sampled_s": ..., "speedup": ...,
         "mse_full": ..., "mse_sampled": ..., "mse_ratio": ...},
 "pq":  {...same fields..., "m": 8, "ks": 256}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import numpy as np
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        _pq_geometry,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from railgun_spark.session import get_spark

    out = None
    n, k = 500_000, 512
    m, ks, pq_iters, ivf_iters = 8, 256, 4, 4
    if "--out" in sys.argv:
        out = sys.argv[sys.argv.index("--out") + 1]
    if "--n" in sys.argv:
        n = int(sys.argv[sys.argv.index("--n") + 1])
    if "--k" in sys.argv:
        k = int(sys.argv[sys.argv.index("--k") + 1])

    spark = get_spark("ann_train_probe")
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(11 + i) for i in range(64)]).alias("v"),
    ).localCheckpoint()

    # full-corpus error evaluation on a fixed 20k evaluation slice
    # (driver-side BLAS; the metric compares quantizers, a consistent
    # slice is all that's needed)
    eval_rows = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(25)) == 0) \
        .limit(20_000).collect()
    X = np.array([r["v"] for r in eval_rows])

    def centroid_mse(cents) -> float:
        C = np.array([cv for _, cv in cents])
        best = np.full(len(X), np.inf)
        for lo in range(0, len(C), 64):
            d = ((X[:, None, :] - C[None, lo:lo + 64, :]) ** 2).sum(-1)
            best = np.minimum(best, d.min(axis=1))
        return float(best.mean())

    def pq_mse(books) -> float:
        ms, ds, _ = _pq_geometry(books)
        tot = 0.0
        for i, mm in enumerate(ms):
            sub = X[:, mm * ds:(mm + 1) * ds]
            B = np.array([cv for _, cv in books[mm]])
            d = ((sub[:, None, :] - B[None, :, :]) ** 2).sum(-1)
            tot += float(d.min(axis=1).mean())
        return tot

    result: dict = {"metric": "ann_train_sampled", "n": n, "k": k,
                    "ivf_iters": ivf_iters, "pq_iters": pq_iters}

    t0 = time.time()
    cents_full = train_ivf_centroids(emb, k=k, iters=ivf_iters, sample=None)
    full_s = time.time() - t0
    t0 = time.time()
    cents_sampled = train_ivf_centroids(emb, k=k, iters=ivf_iters)  # auto
    sampled_s = time.time() - t0
    mse_f, mse_s = centroid_mse(cents_full), centroid_mse(cents_sampled)
    result["ivf"] = {
        "full_s": round(full_s, 1), "sampled_s": round(sampled_s, 1),
        "speedup": round(full_s / sampled_s, 2),
        "mse_full": round(mse_f, 6), "mse_sampled": round(mse_s, 6),
        "mse_ratio": round(mse_s / mse_f, 4),
    }
    print(f"ivf k={k}: full={full_s:.1f}s sampled={sampled_s:.1f}s "
          f"(x{full_s / sampled_s:.2f}) mse ratio "
          f"{mse_s / mse_f:.4f}", flush=True)

    t0 = time.time()
    books_full = train_pq_codebooks(emb, m=m, ks=ks, iters=pq_iters,
                                    sample=None)
    full_s = time.time() - t0
    t0 = time.time()
    books_sampled = train_pq_codebooks(emb, m=m, ks=ks, iters=pq_iters)
    sampled_s = time.time() - t0
    mse_f, mse_s = pq_mse(books_full), pq_mse(books_sampled)
    result["pq"] = {
        "m": m, "ks": ks,
        "full_s": round(full_s, 1), "sampled_s": round(sampled_s, 1),
        "speedup": round(full_s / sampled_s, 2),
        "mse_full": round(mse_f, 6), "mse_sampled": round(mse_s, 6),
        "mse_ratio": round(mse_s / mse_f, 4),
    }
    print(f"pq {m}x{ks}: full={full_s:.1f}s sampled={sampled_s:.1f}s "
          f"(x{full_s / sampled_s:.2f}) mse ratio "
          f"{mse_s / mse_f:.4f}", flush=True)

    line = json.dumps(result)
    print(line)
    if out:
        with open(out, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
