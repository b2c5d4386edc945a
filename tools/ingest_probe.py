"""Ingest-gate throughput probe: drain the sf0.1 corpus through the
streaming dedup gate (foreachBatch + persisted fingerprint index) and
report docs/sec for the two phases that matter operationally:

  wave 1 — fresh corpus: every batch pays intra-batch dedup, the index
           anti-join, the sink write AND the index append;
  wave 2 — full replay of the same content against the now-populated
           index: the gate rejects everything (admission work only, no
           writes) — the steady-state cost of re-crawled duplicates.

Shards are landed as N separate files so availableNow processes N
micro-batches (maxFilesPerTrigger=1), exercising the per-batch overhead
honestly rather than one giant batch.

Usage: python tools/ingest_probe.py [n_shards] [--span]   (default 8)
  --span: also gate every batch through the window-hash span index
  (exact-substring filter) — measures the full three-index admission
  path (content hash + span windows) instead of the exact gate alone.
Prints one JSON line:
  {"metric": "ingest_throughput", "wave1": {"docs": N, "admitted": M,
   "sec": s, "docs_per_sec": r}, "wave2": {...}, "sf": ...}

Measured (sf0.1 = 5000 docs in 8 shards, local[32], 2026-08-14):
  wave1 (fresh):  4992/5000 admitted, 9.5 s  = 524 docs/s
  wave2 (replay):    0/5000 admitted, 4.3 s  = 1161 docs/s
With --span (content-hash + window-hash gates, same run shape):
  wave1 (fresh):  4731/5000 admitted, 24.0 s = 208 docs/s — the span
    gate additionally rejects 261 docs whose 10-word spans duplicate
    earlier-admitted shards (cross-shard boilerplate the exact gate
    cannot see); ~2.5x wall for window hashing + the second index leg
  wave2 (replay):    0/5000 admitted, 6.9 s  = 729 docs/s
Both waves are micro-batch-overhead bound at this size (~1.2 s and
~0.5 s per availableNow batch respectively) — per-doc cost is in the
noise, so real throughput scales with batch size: the gate's joins are
hash equi-joins whose work grows with rows, while the 8-per-batch
overheads amortize away at production shard sizes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from railgun_spark.session import get_spark
    from railgun_spark.streaming.ingest import stream_ingest_dedup_availablenow

    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_shards = int(pos[0]) if pos else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("ingest_probe")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    work = tempfile.mkdtemp(prefix="ingest_probe_")
    src = os.path.join(work, "arriving")
    # land as n_shards flat part-files (the file source lists, not recurses)
    stage = os.path.join(work, "stage")
    docs.repartition(n_shards).write.parquet(stage)
    os.makedirs(src)
    parts = sorted(p for p in os.listdir(stage) if p.endswith(".parquet"))
    for i, p in enumerate(parts):
        shutil.move(os.path.join(stage, p), os.path.join(src, f"shard{i}.parquet"))

    with_span = "--span" in sys.argv
    idx = os.path.join(work, "idx")
    span_idx = os.path.join(work, "span_idx") if with_span else None
    out = {}
    for wave in (1, 2):
        t0 = time.time()
        admitted = stream_ingest_dedup_availablenow(
            spark,
            src,
            docs.schema,
            index_path=idx,
            sink_path=os.path.join(work, f"corpus{wave}"),
            checkpoint_dir=os.path.join(work, f"ckpt{wave}"),
            span_index_path=span_idx,
        )
        dt = time.time() - t0
        out[f"wave{wave}"] = {
            "docs": n_docs,
            "admitted": admitted,
            "sec": round(dt, 2),
            "docs_per_sec": round(n_docs / dt, 1),
        }

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "ingest_throughput",
                "n_shards": n_shards,
                "span_gate": with_span,
                **out,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
