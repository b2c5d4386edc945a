"""Two-point scale curve at sf1: materialize a REAL sf1-shaped dataset
(10x rows with naturally extended keyspaces — NOT the duplicate-clique
blow-ups of tools/scale_probe.py) and time the suite's heavyweights at
sf0.1 vs sf1. The clique blow-up stresses candidate explosion; THIS
probe catches the constants it misses: shuffle partition counts,
broadcast-threshold crossings, file-split granularity, per-partition
memory at 10x organic cardinality.

Dataset construction (deterministic, seeded by copy index i = 0..9):
- fact/dim keys shift by i * 10^8 so every join keeps its exact
  semantics while key cardinality grows 10x (orders<->lineitem,
  part/supplier/customer joins all stay consistent within a copy);
- document texts are token-salted per copy (every token prefixed
  ``c{i}``) so text workloads grow LINEARLY — cross-copy similarity is
  zero by construction, matching organic corpus growth;
- embeddings flip the sign of ~1/5 of dimensions per copy (pattern
  (7*idx + 13*i) % 5 == 0), preserving norms while pushing cross-copy
  cosine far below every near-dup threshold;
- events shift user_id and event_id; timestamps keep their window so
  time-windowed density grows 10x (the realistic shape for larger SF).

Output: one JSON line per query with sf0.1 wall, sf1 wall, the
wall ratio, and a verdict against the query's EXPECTED scaling —
``linear`` ops must stay under ratio 13 (10x rows + 30% slack),
``quadratic-arith`` ops (exact all-pairs self-joins over 10x vectors =
100x BLAS arithmetic) under 130. Any miss names the query.

Usage: python tools/sf1_probe.py [query ...]   (default: the top-10
heavyweights + two TPC-H join shapes)
Env: SPARK_GRAFT_SF1_DIR (default /tmp/sf1_probe) — reused if the
completion marker exists; delete the dir to rebuild.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
K = 10
SHIFT = 10**8

# query -> expected scaling class
PROBES = {
    "prepare_end_to_end": "linear",
    "dedup_containment": "linear",
    "corpus_clean_summary": "linear",
    "duplicated_window_fraction": "linear",
    "dedup_cluster_survivors": "linear",
    "dedup_ngram_jaccard": "linear",
    "dedup_minhash_lsh": "linear",
    "pagerank_word_graph": "linear",
    "semantic_dedup_pairs": "quadratic-arith",
    "embedding_near_dup_pairs": "quadratic-arith",
    "embedding_neardup_exact_pairs": "quadratic-arith",
    "pricing_summary": "linear",
    "market_share_by_year": "linear",
    "min_cost_supplier": "linear",
    # real MP3 decode through the Arrow hop: 10x documents = 10x streams;
    # the repartitioned decode stage must track cores, not file splits
    "multimodal_mp3_features": "linear",
    # crafted-media certification pipelines: 10x doc_id keyspace = 10x
    # clips; banded joins only pair within a variant family, so the
    # pipelines are decode-bound linear
    "image_phash_wide_pairs": "linear",
    "image_phash_wide_coarse_pairs": "linear",
    "video_phash_offset_pairs": "linear",
    "audio_phash_offset_pairs": "linear",
    # persistent ANN certifications: build (assignment/encoding is one
    # map pass over 10x vectors against fixed-k literal centroids) +
    # pruned batch search — linear end to end
    "ann_ivf_index_topk": "linear",
    "ann_ivf_pq_index_topk": "linear",
    # r15: + store_raw write and an ADC-shortlisted exact refine (R
    # rows per query against the pruned raw partitions) — still linear
    "ann_ivf_pq_rerank_topk": "linear",
    # r15: coarse 2x32 offset chunk banding — candidates track true
    # pairs by construction (PHASH_OFFSET_PROBE_r15), decode-bound
    "video_phash_offset_coarse_pairs": "linear",
}
RATIO_BOUND = {"linear": 13.0, "quadratic-arith": 130.0}


def _build_sf1(spark, out_dir: str) -> None:
    marker = os.path.join(out_dir, "_SF1_COMPLETE")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)

    def copies(df, build):
        parts = [build(df, i) for i in range(K)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    t0 = time.time()
    # small dims pass through untouched (25 nations / 5 regions at any SF)
    for t in ("nation", "region"):
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    copies(orders, lambda df, i: df.select(
        (F.col("o_orderkey") + i * SHIFT).alias("o_orderkey"),
        (F.col("o_custkey") + i * SHIFT).alias("o_custkey"),
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    )).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    copies(li, lambda df, i: df.select(
        (F.col("l_orderkey") + i * SHIFT).alias("l_orderkey"),
        (F.col("l_partkey") + i * SHIFT).alias("l_partkey"),
        (F.col("l_suppkey") + i * SHIFT).alias("l_suppkey"),
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    copies(cust, lambda df, i: df.select(
        (F.col("c_custkey") + i * SHIFT).alias("c_custkey"),
        F.concat("c_name", F.lit(f"#{i}")).alias("c_name"),
        "c_nationkey", "c_acctbal", "c_mktsegment",
    )).write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    part = spark.read.parquet(f"{SRC}/part.parquet")
    copies(part, lambda df, i: df.select(
        (F.col("p_partkey") + i * SHIFT).alias("p_partkey"),
        "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
    )).write.mode("overwrite").parquet(f"{out_dir}/part.parquet")

    sup = spark.read.parquet(f"{SRC}/supplier.parquet")
    copies(sup, lambda df, i: df.select(
        (F.col("s_suppkey") + i * SHIFT).alias("s_suppkey"),
        F.concat("s_name", F.lit(f"#{i}")).alias("s_name"),
        "s_nationkey", "s_acctbal",
    )).write.mode("overwrite").parquet(f"{out_dir}/supplier.parquet")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    # token-salting: every token prefixed per copy -> zero cross-copy
    # token overlap, linear near-dup workload, n_chars recomputed
    def doc_copy(df, i):
        salted = F.array_join(
            F.transform(F.split("text", " "), lambda t: F.concat(F.lit(f"c{i}"), t)),
            " ",
        )
        return df.select(
            (F.col("doc_id") + i * SHIFT).alias("doc_id"),
            salted.alias("text"),
            "lang",
            F.concat("source", F.lit(f"_{i}")).alias("source"),
            F.length(salted).cast("long").alias("n_chars"),
        )
    copies(docs, doc_copy).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    def emb_copy(df, i):
        if i == 0:
            flipped = F.col("embedding")
        else:
            flipped = F.transform(
                "embedding",
                lambda x, idx: F.when(
                    (idx * 7 + i * 13) % 5 == 0, -x
                ).otherwise(x),
            )
        return df.select(
            (F.col("vec_id") + i * SHIFT).alias("vec_id"),
            flipped.alias("embedding"),
            "label",
        )
    copies(emb, emb_copy).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    from railgun_spark.sources.tables import load_events

    ev = load_events(spark, SRC)
    copies(ev, lambda df, i: df.select(
        (F.col("event_id") + i * SHIFT).alias("event_id"),
        "ts",
        (F.col("user_id") + i * SHIFT).alias("user_id"),
        "event_type", "value", "props",
    )).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    with open(marker, "w") as f:
        f.write(json.dumps({"built_s": round(time.time() - t0, 1), "k": K}))
    print(f"sf1 dataset built in {time.time() - t0:.0f}s at {out_dir}")


def _run(spark, name, sf_dir):
    from railgun_spark import suite

    if name == "prepare_end_to_end":
        import shutil
        import tempfile

        from railgun_spark.operators.corpus import prepare_training_shards

        out = tempfile.mkdtemp(prefix="sf1_prepare_")
        t0 = time.time()
        try:
            prepare_training_shards(spark, sf_dir, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return time.time() - t0, -1
    fn = suite.all_queries()[name]
    t0 = time.time()
    rows = len(fn(spark, sf_dir).collect())
    return time.time() - t0, rows


def main() -> None:
    from railgun_spark.session import get_spark

    names = [a for a in sys.argv[1:] if a in PROBES] or list(PROBES)
    unknown = [a for a in sys.argv[1:] if a not in PROBES]
    if unknown:
        print(f"unknown probes {unknown}; available: {sorted(PROBES)}",
              file=sys.stderr)
    out_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1_probe")
    spark = get_spark("sf1_probe")
    _build_sf1(spark, out_dir)

    results = {}
    misses = []
    for name in names:
        kind = PROBES[name]
        # warm each side once? No: single timed run per side, sf0.1 first
        # (it doubles as JVM/file-listing warmup for the sf1 run)
        s01, r01 = _run(spark, name, SRC)
        s1, r1 = _run(spark, name, out_dir)
        ratio = s1 / s01 if s01 > 0 else float("inf")
        ok = ratio <= RATIO_BOUND[kind]
        if not ok:
            misses.append(name)
        results[name] = {
            "sf0.1_s": round(s01, 2), "sf1_s": round(s1, 2),
            "ratio": round(ratio, 2), "rows_sf0.1": r01, "rows_sf1": r1,
            "expected": kind, "ok": ok,
        }
        print(f"{name:32s} {s01:7.2f}s -> {s1:8.2f}s  x{ratio:6.2f} "
              f"[{kind}] {'ok' if ok else 'MISS'}", flush=True)
    print(json.dumps({
        "metric": "sf1_scale_probe", "k": K, "queries": results,
        "misses": misses,
    }))


if __name__ == "__main__":
    main()
