"""Benchmark harness: runs the headline suite queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (r08+): stdout carries the FULL detail JSON (with
per-query mins/medians) first, then a compact per-query map as the
second-to-last line and a compact headline JSON as the FINAL line:
  {"deco_ngra_over":123,...}   per-query min in centiseconds, keyed by
                               the query name with every "_"-token cut
                               to 4 chars (unique over every query)
  {"metric":...,"value":total_sec,"unit":"sec","n_queries":N,"n_errors":E,
   "iters":I,"sf":...,"detail":"BENCH_DETAIL.json"}
The driver's stdout capture keeps only the last ~2000 chars; r07's
single-line per-query blob outgrew that and the official artifact parsed
as null, and full query names push the map past the window too
(tests/test_bench_output.py holds the last two lines under 1900 chars).
Per-query detail also lands in BENCH_DETAIL.json
($SPARK_GRAFT_BENCH_DETAIL overrides the path) and, for full-suite runs,
in a per-shape BENCH_DETAIL_sf{sf}_c{cpus}.json that only a same-shape
run overwrites (r17's 8-core scaling pass clobbered the 32-core detail
and PERF_r17 lost its per-query diff — VERDICT r17 #5).

Each query runs $SPARK_GRAFT_BENCH_ITERS times (default 3; JVM warmed
untimed first). "queries" reports the per-query MIN (the standard
noise-floor estimator — three rounds of single-shot timing showed
+-10-30%/query run-to-run drift on identical code); "queries_median"
carries the median so regressions that only widen variance stay visible.
"value" is the sum of mins.

Failure isolation: a query that raises is recorded in "errors" (first
line of the exception) and skipped in later iterations; every other
query still benches and the JSON line still prints. One broken query
must never blank the whole bench — an environment shift once crashed the
harness at query 13 of 25 and cost two rounds of numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "pricing_summary",
    "top_orders_by_revenue",
    "region_nation_revenue",
    "revenue_range_filter",
    "window_topk_per_group",
    "hist_nested",
    "word_hist_topk",
    "dedup_minhash_lsh",
    "knn_brute_force",
    "ann_ivf_topk",
    "geo_tile_hist",
    "tumbling_window_counts",
    "sessionize_events",
    "range_join_event_bursts",
    "cube_lineitem_flags",
    "multimodal_features",
    # round-4 additions (EXTRA registry, locally gated)
    "decontaminate_ngram_overlap",
    "text_repetition_stats",
    "cohort_retention",
    "text_tfidf_topk",
    "kmeans_embeddings",
    # round-4 wave 4: ingestion/mixture/zorder/stream-join additions
    "mixture_sample_tokens",
    "training_shuffle_mixing",
    "geo_zorder_density",
    "stream_interval_join_attribution",
    # round-6 additions
    "ann_pq_topk",
    # "dedup_containment" dropped from the curated slate in r13: the
    # df-capped blocker is strictly dominated by dedup_containment_exact
    # (lossless AND ~2x faster at every measured blow-up) and was the
    # slowest curated query (6.2 s). The capped blocker stays in the
    # library + EXTRA oracle gate as the documented bounded-fan-out
    # pattern; the full sweep (SPARK_GRAFT_BENCH_ALL=1) still times it.
    "cross_source_overlap",
    # round-7: the previously-unbenched heavyweights (EXTRA registry) — a
    # perf regression in an unbenched query is invisible, so every iterative
    # or multi-shuffle operator gets a recorded sf0.1 time
    "pagerank_word_graph",
    "dedup_cluster_survivors",
    "duplicated_window_fraction",
    "corpus_clean_summary",
    "word_cooccurrence_pmi",
    "inverted_index_rare",
    "funnel_conversion",
    "rolling_active_users",
    # round-7 new operators
    "semantic_dedup_pairs",
    "bpe_merge_candidates",
    "unigram_logprob_quality",
    # round-7 late wave: lossless prefix-filtered similarity joins (the
    # exact-threshold complement to LSH) + Lee-et-al span removal
    "dedup_ngram_jaccard",
    "dedup_containment_exact",
    "duplicated_span_removal",
    # round-8: retuned embedding near-dup (16x3-bit bands), its recall
    # canary (now driver-gated), and the new TPC-H Q7/Q8 join shapes
    "embedding_near_dup_pairs",
    "embedding_neardup_exact_pairs",
    "embedding_lsh_recall_report",
    "nation_trade_volume_by_year",
    "market_share_by_year",
    # round-9: the decorrelation trio + the real-MP3 decode gate (Arrow
    # pipeline cost is decode-bound — it must stay visible in the bench)
    "min_cost_supplier",
    "small_quantity_revenue",
    "dominant_part_suppliers",
    "multimodal_mp3_features",
    # round-11 gate rotation: the promoted TPC-H flagships are now
    # driver-gated, so their sf0.1 times must stay visible here too
    "shipping_priority_topk",
    "local_supplier_volume",
    "product_type_profit",
    "important_part_stock",
    "part_supplier_variety",
    # round-11 flagship: corpus decode-coverage observability (real MP3
    # encode+decode per stream inside the Arrow hop)
    "mp3_refusal_report",
    # round-12 flagships: whole-codec-matrix coverage (now driver-gated),
    # the SemDeDup production path (corpus-scaled K through the BLAS
    # batch argmin), and the animated-GIF decode certification
    "media_refusal_report",
    "semantic_dedup_scaled",
    "gif_animation_report",
    # round-13 flagships: image + video perceptual-hash near-dup (real
    # decode -> bilinear -> dHash inside the Arrow hop, banded pair joins)
    "image_phash_pairs",
    "video_phash_pairs",
    "audio_phash_pairs",
    # round-14 flagships: 256-bit block-dHash wide geometry and the
    # offset-tolerant (trim-robust) video near-dup vote
    "image_phash_wide_pairs",
    "video_phash_offset_pairs",
    # round-14 extension: offset-tolerant audio near-dup (chunked
    # fingerprints, trim-robust per-offset vote)
    "audio_phash_offset_pairs",
    # round-15 flagship: coarse 2x32 offset chunk banding (the measured
    # candidate-headroom geometry — PHASH_OFFSET_PROBE_r15). The promoted
    # ANN flagships (ann_ivf_index_topk / ann_ivf_pq_rerank_topk) build
    # their index inside the query, so their curated-bench signal lives
    # in the ann_*_search_only rows below; the full certification
    # entries stay timed in the BENCH_ALL sweep.
    "video_phash_offset_coarse_pairs",
    # round-16 flagships: the production-shaped PQ geometry's Arrow
    # encode/LUT kernels (build-inside certification entry) and the
    # coarse offset default's recall canary
    "ann_ivf_pq_wide_topk",
    "video_offset_coarse_recall",
]

# Non-DataFrame benchmarks: full pipelines that write to disk and return
# counts instead of a collectable DataFrame. Each entry is
# name -> callable(spark, sf_dir) doing ALL its work (timed like a query).
def _prepare_end_to_end(spark, sf_dir):
    """Timed end-to-end training-data preparation (clean -> split -> chunk ->
    pack -> shard + manifest) into a throwaway dir — the composed pipeline
    a 100 TB corpus run actually executes."""
    import shutil
    import tempfile

    from railgun_spark.operators.corpus import prepare_training_shards

    out = tempfile.mkdtemp(prefix="bench_prepare_")
    try:
        prepare_training_shards(spark, sf_dir, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# Search-only ANN rows (r14 VERDICT #4): the certification queries
# ann_ivf_index_topk / ann_ivf_pq_index_topk BUILD their index inside the
# timed query (three partitioned writes dominate), so the bench can't see
# a search-leg regression. These entries build once per process into a
# cached tempdir and time ONLY the batch search; the reported per-query
# MIN comes from the post-build iterations (the first iteration pays the
# build and never wins the min). The certification entries stay unchanged.
_ANN_BENCH_INDEX_CACHE: dict = {}


def _ann_bench_spec(kind: str):
    from railgun_spark.operators.similarity import IVF_INDEX, IVF_PQ_INDEX, IVFSpec

    return {
        "ivf": IVF_INDEX,
        "pq": IVF_PQ_INDEX,
        # the production shape: 8x256 residual codes + raw refine store,
        # searched as a residual ADC shortlist + exact refine
        "wide_res": IVFSpec(m=8, ks=256, residual=True, store_raw=True, rerank=50),
    }[kind]


def _ann_bench_index(spark, sf_dir: str, kind: str) -> str:
    key = (sf_dir, kind)
    if key not in _ANN_BENCH_INDEX_CACHE:
        import atexit
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from railgun_spark.operators.similarity import (
            IVF_INDEX_QUERY_IDS,
            build_index,
            to_double,
        )

        d = tempfile.mkdtemp(prefix=f"bench_{kind}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "label", to_double(F.col("embedding")).alias("v")
        )
        build_index(emb, d, _ann_bench_spec(kind), exclude_ids=IVF_INDEX_QUERY_IDS)
        _ANN_BENCH_INDEX_CACHE[key] = d
    return _ANN_BENCH_INDEX_CACHE[key]


def _ann_search_only(spark, sf_dir: str, kind: str) -> None:
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_INDEX_QUERY_IDS,
        search_index,
        to_double,
    )

    idx = _ann_bench_index(spark, sf_dir, kind)
    queries = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    ).filter(F.col("vec_id").isin(list(IVF_INDEX_QUERY_IDS))).select(
        F.col("vec_id").alias("qid"), "v"
    )
    spec = _ann_bench_spec(kind)
    search_index(
        spark, queries, idx, pq=spec.pq, nprobe=spec.nprobe, rerank=spec.rerank
    ).collect()


BENCH_SPECIAL = {
    "prepare_end_to_end": _prepare_end_to_end,
    "ann_ivf_search_only": lambda spark, sf_dir: _ann_search_only(
        spark, sf_dir, "ivf"
    ),
    "ann_ivf_pq_search_only": lambda spark, sf_dir: _ann_search_only(
        spark, sf_dir, "pq"
    ),
    # r16: the production-shaped index (8x256 residual IVFADC codes +
    # raw refine store) searched with rerank=50 — the path whose recall
    # curve lives in ANN_RECALL_CLUSTERED_r16
    "ann_ivf_pq_wide_rerank_search_only": lambda spark, sf_dir: (
        _ann_search_only(spark, sf_dir, "wide_res")
    ),
}

# SPARK_GRAFT_BENCH_ALL=1 benches EVERY registered query (REGISTRY+EXTRA)
# instead of the curated list — the full-coverage sweep that makes a perf
# regression in ANY query visible. Not the per-round default (the driver's
# budget fits the curated list), but tools/ and pre-release checks use it.

# Iteration ordering (r17, VERDICT r16 #4): entries that build an index or
# write shards INSIDE the timed region churn the page cache and spill
# dirs, and in r16 the rows timed right after them carried medians 2-3x
# above their mins (ann_ivf_search_only 3.90 vs 1.41 s) — iteration
# variance, not regression. Each pass now runs the cache-sensitive
# search-only rows FIRST and the build-inside/pipeline entries LAST, so
# their churn lands after everything tight has been timed.
_BUILD_INSIDE = [
    "ann_ivf_index_topk", "ann_ivf_pq_index_topk", "ann_ivf_pq_rerank_topk",
    "ann_ivf_pq_residual_topk", "ann_ivf_pq_wide_topk",
]
_PIPELINE_LAST = ["prepare_end_to_end"]


def _ordered(names: list) -> list:
    head = [n for n in names
            if n in BENCH_SPECIAL and n not in _PIPELINE_LAST]
    rest = [n for n in names
            if n not in _BUILD_INSIDE and n not in BENCH_SPECIAL]
    tail = ([n for n in names if n in _BUILD_INSIDE]
            + [n for n in names if n in _PIPELINE_LAST])
    return head + rest + tail


def _short_name(name: str) -> str:
    """`name` with every "_"-token cut to 4 chars — the per-query tail
    map's key."""
    return "_".join(t[:4] for t in name.split("_"))


def _tail_lines(mins: dict, headline: dict) -> list:
    """The last two stdout lines: {short name: centiseconds} of the
    per-query mins, then the headline."""
    per_query = {_short_name(n): round(s * 100) for n, s in mins.items()}
    return [
        json.dumps(per_query, separators=(",", ":")),
        json.dumps(headline, separators=(",", ":")),
    ]


def main():
    from railgun_spark import suite
    from railgun_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("railgun_spark_bench")
    qs = suite.all_queries()  # includes locally-gated extras (revenue_range_filter)

    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))

    # warm the JVM + file listing with the cheapest query, untimed
    try:
        qs["pricing_summary"](spark, sf_dir).collect()
    except Exception:
        pass  # the timed loop will record the error per-query
    # prime the search-only rows' cached indexes UNTIMED: the one-time
    # builds are not search cost, and folding them into iteration 1
    # made those rows' medians 2-3x their mins in r16
    if not os.environ.get("SPARK_GRAFT_BENCH_ONLY"):
        for kind in ("ivf", "pq", "wide_res"):
            try:
                _ann_bench_index(spark, sf_dir, kind)
            except Exception:
                pass  # the timed row will record the error

    if os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1":
        all_names = _ordered(list(qs) + list(BENCH_SPECIAL))
    else:
        all_names = _ordered(BENCH_QUERIES + list(BENCH_SPECIAL))
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:  # comma list: targeted re-bench while iterating on a query
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in qs and n not in BENCH_SPECIAL]
        if unknown:
            print(json.dumps({"error": f"unknown bench queries {unknown}"}))
            return
        all_names = wanted
    samples: dict[str, list[float]] = {name: [] for name in all_names}
    errors: dict[str, str] = {}
    # wall budget: the suite has grown past 40 queries, and an external
    # harness timeout would blank ALL numbers. Complete iterations are
    # dropped instead: after each full pass, stop if the next one would
    # plausibly overrun — min-of-fewer-iters beats no JSON line at all.
    # The BENCH_ALL sweep gets a larger default: at 126+ queries the 480 s
    # curated budget truncated it to 2 iterations, making the recorded
    # median the max of two runs (r8 verdict finding) — round-over-round
    # comparisons then chased ~1.2x machine-load noise instead of code.
    # 900 s re-truncated the 155-query r15 sweep to 2 iters (min-of-2
    # read uniformly ~x1.05 vs r14's min-of-3 and the compare had to
    # normalize it away — r15 verdict #4); 1800 s fits 3 full passes.
    default_budget = "1800" if os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1" else "480"
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", default_budget))
    t_start = time.time()
    iters_done = 0
    for _ in range(iters):  # interleave iterations so drift hits all queries alike
        if iters_done > 0 and (time.time() - t_start) * (iters_done + 1) / iters_done > budget:
            break
        for name in all_names:
            if name in errors:
                continue
            t0 = time.time()
            try:
                if name in BENCH_SPECIAL:
                    BENCH_SPECIAL[name](spark, sf_dir)
                else:
                    qs[name](spark, sf_dir).collect()
            except Exception as e:
                errors[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                continue
            samples[name].append(time.time() - t0)
        iters_done += 1

    # a query in `errors` contributes NOTHING to the headline numbers even
    # if earlier iterations succeeded — blending a 1-sample min into a
    # total that other rounds compare against would skew silently
    done = {n: ts for n, ts in samples.items() if ts and n not in errors}
    mins = {n: round(min(ts), 3) for n, ts in done.items()}
    medians = {n: round(sorted(ts)[len(ts) // 2], 3) for n, ts in done.items()}
    total = round(sum(mins.values()), 3)
    out = {
        "metric": "suite_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": mins,
        "queries_median": medians,
        "iters": iters_done,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    # The driver captures only the LAST ~2000 chars of stdout; r07's
    # full per-query blob outgrew that window and the official artifact
    # recorded parsed:null. So: per-query detail goes to a sidecar file
    # (and to stdout FIRST, for humans), and the FINAL stdout line is a
    # compact headline JSON with no per-query dicts — stays parseable at
    # any suite size.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    # r18 (VERDICT r17 #5): PERF_r17 could not diff per-query because
    # BENCH_DETAIL.json is overwritten by every run (the 8-core scaling
    # pass clobbered the 32-core detail). Also write a per-(sf, cpus)
    # tagged copy that only a run of the SAME shape overwrites, and
    # point the headline's "detail" field at it.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # the BENCH_ALL sweep (163 rows, different ordering/cache profile)
    # gets its own tag — it must not clobber the curated 72-row detail
    # the round-over-round diff reads
    all_tag = "all_" if os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1" else ""
    tagged_path = os.path.join(
        os.path.dirname(detail_path), f"BENCH_DETAIL_{all_tag}sf{sf}_c{cpus}.json"
    )
    # a targeted (SPARK_GRAFT_BENCH_ONLY) re-bench must not clobber the
    # tagged full-suite detail with a few-query subset
    paths = [detail_path] if only else [detail_path, tagged_path]
    for p in paths:
        try:
            with open(p, "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
        except OSError:
            pass  # a read-only checkout must not blank the headline line
    print(json.dumps(out))  # full detail first — safe to truncate
    headline = {
        "metric": "suite_total_runtime",
        "value": total,
        # min alongside median (VERDICT r16 #4): a headline that only
        # sums mins hides variance, one that only sums medians reads
        # iteration noise as regression — report both
        "value_median": round(sum(medians.values()), 3),
        "unit": "sec",
        "n_queries": len(done),
        "n_errors": len(errors),
        "iters": iters_done,
        "sf": out["sf"],
        "detail": os.path.basename(detail_path if only else tagged_path),
    }
    # always exit 0 with the JSON lines printed: partial numbers + an
    # explicit error count beat rc=1 with no numbers at all
    for line in _tail_lines(mins, headline):
        print(line)


if __name__ == "__main__":
    main()
