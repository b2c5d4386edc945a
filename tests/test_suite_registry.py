"""Registry-size regression guard + local oracle gate for EXTRA queries.

The driver's correctness gate checks only the first ``DRIVER_GATE_LIMIT``
(=50) registered queries, in registration order. REGISTRY must hold exactly
that many: past it, the tail silently loses gate correctness coverage —
the guard here fails loudly instead. Demoted/verify-only queries live in ``suite.EXTRA``
and are held to the identical oracle gate locally (sf0.001 in pytest;
sf0.01 via ``tools/check_correctness.py --extra``).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from railgun_spark import suite

TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

EXPECTED_EXTRA = {
    "revenue_range_filter",  # between+agg: covered by dfl_between_filter + pricing_summary
    "filter_membership",  # in/iin: same §2.2 row as filter_ilike/dfl_between_filter
    "hist_event_type",  # 1-arg hist: hist_nested supersets
    "project_construct",  # native twin of dfl_project_construct
    "window_running",  # running totals: window_topk/rank keep §2.5 certified
    "sort_desc_limit",  # native twin of dfl_sort_desc_limit
    "conditional_agg_priority",  # conditional agg: promo_revenue_ratio certifies
    # round-4 additions past the gate cap (locally gated, scale-first designs)
    "decontaminate_ngram_overlap",  # benchmark n-gram overlap, broadcast eval side
    "text_repetition_stats",  # Gopher-style repetition quality profile
    "dedup_cluster_survivors",  # transitive near-dup clusters via min-label CC
    "corpus_split_histogram",  # content-hash train/val/test assignment
    "text_bpe_token_estimate",  # pre-tokenizer-shaped token budget
    "window_topk_salted",  # skew-proof two-stage top-k per group
    "rolling_active_users",  # DAU/7-day-WAU rolling distinct
    "pivot_status_by_priority",  # explicit-value-list pivot
    "cohort_retention",  # first-day cohorts x day offset
    "funnel_conversion",  # strictly-ordered 3-stage funnel
    "text_tfidf_topk",  # tf-idf relevance weights
    "inverted_index_rare",  # rare-term posting lists
    "kmeans_embeddings",  # 2-iteration Lloyd's clustering
    "profile_orders_columns",  # per-column nulls + exact distinct
    "value_histogram_events",  # fixed-width numeric histogram
    "daily_revenue_gapfill",  # date-spine gap fill + 7-day MA
    "events_anomaly_zscore",  # daily-volume z-score outliers
    "stratified_sample_langs",  # deterministic per-stratum sample
    "event_transition_matrix",  # Markov transition counts
    "inter_event_time_hist",  # log-bucketed gap histogram
    "word_cooccurrence_pmi",  # collocation mining with PMI
    "item_cooccurrence_topk",  # market-basket co-purchase pairs
    "customer_revenue_deciles",  # ntile(10) spend deciles
    "document_chunking",  # map-side token-window chunking
    "training_shuffle_mixing",  # salted-hash epoch shuffle mixing proof
    "stream_interval_join_attribution",  # stream-stream join batch twin
    "geo_zorder_density",  # Morton bit-interleave cross-engine gate
    # round-6 additions: corpus-health reporting
    "source_quality_report",  # per-source docs/dups/tokens/quality means
    "token_length_histogram",  # power-of-two token buckets + cum share
    "text_entropy_profile",  # word-unigram entropy quality signal
    "sole_return_supplier_ranking",  # Q21-shaped exists/not-exists as one agg
    "funnel_latency_percentiles",  # nearest-rank time-to-convert per leg
    "key_skew_report_events",  # join-key skew profile (salting decision input)
    "mixture_temperature_shares",  # p^alpha multilingual mixture shares
    "geo_quadkey_rollup",  # Bing quadkey prefix-hierarchy rollup
    "dedup_loss_by_source",  # per-source global-dedup loss fractions
    # round-7 rotation: legacy capability-twins demoted so the driver gate
    # certifies the round-4/6 flagships instead (capabilities stay certified
    # by a REGISTRY sibling or an EXTRA twin + this local gate)
    "filter_ilike",  # like/ilike: dfl compiler certifies the predicate row
    "dfl_sort_desc_limit",  # twin of sort_desc_limit (also EXTRA)
    "dfl_project_construct",  # twin of project_construct (also EXTRA)
    "distinct_sort_limit",  # set(@)/distinct: set_ops_datasets certifies
    "multimodal_kind_stats",  # multimodal_features + frame_sample certify
    "agg_global_stats",  # global aggregates: pricing_summary certifies
    "array_set_algebra",  # §2.7 set ops: set_ops_datasets certifies
    "embedding_centroid_stats",  # centroids: kmeans_embeddings + ann_ivf certify
    # round-7 additions
    "containment_recall_report",  # df-cap blocker-invisible doc counter
    "bpe_merge_candidates",  # first BPE merge iteration over the vocab
    "vocab_coverage_curve",  # top-K token-coverage vocab sizing curve
    "semantic_dedup_pairs",  # SemDeDup: k-means blocked within-cluster cosine
    "unigram_logprob_quality",  # CCNet-style unigram-LM filter list
    "geo_geohash_rollup",  # base32 geohash prefix-hierarchy rollup
    "semantic_dedup_survivors",  # CC groups + survivors over sempairs
    # round-7 late wave: lossless prefix-filter joins + span removal
    "quality_classifier_lowscore",  # hashing-trick linear filter margin
    "span_dup_by_source",  # boilerplate triage: window-dup fraction by source
    # late-round-7 rotation: five legacy capability-twins demoted so the
    # driver gate certifies the late-wave flagships (prefix-filter joins,
    # span removal, the LSH canary, near-dup leak attribution)
    "dfl_between_filter",  # between: range_join + dfl_filter_hist certify
    "geo_bbox_filter",  # bbox filter: geo_bbox_agg + geo_tile_hist certify
    "window_rank_functions",  # rank/dense_rank: window_topk certifies 2.5
    "semi_join_priority_orders",  # semi: anti_join + below_avg certify 2.4
    "text_quality_topk",  # quality: corpus_clean_summary + classifier certify
    "dedup_cluster_survivors_exact",  # clusters over the lossless join (no LSH misses)
    # round-8 additions + rotation: embedding_lsh_recall_report and
    # market_share_by_year promoted to the driver gate; these two demoted
    # (capabilities stay certified by REGISTRY siblings)
    "nation_trade_volume_by_year",  # Q7: bidirectional nation-pair trade by year
    "knn_brute_force",  # exact-cosine baseline: ANN gate keeps lsh/ivf/pq
    "dedup_containment",  # df-capped blocker: dedup_containment_exact certifies
    "large_volume_orders",  # Q18: HAVING-threshold keys join back for detail
    "returned_item_customers",  # Q10: returns-quarter lost-revenue top-k
    "customer_order_distribution",  # Q13: left-join zero-bucket histogram
    "brand_quantity_revenue",  # Q19: OR-of-ANDs as post-join filter
    "dormant_customer_balances",  # Q22: scalar-avg filter + left_anti
    "repeat_purchase_interval",  # customer-partitioned gap percentiles
    "supplier_concentration_hhi",  # per-nation supplier-share HHI
    # round-9 rotation: the decorrelation trio (Q2/Q17/Q20) and the MP3
    # decode gate promoted to the driver REGISTRY; these four demoted
    # (capabilities stay certified by REGISTRY siblings)
    "rollup_orders",  # grouping sets: cube_lineitem_flags certifies
    "below_avg_quantity_revenue",  # scalar-avg subquery: Q17 shape certifies
    "sliding_window_active_users",  # tumbling + session windows certify
    "dfl_stream_null_drop",  # DFL pipeline: dfl_filter_hist certifies
    # round-9: classic TPC-H physical-shape completions (tpch_extra.py);
    # Q3/Q5/Q9/Q11/Q16 promoted to the driver gate in the round-11 rotation
    "forecast_revenue_change",  # Q6: pure scan-filter-agg pushdown
    "priority_class_lines",  # Q12: two-class conditional agg over join
    "top_supplier_by_revenue",  # Q15: argmax-of-aggregate decorrelation
    # round-11 rotation: five canaries/verify-legs demoted so the driver
    # gate certifies the Q3/Q5/Q9/Q11/Q16 flagships directly (capabilities
    # stay certified by REGISTRY siblings + this local gate)
    "lsh_recall_report",  # canary runs both legs; dedup_minhash_lsh certifies
    # round-11: demoted for mp3_refusal_report gate room; word hist/top-k
    # stays certified by hist_nested + window_topk_per_group + text stats
    "word_hist_topk",
    "embedding_lsh_recall_report",  # canary; embedding_near_dup_pairs certifies
    "embedding_neardup_exact_pairs",  # verify leg of embedding_near_dup_pairs
    "ann_pq_topk",  # ANN: the persistent IVF/PQ index entries keep the gate rows
    "cross_source_overlap",  # shingle overlap: dedup_ngram_jaccard certifies
    # round-12 rotation: media_refusal_report (full codec-matrix coverage)
    # and asof_join_forward (O(n) frame rewrite) promoted to the driver
    # gate; these two demoted (capabilities stay certified by REGISTRY
    # siblings + this local gate)
    "hist_nested",  # multi-key groupBy: dfl_filter_hist certifies
    "set_ops_datasets",  # INTERSECT/set ops: DFL set literals certify
    # round-13 rotation: the four r12 flagships (semantic_dedup_scaled,
    # gif_animation_report, multimodal_resize_report, audio_resample_report)
    # promoted to the driver gate; these four capability-twins demoted
    # (each has a REGISTRY sibling certifying the same physical shape)
    "geo_bbox_agg",  # bbox agg: geo_tile_hist + geo_bbox_filter certify
    "tumbling_window_counts",  # event-time windows: session_window_counts certifies
    "small_quantity_revenue",  # Q17 decorrelation: min_cost_supplier (Q2) certifies
    "dominant_part_suppliers",  # Q20 semi-ladder: part_supplier_variety (Q16) certifies
    # round-13 second rotation: the three perceptual-dedup flagships
    # (image_phash_pairs, video_phash_pairs, audio_phash_pairs) promoted
    # to the driver gate; these three demoted (capabilities stay
    # certified by REGISTRY siblings + this local gate)
    "dedup_simhash",  # pigeonhole-banded hamming join: image_phash_pairs certifies
    "mp3_refusal_report",  # media_refusal_report's 22-class corpus supersets it
    "multimodal_frame_sample",  # sampled-frame decode: video_phash_pairs + gif_animation_report certify
    # round-14 rotation: image_phash_wide_pairs + video_phash_offset_pairs
    # promoted to the driver gate; these two capability-twins demoted
    "asof_join_forward",  # backward as-of: asof_join_orders_events certifies
    "part_supplier_variety",  # Q16 distinct-count/anti-join: certified by siblings
    # round-14 addition
    "image_phash_wide_coarse_pairs",  # 8x32-bit coarse banding boundary oracle
    # round-14 extension rotation: audio_phash_offset_pairs (chunked
    # offset-tolerant audio near-dup) promoted to the driver gate
    "video_phash_pairs",  # aligned video pairs: video_phash_offset_pairs' pipeline supersets the craft/decode/banding; the aligned vote stays certified here
    # round-14 extension addition (ann_ivf_index_topk promoted to the
    # driver gate in the r15 rotation)
    "ann_ivf_pq_index_topk",  # persistent IVF-PQ: codes-only lists + batch ADC
    # round-15 rotation: ann_ivf_index_topk, ann_ivf_pq_rerank_topk, and
    # video_phash_offset_coarse_pairs promoted to the driver gate; these
    # three capability-twins demoted (shapes stay certified by REGISTRY
    # siblings + this local gate)
    "ann_ivf_topk",  # in-memory IVF: strict subset of ann_ivf_index_topk
    "image_phash_pairs",  # narrow 4x16 banded pairs: audio_phash_pairs (EXTRA) + the offset gate entries certify the algebra
    "video_phash_offset_pairs",  # fine offset vote: audio offset twin + coarse entry certify
    # round-16 rotation: ann_ivf_pq_wide_topk (Arrow encode/LUT kernels at
    # the production-shaped geometry) and video_offset_coarse_recall (the
    # coarse offset default's measured miss rate) promoted to the driver
    # gate; these two capability-twins demoted (shapes stay certified by
    # REGISTRY siblings + this local gate)
    "ann_lsh_topk",  # LSH bucket scan: emb_near_dup_pairs' banded sign-LSH + the IVF/PQ gate rows certify
    "audio_phash_pairs",  # aligned 4x16 pairs: audio_phash_offset_pairs' pipeline supersets craft/decode/banding
    # gate made whole at exactly 50: the 51st registration had silently
    # pushed session_window_counts out of the gate window
    "video_phash_offset_coarse_pairs",  # coarse 2x32 offset join: video_offset_coarse_recall (REGISTRY) runs it against the lossless fine join
}


def test_registry_fits_driver_gate_window():
    """REGISTRY fills the correctness gate window exactly: a 51st
    registration fails here instead of silently pushing whichever query
    imports last out of the gate, and a demotion that leaves a slot empty
    fails too (coverage must not shrink)."""
    qs = suite.queries()
    assert len(qs) == suite.DRIVER_GATE_LIMIT == 50, (
        f"{len(qs)} registered queries vs the "
        f"{suite.DRIVER_GATE_LIMIT}-entry CORRECTNESS window; demote "
        "redundant/verify-only entries to suite.EXTRA (extra_query) or "
        "promote one to fill the window"
    )
    assert "session_window_counts" in qs


def test_registry_and_extra_disjoint():
    suite._ensure_loaded()
    overlap = set(suite.REGISTRY) & set(suite.EXTRA)
    assert not overlap, f"queries registered in both REGISTRY and EXTRA: {overlap}"
    assert set(suite.EXTRA) == EXPECTED_EXTRA


def _oracle_rows(sf_dir: str, sql: str):
    con = duckdb.connect()
    tables = "region nation customer supplier part orders lineitem events documents embeddings"
    for t in tables.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    pdf = con.execute(sql).df()
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]


@pytest.mark.parametrize("name", sorted(EXPECTED_EXTRA))
def test_extra_queries_pass_local_oracle_gate(spark, sf_dir, name):
    """EXTRA entries are demoted from the driver gate, not from correctness:
    run the same rows/schema/value-hash compare the driver applies."""
    sys.path.insert(0, TOOLS_DIR)
    from check_correctness import value_hash

    spec = suite.extra_specs()[name]
    sdf = spec.fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert spec.oracle is not None, name
    dcols, drows = _oracle_rows(sf_dir, spec.oracle)
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} != {len(drows)}"
    assert sorted(scols) == sorted(dcols), f"{name}: cols {sorted(scols)} != {sorted(dcols)}"
    assert value_hash(srows, scols) == value_hash(drows, dcols), f"{name}: value-hash mismatch"


def test_approx_percentiles_within_tolerance(spark, sf_dir):
    """The 100 TB percentile path (mergeable approx sketches) must track the
    exact rank-based gate query within the sketch's rank-error bound."""
    from railgun_spark.operators.relational2 import (
        revenue_percentiles,
        revenue_percentiles_approx,
    )

    exact = {r["l_returnflag"]: r for r in revenue_percentiles(spark, sf_dir).collect()}
    approx = {
        r["l_returnflag"]: r
        for r in revenue_percentiles_approx(spark, sf_dir, accuracy=10000).collect()
    }
    assert set(exact) == set(approx)
    for flag, er in exact.items():
        ar = approx[flag]
        for col in ("p25", "p50", "p75"):
            # rank error <= n/accuracy; prices span ~[900, 105k], so a loose
            # 2% relative tolerance catches a broken sketch without flaking
            assert abs(ar[col] - er[col]) <= 0.02 * er[col], (flag, col, ar[col], er[col])
