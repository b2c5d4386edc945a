"""End-to-end training-corpus cleaning: the composition the individual
operators exist for. One call classifies every document with its first
failing filter (precedence: low_quality > exact_duplicate > near_duplicate
> contaminated > clean), composing:

- quality gate: token count >= MIN_TOKENS (map-side expression, text.py)
- exact dedup: keep the min doc_id per content hash (hash groupBy + semi
  join — partial aggregation collapses duplicates map-side, dedup.py)
- near-dup: MinHash/LSH pairs -> transitive clusters via min-label
  propagation; non-survivors drop (dedup.py connected_components)
- decontamination: trigram overlap vs the eval set (broadcast eval
  shingles, dedup.py decontaminate_ngram_overlap)

Every stage set is a doc_id frame that broadcast-joins back onto the
corpus scan, so the whole classification is one pass over the documents
plus the (already shuffle-bounded) set builders. The DuckDB oracle chains
the same CTE generators the individual operators use, so the composition
stays hash-verified end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from railgun_spark.operators.dedup import (
    CONTAM_THRESHOLD,
    EVAL_MOD,
    connected_components,
    decontaminate_ngram_overlap,
    minhash_dup_pairs,
    minhash_pairs_ctes,
)
from railgun_spark.operators.text import token_count
from railgun_spark.session import pin
from railgun_spark.suite import extra_query, query

MIN_TOKENS = 25


def _corpus_oracle() -> str:
    return f"""
    WITH RECURSIVE {minhash_pairs_ctes(0.5)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ), cnodes AS (
      SELECT DISTINCT a AS node FROM edges
    ), reach(node, label) AS (
      SELECT node, node FROM cnodes
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ), near_losers AS (
      SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(label)
    ), exact_losers AS (
      SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM documents
      ) WHERE doc_id <> keeper
    ), evx AS (
      SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % {EVAL_MOD} = 0
    ), trx AS (
      SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g
      FROM s WHERE doc_id % {EVAL_MOD} <> 0
    ), contam AS (
      SELECT doc_id FROM (
        SELECT doc_id, n_sh, count(*) AS o FROM trx JOIN evx USING (g)
        GROUP BY doc_id, n_sh
      ) WHERE o * 1.0 / n_sh >= {CONTAM_THRESHOLD}
    ), verdicts AS (
      SELECT d.doc_id,
        CASE WHEN len(regexp_extract_all(text, '\\S+')) < {MIN_TOKENS}
                  THEN 'low_quality'
             WHEN d.doc_id IN (SELECT doc_id FROM exact_losers)
                  THEN 'exact_duplicate'
             WHEN d.doc_id IN (SELECT doc_id FROM near_losers)
                  THEN 'near_duplicate'
             WHEN d.doc_id IN (SELECT doc_id FROM contam)
                  THEN 'contaminated'
             ELSE 'clean' END AS reason
      FROM documents d
    )
    SELECT reason, count(*) AS n_docs
    FROM verdicts GROUP BY reason ORDER BY reason
    """


def corpus_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (doc_id, reason) classification frame."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # single pass: md5 every doc ONCE and find each hash group's keeper
    # (min doc_id) as a window over h — the groupBy+join form md5-hashed
    # the whole corpus twice (two scans) and broadcast an h-cardinality
    # keeper table (corpus-sized at scale; AQE would fall back to a
    # sort-merge join that shuffles both sides anyway)
    from pyspark.sql import Window

    exact_losers = (
        docs.select(F.md5(F.col("text")).alias("h"), "doc_id")
        .withColumn("keeper", F.min("doc_id").over(Window.partitionBy("h")))
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id")
    )

    # The three loser sets are INDEPENDENT pipelines (exact hash dedup,
    # minhash+connected-components, n-gram decontamination) that the
    # final classification only consumes as tiny broadcast id sets.
    # Materialize them from a small thread pool (guide-§2.6 overlap:
    # Spark happily runs concurrent jobs; each branch's tail of
    # stragglers backfills with the other branches' tasks) instead of
    # strictly sequentially — the id-set checkpoints are loser-sized,
    # so pinning them costs nothing at any scale.
    from railgun_spark.session import overlap

    def _exact():
        return pin(exact_losers, "corpus.exact_losers")

    def _near():
        pairs = minhash_dup_pairs(spark, sf_dir, 0.5)
        comp = connected_components(
            pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        )
        return comp.filter(F.col("node") != F.col("label")).select(
            F.col("node").alias("doc_id")
        )

    def _contam():
        ids = decontaminate_ngram_overlap(spark, sf_dir).select("doc_id")
        return pin(ids, "corpus.contaminated")

    exact_losers, near_losers, contam = overlap(spark, _exact, _near, _contam)

    def flag(name: str, ids: DataFrame) -> DataFrame:
        return F.broadcast(ids.withColumn(name, F.lit(True)))

    flagged = (
        docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
        .join(flag("is_exact", exact_losers), "doc_id", "left")
        .join(flag("is_near", near_losers), "doc_id", "left")
        .join(flag("is_contam", contam), "doc_id", "left")
    )
    reason = (
        F.when(F.col("n_tokens") < MIN_TOKENS, F.lit("low_quality"))
        .when(F.col("is_exact"), F.lit("exact_duplicate"))
        .when(F.col("is_near"), F.lit("near_duplicate"))
        .when(F.col("is_contam"), F.lit("contaminated"))
        .otherwise(F.lit("clean"))
    )
    return flagged.select("doc_id", reason.alias("reason"))


@query(
    "corpus_clean_summary",
    oracle=_corpus_oracle(),
    doc="Full cleaning pipeline verdict histogram: quality gate, exact "
    "dedup, transitive near-dup survivors, decontamination — classification "
    "is one corpus pass joined against broadcast doc_id sets.",
    tags=("dedup", "text", "pipeline"),
)
def corpus_clean_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        corpus_verdicts(spark, sf_dir)
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("reason")
    )


# --------------------------------------------------------------------------
# Deterministic content-hash splitting & sampling. df.sample() is seeded
# per-partition and NOT reproducible across engines, partition layouts, or
# reruns; curation pipelines instead assign each document a bucket from a
# content hash — stable under repartitioning, appends, and engine swaps
# (the same doc always lands in the same split). One map-side expression.
# --------------------------------------------------------------------------
N_BUCKETS = 100
VAL_BUCKETS = 5  # buckets [0,5) -> val
TEST_BUCKETS = 5  # buckets [5,10) -> test; rest -> train


@extra_query(
    "corpus_split_histogram",
    oracle=f"""
    WITH b AS (
      SELECT lang,
             CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT)::BIGINT
               % {N_BUCKETS} AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < {VAL_BUCKETS} THEN 'val'
                WHEN bucket < {VAL_BUCKETS + TEST_BUCKETS} THEN 'test'
                ELSE 'train' END AS split,
           count(*) AS n_docs
    FROM b GROUP BY lang, split ORDER BY lang, split
    """,
    doc="Content-hash train/val/test assignment (shared 60-bit hash mod "
    f"{N_BUCKETS}): reproducible in any engine, stable under repartition/"
    "append. Histogram per (lang, split); the assignment itself is the "
    "map-side `split_assignment` expression.",
    tags=("text", "sampling"),
)
def corpus_split_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.text import hash60

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = hash60(F.col("text")) % N_BUCKETS
    split = (
        F.when(bucket < VAL_BUCKETS, F.lit("val"))
        .when(bucket < VAL_BUCKETS + TEST_BUCKETS, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


def split_assignment(text: F.Column) -> F.Column:
    """The reusable map-side split expression (val/test/train)."""
    from railgun_spark.operators.text import hash60

    bucket = hash60(text) % N_BUCKETS
    return (
        F.when(bucket < VAL_BUCKETS, F.lit("val"))
        .when(bucket < VAL_BUCKETS + TEST_BUCKETS, F.lit("test"))
        .otherwise(F.lit("train"))
    )


def stable_sample(df: DataFrame, text_col: str, pct: int) -> DataFrame:
    """Deterministic pct% sample by content hash — same rows every run,
    every engine, any partitioning."""
    from railgun_spark.operators.text import hash60

    return df.filter(hash60(F.col(text_col)) % N_BUCKETS < pct)


def prepare_training_shards(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    max_tokens: int = 512,
    records_per_shard: int = 1_000_000,
    n_buckets: int = 32,
    redact_pii: bool = False,
    remove_dup_spans: bool = False,
) -> dict:
    """End-to-end training-data preparation: the composition a 100 TB
    pipeline actually runs, each stage the scale-shaped operator certified
    elsewhere in the suite.

      clean (quality gate + exact dedup + near-dup survivors +
      decontamination, corpus_verdicts) -> train split (content-hash,
      split_assignment) -> sequence packing (pack_sequences, deterministic
      hash buckets) -> bounded shards + seekable manifest
      (write_training_shards / build_manifest).

    Returns summary counts (all driver-sized aggregates). Everything
    between the parquet scan and the shard write stays distributed.
    """
    from railgun_spark.operators.packing import chunk_documents, pack_sequences
    from railgun_spark.operators.text import bpe_token_estimate
    from railgun_spark.sources.sharding import (
        build_manifest,
        write_manifest_rows,
        write_training_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    verdicts = corpus_verdicts(spark, sf_dir)
    clean_ids = verdicts.filter(F.col("reason") == "clean").select("doc_id")
    # pin the cleaned corpus ONCE: everything below (train filter, chunk
    # split, packing, shard write) plus the summary counts re-reads this
    # frame several times, and without the checkpoint each action re-runs
    # the whole verdict pipeline (minhash + CC + decontam) from scratch —
    # measured 20.7 s -> 8.2 s warm at sf0.1 for identical output.
    # The summary's n_clean_docs rides the materialization as an
    # observe() metric — no separate count job later.
    from pyspark.sql import Observation

    obs_clean = Observation()
    # __split and __toks materialize WITH the pin (r18): every consumer
    # below (the train filter; the small/big chunk split; the train
    # stats aggregate) is a separate JOB over the cached frame, and each
    # was re-evaluating the md5 split hash and the BPE-ish regexp per
    # row — 3 hash passes + 3 tokenize passes per run for 12 bytes/row
    # of cache. __split is a function of the ORIGINAL content hash by
    # design (split membership must not move when text is rewritten), so
    # it stays valid under span removal and redaction; __toks is
    # recomputed below for exactly the rows those passes rewrite.
    clean = pin(
        docs.join(clean_ids, "doc_id")
        .withColumn("__split", split_assignment(F.col("text")))
        .withColumn("__toks", bpe_token_estimate(F.col("text")))
        .observe(obs_clean, F.count(F.lit(1)).alias("n")),
        "corpus.clean",
    )
    train = clean.filter(F.col("__split") == "train").drop("__split")
    n_span_rewritten = 0
    if remove_dup_spans:
        # AFTER the split, like redaction: split/dedup membership stays a
        # function of the ORIGINAL content hash while shipped text loses
        # the cross-doc duplicated spans (Lee et al. removal, dedup.py).
        # Duplication evidence comes from the CLEANED corpus — against the
        # RAW corpus every dedup survivor's windows still collide with its
        # already-removed duplicates, and "keep one copy" silently becomes
        # "keep zero copies" (the whole survivor text reads as duplicated).
        # Cleaned-side evidence still spans train AND held-out splits, so
        # a span shared between a train doc and an eval doc — the leak —
        # is cut. Rewritten docs ship the word-normalized (lowercased
        # a-z0-9) text the span detector operates on; untouched docs keep
        # their original bytes. Docs rewritten to nothing are dropped.
        from railgun_spark.operators.dedup import span_removal_frame

        spans = span_removal_frame(clean).select("doc_id", "n_removed", "cleaned_text")
        rewritten = F.coalesce(F.col("n_removed"), F.lit(0)) > 0
        # pin: the span pipeline (window explode + two groupBys + join)
        # otherwise re-runs for the rewrite count, both union branches of
        # the packing units, and every summary count — same discipline as
        # the `clean` checkpoint above
        joined = pin(train.join(spans, "doc_id", "left"), "corpus.span_joined")
        n_span_rewritten = joined.filter(rewritten).count()
        train = (
            joined.withColumn(
                "text", F.when(rewritten, F.col("cleaned_text")).otherwise(F.col("text"))
            )
            # the pinned __toks counted the ORIGINAL text; re-estimate
            # only the rewritten rows
            .withColumn(
                "__toks",
                F.when(rewritten, bpe_token_estimate(F.col("text"))).otherwise(
                    F.col("__toks")
                ),
            )
            .filter(F.length(F.trim(F.col("text"))) > 0)
            .drop("n_removed", "cleaned_text")
        )
    if redact_pii:
        # AFTER the split: split/dedup membership stays a function of the
        # original content hash, while shipped text carries placeholders.
        # Map-side regexp chain — adds no shuffle to the pipeline.
        from railgun_spark.operators.redact import redact

        train = redact(train).withColumn(
            # placeholders change the BPE estimate; recount post-redaction
            "__toks", bpe_token_estimate(F.col("text"))
        )

    # Lossless budget handling: docs over the token budget are CHUNKED (not
    # dropped) before packing. Chunk size is in whitespace tokens, halved to
    # leave headroom for BPE expansion; any chunk still over the BPE budget
    # is dropped by pack_sequences and surfaced in n_dropped_units.
    # Unit ids: uid = doc_id * 1_000_000 (+ chunk_idx + 1 for chunks) —
    # collision-free while docs stay under a million chunks.
    toks = F.col("__toks")  # materialized with the clean pin above
    small = train.filter(toks <= max_tokens).select(
        (F.col("doc_id") * 1_000_000).alias("uid"),
        F.col("doc_id").alias("orig_doc_id"),
        "text",
    )
    big = train.filter(toks > max_tokens)
    chunked = chunk_documents(big, max(1, max_tokens // 2)).select(
        (F.col("doc_id") * 1_000_000 + F.col("chunk_idx") + 1).alias("uid"),
        F.col("doc_id").alias("orig_doc_id"),
        F.col("chunk_text").alias("text"),
    )
    obs_units = Observation()
    units = pin(
        small.unionByName(chunked).observe(obs_units, F.count(F.lit(1)).alias("n")),
        "corpus.units",
    )

    packed = pack_sequences(units, max_tokens, n_buckets=n_buckets, id_col="uid")
    packed = pin(packed, "corpus.packed")
    packed_units = packed.select(
        F.col("doc_id").alias("uid"), "n_tokens", "bin_id"
    )
    rows = units.join(packed_units, "uid")

    shards_path = f"{out_dir}/shards"

    # r18 (VERDICT r17 #8): the summary aggregates do not depend on the
    # written shards, so they overlap the shard write from a thread pool
    # (guide §2.6) instead of queueing serially after the manifest. Only
    # the manifest truly depends on the write (it reads the shard files'
    # pruned sort_key column for the seek ranges) and stays behind it.
    # Summary pass discipline still holds: every count that has a
    # checkpointed (or observed) frame comes from ONE aggregate per
    # frame, not one job per number — at corpus scale each extra count
    # is a full pass. n_train_docs + n_chunked_docs share a single
    # aggregate over the pinned clean corpus.
    from railgun_spark.session import overlap

    _, tstats, pstats, n_input_docs, n_covered = overlap(
        spark,
        lambda: write_training_shards(
            rows, shards_path, sort_key="bin_id",
            records_per_shard=records_per_shard,
        ),
        lambda: train.agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.when(toks > max_tokens, 1).otherwise(0)).alias("n_big"),
        ).first(),
        lambda: packed.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("bin_id").alias("n_bins"),
        ).first(),
        docs.count,
        lambda: rows.select("orig_doc_id").distinct().count(),
    )
    # one collect serves the manifest file AND n_shards — the previous
    # manifest.count() re-ran the whole footer scan + per-shard groupBy
    manifest_rows = build_manifest(spark, shards_path, sort_key="bin_id").collect()
    write_manifest_rows(manifest_rows, f"{out_dir}/manifest.jsonl")

    n_units = int(obs_units.get["n"])
    n_packed_units = int(pstats["n"])
    return {
        "n_input_docs": n_input_docs,
        "n_clean_docs": int(obs_clean.get["n"]),
        "n_train_docs": int(tstats["n_train"]),
        "n_chunked_docs": int(tstats["n_big"] or 0),
        "n_units": n_units,
        "n_packed_units": n_packed_units,
        "n_dropped_units": n_units - n_packed_units,
        "n_covered_docs": n_covered,
        "n_bins": int(pstats["n_bins"]),
        "n_shards": len(manifest_rows),
        "n_span_rewritten": n_span_rewritten,
    }


# --------------------------------------------------------------------------
# Corpus mixture sampling: downsample to a token budget at prescribed
# domain shares — how pretraining mixes are actually built (e.g. "40% en,
# 15% each of de/es/fr/zh, half the corpus's token mass"). Per-group keep
# rates are derived from one tiny aggregate; the sample itself is the
# deterministic content-hash filter (stable_sample's bucket trick), so the
# result is identical on any engine, any partitioning, any run.
#
# ALL arithmetic is integer (permille shares, integer division): a float
# rate would flip membership at bucket boundaries between engines (the
# 1-ulp libm lesson). Over-subscribed groups (want > avail) cap at keeping
# everything; shares of absent groups are simply unfilled — no
# re-normalization pass, because at 100 TB you re-run the mix with new
# shares rather than silently shifting mass between domains.
#
# Scale shape: one map-side-combined groupBy over the corpus for the
# per-group token counts (output rows = #groups), a broadcast join of
# those rates back onto the scan, and a stateless filter. No global sort,
# no second pass.
# --------------------------------------------------------------------------
MIX_PERMILLE = 1000


def mixture_rates(
    docs: DataFrame,
    shares_permille: dict[str, int],
    budget_div: int = 2,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """(group, avail, rate) — integer permille keep-rate per group for a
    budget of total_tokens // budget_div tokens split by `shares_permille`."""
    from pyspark.sql import Window

    tok = token_count(F.col(text_col))
    counts = docs.groupBy(group_col).agg(F.sum(tok).alias("avail"))
    share = (
        F.coalesce(
            *[
                F.when(F.col(group_col) == g, F.lit(p))
                for g, p in sorted(shares_permille.items())
            ],
            F.lit(0),
        )
        if shares_permille
        else F.lit(0)
    )
    # bigint DIV bigint stays bigint — `/` would detour through double and
    # lose exactness past 2^53 (real corpora pass that in tokens)
    return (
        counts.withColumn("total", F.sum("avail").over(Window.partitionBy()))
        .withColumn("share", share)
        .selectExpr(
            group_col,
            "avail",
            f"least(CAST({MIX_PERMILLE} AS BIGINT), "
            f"((total DIV {budget_div}) * share DIV {MIX_PERMILLE}) "
            f"* {MIX_PERMILLE} DIV avail) AS rate",
        )
    )


MIX_SHARES = {"en": 400, "de": 150, "es": 150, "fr": 150, "zh": 150}


def mixture_sample(
    docs: DataFrame,
    shares_permille: dict[str, int],
    budget_div: int = 2,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Rows of `docs` kept by the mixture: content-hash permille bucket
    below the group's rate. Broadcast join (rates frame has #groups rows)
    + stateless filter — adds no shuffle to the corpus scan."""
    from railgun_spark.operators.text import hash60

    rates = mixture_rates(docs, shares_permille, budget_div, group_col, text_col)
    return docs.join(
        F.broadcast(rates.select(group_col, "rate")), group_col
    ).filter(hash60(F.col(text_col)) % MIX_PERMILLE < F.col("rate"))


def _mixture_oracle() -> str:
    share_case = "CASE lang " + " ".join(
        f"WHEN '{g}' THEN {p}" for g, p in sorted(MIX_SHARES.items())
    ) + " ELSE 0 END"
    return f"""
    WITH t AS (
      SELECT lang, text, len(regexp_extract_all(text, '\\S+')) AS tok
      FROM documents
    ), c AS (
      SELECT lang, sum(tok)::BIGINT AS avail FROM t GROUP BY lang
    ), r AS (
      SELECT lang, avail,
             least(1000::BIGINT,
                   (((sum(avail) OVER ())::BIGINT // 2) * {share_case} // 1000)
                   * 1000 // avail) AS rate
      FROM c
    ), k AS (
      SELECT t.lang, tok FROM t JOIN r USING (lang)
      WHERE ('0x' || substr(md5(text), 1, 15))::UBIGINT::BIGINT % 1000 < rate
    )
    SELECT k.lang, count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS tokens_kept,
           max(r.rate)::BIGINT AS rate
    FROM k JOIN r USING (lang) GROUP BY k.lang ORDER BY k.lang
    """


@query(
    "mixture_sample_tokens",
    oracle=_mixture_oracle(),
    doc="Token-budget mixture sampling: half the corpus token mass at "
    "40/15/15/15/15 permille lang shares; integer-only rate derivation, "
    "content-hash bucket membership. One tiny agg + broadcast rates + "
    "stateless filter.",
    tags=("corpus", "sampling"),
)
def mixture_sample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = mixture_sample(docs, MIX_SHARES)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).alias("tokens_kept"),
            F.max("rate").alias("rate"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Deterministic training-order shuffle. Sequence order matters for training:
# adjacent source documents (same crawl host, same book) must not land
# adjacent in the token stream. A salted content-hash sort is a reproducible
# global permutation — same salt, same order, any engine, any partitioning —
# and changing the salt re-shuffles for the next epoch without touching the
# data. At scale this is NOT a global sort: `shuffle_for_training` uses
# repartitionByRange(salted_hash) + sortWithinPartitions, which samples
# range bounds and writes ordered shards in one shuffle — the standard way
# an ordered 100 TB write actually executes (a true orderBy would funnel
# into one task only if you collected; range partitioning is the plan Spark
# already picks for orderBy, made explicit so the shard boundary count is
# under caller control).
# --------------------------------------------------------------------------
def shuffle_for_training(
    df: DataFrame,
    salt: str,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """`df` in salted-hash order, range-partitioned into `n_shards` ordered
    shards (shard i's every row sorts before shard i+1's — write them with
    partitionBy or per-partition files and the global order is the
    concatenation)."""
    from railgun_spark.operators.text import hash60

    key = hash60(F.concat(F.lit(salt), F.col(text_col)))
    return (
        df.withColumn("_shuffle_key", key)
        .repartitionByRange(n_shards, F.col("_shuffle_key"), F.col(id_col))
        .sortWithinPartitions("_shuffle_key", id_col)
    )


SHUFFLE_SALT = "epoch-0"


@extra_query(
    "training_shuffle_mixing",
    oracle=f"""
    WITH h AS (
      SELECT lang, doc_id,
             ('0x' || substr(md5('{SHUFFLE_SALT}' || text), 1, 15))::UBIGINT::BIGINT AS hk
      FROM documents
    ), pos AS (
      SELECT lang, ntile(10) OVER (ORDER BY hk, doc_id) AS decile FROM h
    )
    SELECT lang, decile, count(*) AS n_docs
    FROM pos GROUP BY lang, decile ORDER BY lang, decile
    """,
    doc="Salted-hash epoch shuffle, summarized as lang x order-decile "
    "counts: every language spreads across the whole training order "
    "(the anti-curriculum guarantee). The scale path is "
    "shuffle_for_training (range partition + local sort, no global funnel).",
    tags=("corpus", "sampling"),
)
def training_shuffle_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.rank import ntile_from_rank, with_global_rank
    from railgun_spark.operators.text import hash60

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hk = hash60(F.concat(F.lit(SHUFFLE_SALT), F.col("text")))
    # distributed rank (range partition + offsets) instead of a global
    # ntile window, which would funnel the whole corpus through ONE
    # partition; the DuckDB ntile oracle cross-checks the semantics
    ranked, total = with_global_rank(
        docs.select("lang", "doc_id", hk.alias("hk")), ["hk", "doc_id"]
    )
    return (
        ranked.withColumn("decile", ntile_from_rank("__rank", 10, total))
        .groupBy("lang", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "decile")
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture shares: the standard multilingual-pretraining
# re-weighting (sample language l proportional to p_l^alpha, alpha in
# (0,1] — alpha=1 keeps natural proportions, smaller alpha flattens the
# head and boosts the tail; the UNIMAX / mT5 recipe, public papers).
# Produces the `shares_permille` input for `mixture_rates`, so the whole
# chain stays integer-exact after this one rounded step. Shape: one
# map-side-combined groupBy for per-group token counts (rows = #groups),
# window over that group-sized aggregate, round(4) on the double pow —
# both engines libm-pow over identical doubles, the PMI/ln precedent.
# Permille shares are floored; the remainder (<= #groups permille) is
# assigned to the LARGEST group so shares sum to exactly 1000.
# --------------------------------------------------------------------------
MIX_TEMP_ALPHA = 0.5


@extra_query(
    "mixture_temperature_shares",
    oracle=f"""
    WITH counts AS (
      SELECT lang, sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS avail
      FROM documents GROUP BY lang
    ), powed AS (
      SELECT lang, avail,
             round(pow(avail * 1.0 / (SELECT sum(avail) FROM counts),
                       {MIX_TEMP_ALPHA}), 4) AS w
      FROM counts
    ), shared AS (
      SELECT lang, avail,
             CAST(floor(w * 1000 / (SELECT sum(w) FROM powed)) AS BIGINT)
               AS share_permille,
             row_number() OVER (ORDER BY avail DESC, lang) AS rk
      FROM powed
    )
    SELECT lang, avail,
           (share_permille + CASE WHEN rk = 1
              THEN 1000 - (SELECT sum(share_permille) FROM shared)
              ELSE 0 END)::BIGINT AS share_permille
    FROM shared
    ORDER BY lang
    """,
    doc=f"Temperature-scaled (alpha={MIX_TEMP_ALPHA}) mixture shares per "
    "language: natural token proportions flattened by p^alpha (the "
    "multilingual-pretraining recipe), floored to integer permille with "
    "the remainder on the largest group so shares sum to exactly 1000.",
    tags=("corpus", "mixture"),
)
def mixture_temperature_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = token_count(F.col("text"))
    counts = docs.groupBy("lang").agg(F.sum(tok).alias("avail"))
    w_all = Window.partitionBy()
    powed = counts.withColumn(
        "w",
        F.round(
            F.pow(F.col("avail") * F.lit(1.0) / F.sum("avail").over(w_all),
                  F.lit(MIX_TEMP_ALPHA)),
            4,
        ),
    )
    shared = powed.withColumn(
        "share_permille",
        F.floor(F.col("w") * F.lit(1000) / F.sum("w").over(w_all)).cast("bigint"),
    ).withColumn("rk", F.row_number().over(Window.partitionBy().orderBy(F.desc("avail"), "lang")))
    return shared.select(
        "lang",
        "avail",
        (
            F.col("share_permille")
            + F.when(
                F.col("rk") == 1,
                F.lit(1000) - F.sum("share_permille").over(w_all),
            ).otherwise(0)
        ).cast("bigint").alias("share_permille"),
    ).orderBy("lang")
