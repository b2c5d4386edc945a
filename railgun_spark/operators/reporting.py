"""Corpus-health reporting: the monitoring queries a pretraining-data
pipeline runs per ingest wave — per-source quality/duplication report, a
token-length histogram for packing planning, and a cross-source content
overlap matrix (which sources republish each other's documents).

Reference scope note: the Go reference has no corpus analytics; these are
harness-superset operators in the style of its `hist`/`group` aggregations
(go-dfl aggregate functions, cited in SURVEY §2.3) applied to the
training-data domain.

Scale shapes (100 TB design point):
- `source_quality_report`: ONE groupBy(source) shuffle; every signal
  (tokens, chars, exact-dup count via distinct hash) is computed as
  map-side partial aggregates. Source cardinality is tiny, AQE coalesces.
- `token_length_histogram`: map-side integer CASE bucketing + one
  bucket-key shuffle (≤ ~10 keys); the cumulative share is a window over
  the bucket-cardinality aggregate, never the corpus.
- `cross_source_overlap`: (hash, source) dedup first (one shuffle), then
  a self equi-join ON hash of the deduped frame — candidates are bounded
  by docs-per-hash × sources-per-hash, never corpus²; marginals are
  source-cardinality and broadcast back.

Cross-engine determinism: token counts use the shared `\\S+` idiom
(text.py), hashes the shared 60-bit md5 prefix (hash60), ratios are
round()ed at 4 on both engines, and bucket edges are integer compares
(no floor(log2) ulp risk at power-of-two boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from railgun_spark.operators.text import hash60, token_count
from railgun_spark.suite import extra_query, query

# power-of-two token-count bucket edges; a doc falls in the last bucket
# whose edge is <= its token count (integer compares on both engines)
TOKEN_BUCKET_EDGES = (0, 16, 32, 64, 128, 256, 512)


@extra_query(
    "source_quality_report",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT ('0x' || substr(md5(text), 1, 15))::UBIGINT::BIGINT)
             AS n_unique,
           count(*) - count(DISTINCT ('0x' || substr(md5(text), 1, 15))::UBIGINT::BIGINT)
             AS dup_docs,
           round(avg(len(regexp_extract_all(text, '\\S+'))), 4) AS avg_tokens,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(round(least(1.0, len(regexp_extract_all(text, '\\S+')) / 100.0)
                           * least(1.0, n_chars / 500.0), 6)), 4) AS avg_quality
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    doc="Per-source corpus health: doc counts, exact-dup counts (distinct "
    "hash60), token/char means, mean quality score. One groupBy(source) "
    "shuffle with map-side partials.",
    tags=("reporting", "corpus"),
)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = token_count(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(hash60(F.col("text"))).alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct(hash60(F.col("text")))).alias(
                "dup_docs"
            ),
            F.round(F.avg(toks), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(
                F.avg(quality_score(F.col("text"), F.col("n_chars"))), 4
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


def _bucket_case_sql() -> str:
    """CASE cascade assigning the greatest edge <= tokens (DuckDB side)."""
    edges = TOKEN_BUCKET_EDGES
    branches = " ".join(
        f"WHEN t < {edges[i + 1]} THEN {edges[i]}" for i in range(len(edges) - 1)
    )
    return f"CASE {branches} ELSE {edges[-1]} END"


def _bucket_case_col(t) -> F.Column:
    edges = TOKEN_BUCKET_EDGES
    expr = F.lit(edges[-1])
    for i in reversed(range(len(edges) - 1)):
        expr = F.when(t < F.lit(edges[i + 1]), F.lit(edges[i])).otherwise(expr)
    return expr


_TOKENS_SQL = "len(regexp_extract_all(text, '\\S+'))"
_BUCKET_SQL = _bucket_case_sql().replace("t <", _TOKENS_SQL + " <")


@extra_query(
    "token_length_histogram",
    oracle=f"""
    WITH tl AS (
      SELECT {_BUCKET_SQL} AS bucket_lo
      FROM documents
    ), h AS (
      SELECT bucket_lo, count(*) AS n_docs FROM tl GROUP BY bucket_lo
    )
    SELECT bucket_lo, n_docs,
           round(n_docs * 1.0 / sum(n_docs) OVER (), 4) AS share,
           round(sum(n_docs) OVER (ORDER BY bucket_lo)
                 * 1.0 / sum(n_docs) OVER (), 4) AS cum_share
    FROM h
    ORDER BY bucket_lo
    """,
    doc="Token-length histogram on power-of-two edges (integer-compare "
    "bucketing, no log2 ulp risk) with share + cumulative share — the "
    "packing/chunking planner's input distribution.",
    tags=("reporting", "packing"),
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = (
        docs.select(_bucket_case_col(token_count(F.col("text"))).alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # windows over the bucket-cardinality aggregate (<= ~10 rows), not the corpus
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("bucket_lo")
    return (
        h.withColumn(
            "share", F.round(F.col("n_docs") / F.sum("n_docs").over(w_all), 4)
        )
        .withColumn(
            "cum_share",
            F.round(F.sum("n_docs").over(w_cum) / F.sum("n_docs").over(w_all), 4),
        )
        .orderBy("bucket_lo")
    )


@extra_query(
    "cross_source_overlap",
    oracle="""
    WITH t AS (
      SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), hs AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM t WHERE len(ws) >= 3
    ), marg AS (
      SELECT source, count(*) AS n_shingles FROM hs GROUP BY source
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
      FROM hs a JOIN hs b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, shared,
           round(shared * 1.0 / least(ma.n_shingles, mb.n_shingles), 4) AS overlap
    FROM pairs
    JOIN marg ma ON pairs.source_a = ma.source
    JOIN marg mb ON pairs.source_b = mb.source
    ORDER BY shared DESC, source_a, source_b
    """,
    doc="Cross-source contamination matrix at shingle granularity: shared "
    "distinct 3-gram shingles per source pair (the dedup module's shingle "
    "definition) + overlap ratio vs the smaller side. Deduped (shingle, "
    "source) self equi-join — candidates bounded by sources-per-shingle, "
    "never corpus²; source-sized marginals broadcast.",
    tags=("reporting", "dedup"),
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.dedup import shingle_sets
    from railgun_spark.operators.text import _docs_scan

    # pinned once: the marginals and BOTH self-join sides otherwise
    # re-plan the shingle explode + distinct (4 scans in the before-plan)
    hs = (
        shingle_sets(_docs_scan(spark, sf_dir), "source")
        .select("source", F.explode("sh").alias("shingle"))
        .distinct()
    ).localCheckpoint()
    marg = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = hs.alias("a"), hs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ma = marg.select(F.col("source").alias("source_a"), F.col("n_shingles").alias("ua"))
    mb = marg.select(F.col("source").alias("source_b"), F.col("n_shingles").alias("ub"))
    return (
        pairs.join(F.broadcast(ma), "source_a")
        .join(F.broadcast(mb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared",
            F.round(F.col("shared") / F.least("ua", "ub"), 4).alias("overlap"),
        )
        .orderBy(F.desc("shared"), "source_a", "source_b")
    )


@extra_query(
    "dedup_loss_by_source",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(text), 1, 15))::UBIGINT::BIGINT AS fp
      FROM documents
    ), winners AS (
      SELECT fp, min(doc_id) AS keep FROM h GROUP BY fp
    )
    SELECT h.source,
           count(*) AS n_docs,
           sum(CASE WHEN h.doc_id = w.keep THEN 1 ELSE 0 END)::BIGINT AS n_survivors,
           count(*) - sum(CASE WHEN h.doc_id = w.keep THEN 1 ELSE 0 END)::BIGINT
             AS n_lost,
           round((count(*) - sum(CASE WHEN h.doc_id = w.keep THEN 1 ELSE 0 END))
                 * 1.0 / count(*), 4) AS loss_frac
    FROM h JOIN winners w ON h.fp = w.fp
    GROUP BY h.source
    ORDER BY loss_frac DESC, h.source
    """,
    doc="Which sources lose most content to GLOBAL exact dedup: per source, "
    "docs vs lowest-id-per-hash survivors and the loss fraction — the "
    "ingest-priority signal (a high-loss source mostly re-crawls known "
    "content). One hash groupBy + one equi-join + one source rollup.",
    tags=("reporting", "dedup"),
)
def dedup_loss_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = docs.select("doc_id", "source", hash60(F.col("text")).alias("fp"))
    winners = h.groupBy("fp").agg(F.min("doc_id").alias("keep"))
    survived = F.sum(F.when(F.col("doc_id") == F.col("keep"), 1).otherwise(0))
    return (
        h.join(winners, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            survived.alias("n_survivors"),
            (F.count(F.lit(1)) - survived).alias("n_lost"),
            F.round(
                (F.count(F.lit(1)) - survived) * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("loss_frac"),
        )
        .orderBy(F.desc("loss_frac"), "source")
    )


# --------------------------------------------------------------------------
# Per-source span duplication: WHICH sources ship boilerplate. The per-doc
# duplicated-window fraction (Lee et al. shape, dedup.py) rolled up by
# source — mean duplication plus the share of docs past the removal
# threshold. The actionable triage view: a source with high flagged_share
# needs span removal (or exclusion) before it poisons the mixture.
# --------------------------------------------------------------------------
from railgun_spark.operators.dedup import DUP_WINDOW_FRAC, DUP_WINDOW_K


@extra_query(
    "span_dup_by_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), win AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - {DUP_WINDOW_K} + 2),
                    i -> ('0x' || substr(md5(
                        list_aggregate(ws[i:i + {DUP_WINDOW_K} - 1], 'string_agg', ' ')
                    ), 1, 15))::UBIGINT::BIGINT)) AS h
      FROM t WHERE len(ws) >= {DUP_WINDOW_K}
    ), marked AS (
      SELECT h, count(DISTINCT doc_id) AS nd FROM win GROUP BY h
    ), per AS (
      SELECT win.doc_id, count(*) AS n_windows,
             sum(CASE WHEN marked.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM win JOIN marked USING (h)
      GROUP BY win.doc_id
    )
    SELECT d.source,
           count(*) AS n_docs,
           round(avg(round(per.n_dup * 1.0 / per.n_windows, 4)), 4)
             AS mean_dup_frac,
           round(sum(CASE WHEN per.n_dup * 1.0 / per.n_windows >= {DUP_WINDOW_FRAC}
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS flagged_share
    FROM per JOIN documents d USING (doc_id)
    GROUP BY d.source
    ORDER BY mean_dup_frac DESC, source
    """,
    doc="Boilerplate triage by source: mean duplicated-window fraction and "
    "the share of docs past the removal threshold, per source. One extra "
    "groupBy(source) over the per-doc window stats.",
    tags=("dedup", "reporting"),
)
def span_dup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.dedup import window_dup_frac_frame
    from railgun_spark.session import spread_scan

    # the window explode + per-window md5 dominates — spread the
    # single-file scan (§2.5); A/B min-of-5: 3.95 -> 1.81 s
    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), heavy=True
    )
    per = window_dup_frac_frame(docs)
    raw_frac = F.col("n_dup_windows") * F.lit(1.0) / F.col("n_windows")
    return (
        per.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dup_frac"), 4).alias("mean_dup_frac"),
            F.round(
                F.sum(F.when(raw_frac >= DUP_WINDOW_FRAC, 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("flagged_share"),
        )
        .orderBy(F.desc("mean_dup_frac"), "source")
    )
