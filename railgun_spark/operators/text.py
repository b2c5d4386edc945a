"""Text analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, fingerprinting.

These go beyond the reference (which only has split/lower/len over strings,
examples/osm.sh:74, geonames.dfl:4-5) and are first-class engine components
for the 100 TB design point: all of them are pure Catalyst expressions
(regexp/hash built-ins, no Python UDFs), so they scan-parallelize trivially
and stay inside WholeStageCodegen.

Cross-engine notes: token counts use `regexp_extract_all(text, '\\S+')`
(identical semantics in Spark and DuckDB — counts non-space runs, immune to
split()'s trailing-empty differences). Fingerprints use the shared 60-bit
md5-prefix hash (see suite.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from railgun_spark.operators.dedup import words
from railgun_spark.session import pin
from railgun_spark.suite import extra_query, query


def _docs_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan for every per-row text pass (tokenize, shingle,
    word explode), spread when a near-single-split file would serialize
    the compute. Size-gated at 8 MiB, between the measured crossover
    points: at the 0.6 MB bench scan the spread lost (r17/r18 A/Bs:
    dedup_ngram_jaccard 3.21 -> 3.42 s, pagerank 1.93 -> 2.24 s), at a
    24 MB single-file corpus where ~6 splits fed 32 cores it won
    x1.6-5.9 (minhash 34.6 -> 9.1 s, inverted_index_rare 26.2 -> 4.5 s,
    unigram 15.5 -> 6.1 s, pmi 15.8 -> 9.3 s). At production scans the
    frame already carries >= cores partitions and spread_scan no-ops."""
    from railgun_spark.session import spread_scan

    return spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), min_bytes=8 << 20
    )


def token_count(col: Column) -> Column:
    """Whitespace token count: number of non-space runs."""
    return F.size(F.regexp_extract_all(col, F.lit(r"\S+"), 0))


def hash60_bytes(col: Column) -> Column:
    """60-bit md5-prefix hash over raw BYTES — the single definition of
    the cross-engine fingerprint scheme (hash60 routes through it)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash60(col: Column) -> Column:
    """Deterministic 60-bit hash reproducible in DuckDB:
    conv(substr(md5(x),1,15),16,10) == ('0x'||substr(md5(x),1,15))::UBIGINT.

    Used instead of xxhash64 wherever cross-engine parity matters; for
    internal-only hashing prefer F.xxhash64 (faster, 64-bit).
    """
    return hash60_bytes(F.encode(col, "UTF-8"))


def quality_score(text: Column, n_chars: Column) -> Column:
    """Heuristic doc-quality score in [0,1]-ish: rewards moderate token
    length and penalizes very short docs. Pure arithmetic => exact parity.
    score = least(1, tokens/100) * least(1, n_chars/500)
    """
    toks = token_count(text)
    return F.round(
        F.least(F.lit(1.0), toks / F.lit(100.0)) * F.least(F.lit(1.0), n_chars / F.lit(500.0)), 6
    )


_STOPWORDS_EN = ("the", "and", "of", "a")


@query(
    "text_token_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS total_tokens,
           round(avg(len(regexp_extract_all(text, '\\S+'))), 4) AS avg_tokens,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Token counting at scale: one scan, regexp in codegen, tiny group key.",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    toks = token_count(F.col("text"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks).alias("total_tokens"),
            F.round(F.avg(toks), 4).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@extra_query(
    "text_quality_topk",
    oracle="""
    SELECT doc_id, lang,
           round(least(1.0, len(regexp_extract_all(text, '\\S+')) / 100.0)
                 * least(1.0, n_chars / 500.0), 6) AS quality,
           n_chars
    FROM documents
    ORDER BY quality DESC, doc_id
    LIMIT 25
    """,
    doc="Quality scoring + top-k; deterministic tie-break on doc_id.",
    tags=("text", "topk"),
)
def text_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    return (
        docs.select(
            "doc_id",
            "lang",
            quality_score(F.col("text"), F.col("n_chars")).alias("quality"),
            "n_chars",
        )
        .orderBy(F.desc("quality"), "doc_id")
        .limit(25)
    )


@query(
    "text_lang_id",
    oracle="""
    SELECT lang,
           CASE WHEN len(regexp_extract_all(lower(text), '\\b(the|and|of|a)\\b')) >= 2
                THEN 'en' ELSE 'other' END AS lang_pred,
           count(*) AS n
    FROM documents
    GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
    """,
    doc="n-gram/stopword language-ID heuristic; confusion matrix vs stored lang.",
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    stop_hits = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\b(the|and|of|a)\b"), 0)
    )
    pred = F.when(stop_hits >= 2, F.lit("en")).otherwise(F.lit("other"))
    return (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT)::BIGINT AS fingerprint,
           len(regexp_extract_all(text, '\\S+')) AS n_tokens
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
    doc="Content fingerprint via the shared 60-bit hash; basis for exact dedup.",
    tags=("text", "hash"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    return (
        docs.filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            hash60(F.col("text")).alias("fingerprint"),
            token_count(F.col("text")).alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@extra_query(
    # r11 rotation: demoted to make gate room for mp3_refusal_report —
    # word-level hist/top-k capability stays certified by hist_nested,
    # window_topk_per_group, and the text token-stat rows
    "word_hist_topk",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
    doc="hostosm words pipeline (hostosm.sh:40-46): split|set|hist at scale "
    "=> explode + groupBy; partial agg makes the shuffle proportional to "
    "vocabulary, not corpus.",
    tags=("text", "hist"),
)
def word_hist_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    return (
        docs.select(
            F.explode(words(F.col("text"))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Repetition scoring (Gopher/MassiveText-style quality filter): a document
# whose words are mostly repeats of a few types is boilerplate or spam.
# Pure Catalyst (regexp + array_distinct), no shuffle until the per-lang
# rollup — the per-doc score is a map-side expression usable directly as a
# filter in a cleaning pipeline at any scale.
# --------------------------------------------------------------------------
def repetition_ratio(text: Column) -> Column:
    """1 - distinct_words/total_words in [0,1); 0 = no repetition."""
    ws = words(text)
    return F.lit(1.0) - F.size(F.array_distinct(ws)) / F.size(ws)


@extra_query(
    "text_repetition_stats",
    oracle="""
    WITH w AS (
      SELECT lang,
             1.0 - len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
                   * 1.0 / len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS rep
      FROM documents
      WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(rep), 4) AS avg_repetition,
           round(max(rep), 4) AS max_repetition,
           sum(CASE WHEN rep >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_high_repetition
    FROM w
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Per-language repetition profile: word type-token redundancy per doc "
    "(map-side expression), rolled up per lang (5-key shuffle).",
    tags=("text", "quality"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    ws = words(F.col("text"))
    rep = (F.lit(1.0) - F.size(F.array_distinct(ws)) / F.size(ws)).alias("rep")
    return (
        docs.select("lang", rep, F.size(ws).alias("nw"))
        .filter(F.col("nw") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("rep"), 4).alias("avg_repetition"),
            F.round(F.max("rep"), 4).alias("max_repetition"),
            F.sum(F.when(F.col("rep") >= 0.5, 1).otherwise(0)).alias("n_high_repetition"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Word-unigram entropy: H(doc) = -sum_w p_w ln p_w over in-doc word
# frequencies — the classic CCNet-style quality signal orthogonal to the
# type-token repetition ratio (a doc repeating TWO words alternately has
# rep ~1 but H ~ ln 2; a doc with one run-on word has both low). Low
# entropy flags templated/boilerplate text for the cleaning pipeline.
#
# Shape: explode -> count per (doc, word) -> per-doc fold — two shuffles
# whose key cardinality is bounded by per-doc vocabulary, never corpus².
# Cross-engine: per-doc H is rounded at 6 BEFORE the per-lang rollup (the
# kmeans/pagerank re-sync discipline), so summation-order ulp drift in
# the inner sum cannot reach the rolled-up averages.
# --------------------------------------------------------------------------
ENTROPY_LOW = 2.0  # nats; ~e^2 effective vocabulary


@extra_query(
    "text_entropy_profile",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ), cnt AS (
      SELECT doc_id, lang, w, count(*) AS c FROM t GROUP BY doc_id, lang, w
    ), tot AS (
      SELECT doc_id, sum(c) AS n FROM cnt GROUP BY doc_id
    ), h AS (
      SELECT cnt.doc_id, any_value(cnt.lang) AS lang,
             round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS ent
      FROM cnt JOIN tot USING (doc_id)
      GROUP BY cnt.doc_id
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(ent), 4) AS avg_entropy,
           round(min(ent), 4) AS min_entropy,
           sum(CASE WHEN ent < {ENTROPY_LOW} THEN 1 ELSE 0 END)::BIGINT
             AS n_low_entropy
    FROM h GROUP BY lang ORDER BY lang
    """,
    doc="Per-language word-unigram entropy profile (CCNet-style quality "
    "signal): per-doc H rounded at 6 before the per-lang rollup; flags "
    f"templated docs below {ENTROPY_LOW} nats.",
    tags=("text", "quality"),
)
def text_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    ws = words(F.col("text"))
    cnt = (
        docs.select("doc_id", "lang", F.explode(ws).alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    h = (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.round(-F.sum(p * F.log(p)), 6).alias("ent"),
        )
    )
    return (
        h.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ent"), 4).alias("avg_entropy"),
            F.round(F.min("ent"), 4).alias("min_entropy"),
            F.sum(F.when(F.col("ent") < ENTROPY_LOW, 1).otherwise(0)).alias(
                "n_low_entropy"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# BPE-ish token estimation: subword tokenizers split letter-runs, digits,
# and punctuation separately (the GPT-2 pre-tokenizer shape), so a regex
# over those classes estimates real token counts far better than \S+ —
# the number every training-data budget is denominated in. Same regex
# class semantics in Java regex (Spark) and RE2 (DuckDB) => exact parity.
# --------------------------------------------------------------------------
BPE_ISH = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"


def bpe_token_estimate(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH), 0))


@extra_query(
    "text_bpe_token_estimate",
    oracle=f"""
    SELECT lang,
           sum(len(regexp_extract_all(text, '{BPE_ISH}')))::BIGINT AS bpe_tokens,
           sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS ws_tokens,
           round(sum(len(regexp_extract_all(text, '{BPE_ISH}'))) * 1.0
                 / sum(len(regexp_extract_all(text, '\\S+'))), 4) AS expansion
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Pre-tokenizer-shaped token budget per language: letter-runs, "
    "digits, punctuation counted separately; expansion = bpe/ws ratio. "
    "Pure codegen regexp, one tiny-key shuffle.",
    tags=("text", "tokens"),
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    bpe = bpe_token_estimate(F.col("text"))
    ws = token_count(F.col("text"))
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(bpe).alias("bpe_tokens"),
            F.sum(ws).alias("ws_tokens"),
            F.round(F.sum(bpe) * F.lit(1.0) / F.sum(ws), 4).alias("expansion"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# TF-IDF: the classic relevance weight, and the scale template for any
# corpus-statistic x per-doc-statistic join. Shape: one explode + (doc,word)
# partial-agg shuffle for TF; the DF side aggregates the SAME pre-deduped
# frame so its distinct count is a count(*); vocabulary-sized DF is then
# joined back (vocab << corpus; AQE broadcasts it). ln() is IEEE-identical
# across engines on identical integer inputs; the rank key is the ROUNDED
# score so top-k membership is deterministic.
# --------------------------------------------------------------------------
@extra_query(
    "text_tfidf_topk",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(*) AS df FROM tf GROUP BY word
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.word, tf.tf, df.df,
           round(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS tfidf
    FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    ORDER BY tfidf DESC, tf.word, tf.doc_id
    LIMIT 20
    """,
    doc="Top TF-IDF (doc, word) pairs: explode -> (doc,word) partial agg; "
    "DF derived from the deduped TF frame (count(*), no second distinct); "
    "vocab-sized DF joined back broadcast-style.",
    tags=("text", "tfidf"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    n_docs = docs.count()  # driver scalar, parquet-footer cheap
    tf = (
        docs.select(
            "doc_id",
            F.explode(words(F.col("text"))).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(df, "word")
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
            ).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), "word", "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Inverted index (bigram -> sorted posting list of doc ids) for the
# rare-term band. Rare-n-gram posting lists are the building block of
# exact-match decontamination and keyword routing; single words in a small
# vocabulary are all stop-word-common, so the index key is the word BIGRAM.
# Bigrams are formed map-side with zip_with over two array slices (no
# self-join, no window); the DF band filter keeps list sizes bounded by
# construction (at 100 TB you'd also slice(sort_array(...), 1, K) to cap
# pathological terms). collect_set order is nondeterministic — sort_array
# canonicalizes before the cross-engine hash.
# --------------------------------------------------------------------------
@extra_query(
    "inverted_index_rare",
    oracle="""
    WITH ws AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ), bg AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(list_zip(w[1:len(w)-1], w[2:len(w)]),
                                   p -> p[1] || ' ' || p[2])) AS bigram
      FROM ws
    )
    SELECT bigram,
           count(*) AS df,
           list(doc_id ORDER BY doc_id) AS postings
    FROM bg
    GROUP BY bigram
    HAVING count(*) BETWEEN 1 AND 8
    ORDER BY bigram
    """,
    doc="Rare-bigram inverted index: map-side zip_with bigrams, dedup "
    "(doc,bigram) once, group to sorted posting lists; DF band bound keeps "
    "lists small by construction.",
    tags=("text", "index"),
)
def inverted_index_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    ws = docs.select(
        "doc_id",
        words(F.col("text")).alias("w"),
    )
    n = F.size("w")
    # clamp at 0: a doc with no [a-z0-9] runs (empty/punctuation/pure CJK)
    # has n=0 and an unclamped slice length of -1 crashes the whole query
    ln = F.greatest(n - 1, F.lit(0))
    bigrams = ws.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, ln),
                F.slice("w", 2, ln),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    ).distinct()
    return (
        bigrams.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_set("doc_id")).alias("postings"),
        )
        .filter(F.col("df").between(1, 8))
        .orderBy("bigram")
    )


# --------------------------------------------------------------------------
# Stratified per-group sampling: a capped, DETERMINISTIC sample per stratum
# (the training-data balancing primitive — n docs per language/source, not
# a global fraction). Rank key is the content hash, so the sample is
# engine-, partitioning-, and run-invariant, unlike seeded df.sample. At
# 100 TB this is the salted-top-k shape: cap per (stratum, salt) first if
# a stratum is hot (see window_topk_salted); the plain window is the
# oracle-checkable form.
# --------------------------------------------------------------------------
SAMPLE_PER_LANG = 5


@extra_query(
    "stratified_sample_langs",
    oracle=f"""
    SELECT lang, doc_id, h FROM (
      SELECT lang, doc_id,
             CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT)::BIGINT AS h,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT)::BIGINT,
                        doc_id) AS rn
      FROM documents
    ) WHERE rn <= {SAMPLE_PER_LANG}
    ORDER BY lang, h, doc_id
    """,
    doc=f"Deterministic {SAMPLE_PER_LANG}-per-language sample ranked by "
    "content hash (engine/partitioning/run-invariant); window top-k per "
    "stratum, salted variant for hot strata.",
    tags=("text", "sampling"),
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _docs_scan(spark, sf_dir)
    h = hash60(F.col("text"))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("lang", "doc_id", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_LANG)
        .select("lang", "doc_id", "h")
        .orderBy("lang", "h", "doc_id")
    )


# --------------------------------------------------------------------------
# Word co-occurrence + PMI (pointwise mutual information): the association
# primitive behind collocation mining, embedding co-occurrence matrices,
# and market-basket affinity. Shape: dedup (doc, word) once, self-join on
# doc_id — bounded per doc by the distinct-word count, NOT corpus-squared;
# at 100 TB you additionally cap per-doc distinct words (top-N by tf) so
# the per-doc pair fan-out is a constant. Marginals join back
# vocab-sized (broadcast). ln() runs on identical integer-derived doubles
# in both engines; the 1-ulp libm risk is ~1e-12 per value at round(4) —
# unlike floor(ln) bucketing there is no exact-boundary input class.
# --------------------------------------------------------------------------
@extra_query(
    "word_cooccurrence_pmi",
    oracle="""
    WITH dw AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM dw
    ), marg AS (
      SELECT word, count(*) AS df FROM dw GROUP BY word
    ), pairs AS (
      SELECT a.word AS word_a, b.word AS word_b, count(*) AS n_ab
      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
      GROUP BY a.word, b.word
    )
    SELECT word_a, word_b, n_ab,
           round(ln(n_ab * 1.0 * n.n_docs / (ma.df * 1.0 * mb.df)), 4) AS pmi
    FROM pairs
    JOIN marg ma ON pairs.word_a = ma.word
    JOIN marg mb ON pairs.word_b = mb.word
    CROSS JOIN n
    ORDER BY n_ab DESC, word_a, word_b
    LIMIT 25
    """,
    doc="Top word-pair co-occurrence with PMI: (doc,word) dedup, per-doc "
    "bounded self-join (cap distinct words per doc at PB scale), "
    "vocab-sized marginals broadcast back.",
    tags=("text", "association"),
)
def word_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    dw = pin(
        docs.select("doc_id", F.explode(words(F.col("text"))).alias("word")).distinct(),
        "text.doc_words",
    )
    # pinned once: the scalar count, the marginals and BOTH self-join
    # sides otherwise re-plan the word explode + distinct (4 scans)
    n_docs = dw.select("doc_id").distinct().count()  # driver scalar
    a = dw.alias("a")
    b = dw.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .groupBy(
            F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    marg = dw.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    ma = marg.select(F.col("word").alias("word_a"), F.col("df").alias("df_a"))
    mb = marg.select(F.col("word").alias("word_b"), F.col("df").alias("df_b"))
    pmi = F.log(
        F.col("n_ab") * F.lit(float(n_docs)) / (F.col("df_a") * F.lit(1.0) * F.col("df_b"))
    )
    return (
        pairs.join(F.broadcast(ma), "word_a")
        .join(F.broadcast(mb), "word_b")
        .select("word_a", "word_b", "n_ab", F.round(pmi, 4).alias("pmi"))
        .orderBy(F.desc("n_ab"), "word_a", "word_b")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Compressibility quality signal. Machine-generated boilerplate, templated
# spam, and scraped navigation chrome compress far better than natural
# prose — the zlib ratio is a standard corpus-quality feature alongside
# repetition_ratio/quality_score. No SQL engine exposes deflate, so this is
# an honest Arrow-batched Python hop (mapInPandas, one zlib call per doc
# per batch — never per-row Python round trips) with pytest verification
# instead of a DuckDB oracle; it composes with the Catalyst-side filters
# downstream because it only APPENDS a column.
# --------------------------------------------------------------------------
def with_compression_ratio(df, text_col: str = "text", out_col: str = "compress_ratio"):
    """`df` plus compressed_bytes/raw_bytes in (0, ~1.1] (tiny docs can
    exceed 1 from the zlib header; empty text yields null)."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(df.schema.fields + [StructField(out_col, DoubleType())])

    def add_ratio(batches):
        import zlib

        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            pdf[out_col] = [
                round(len(zlib.compress(b, 6)) / len(b), 4) if len(b) else None
                for b in raw
            ]
            yield pdf

    return df.mapInPandas(add_ratio, schema)


# --------------------------------------------------------------------------
# Distributed tokenizer-vocabulary induction. Training a BPE tokenizer over
# a 100 TB corpus starts with exactly two corpus-wide aggregates, and both
# are implemented here in the shape the real trainers use (word-count
# dictionary FIRST, so all pair work happens over the vocabulary, which is
# orders of magnitude smaller than the corpus):
#   - `bpe_merge_candidates`: the first BPE merge iteration — adjacent
#     symbol-pair frequencies weighted by word count. One map-side-combined
#     groupBy collapses the corpus scan to vocab size; the pair explode and
#     second groupBy run over the vocabulary only. (Subsequent iterations
#     re-run the same frame with merged symbols — each is vocab-sized work,
#     which is why BPE training is tractable at corpus scale at all.)
#   - `vocab_coverage_curve`: cumulative token-coverage share of the top-K
#     words, the standard vocab-size sizing curve (what fraction of token
#     occurrences a K-entry vocabulary covers before subword fallback).
#     The global window runs over the vocab-sized aggregate, never the
#     corpus — same discipline as the reporting module's bucket windows.
# --------------------------------------------------------------------------
def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    return (
        docs.select(
            F.explode(words(F.col("text"))).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@extra_query(
    "bpe_merge_candidates",
    oracle="""
    WITH t AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ), wc AS (
      SELECT w, count(*) AS c FROM t GROUP BY w
    ), pairs AS (
      SELECT unnest(list_transform(range(1, len(w)),
                    i -> substr(w, CAST(i AS INT), 2))) AS pair, c
      FROM wc WHERE len(w) >= 2
    )
    SELECT pair, CAST(sum(c) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair LIMIT 20
    """,
    doc="First BPE merge iteration: adjacent character-pair frequencies "
    "weighted by word count, computed over the vocabulary (not the corpus) "
    "after one map-side-combined word-count aggregate.",
    tags=("text", "vocab"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = _word_counts(spark, sf_dir).filter(F.length("w") >= 2)
    pairs = wc.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(20)
    )


VOCAB_CURVE_KS = (10, 20, 50, 100)


@extra_query(
    "vocab_coverage_curve",
    oracle=f"""
    WITH t AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ), wc AS (
      SELECT w, count(*) AS c FROM t GROUP BY w
    ), ranked AS (
      SELECT c,
             row_number() OVER (ORDER BY c DESC, w) AS r,
             sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum
      FROM wc
    )
    SELECT k.top_k,
           round((SELECT max(cum) FROM ranked WHERE r <= k.top_k) * 1.0
                 / (SELECT max(cum) FROM ranked), 4) AS coverage
    FROM (VALUES {", ".join(f"({k})" for k in VOCAB_CURVE_KS)}) k(top_k)
    ORDER BY top_k
    """,
    doc="Token-coverage share of the top-K words (vocab-size sizing curve). "
    "Rank/cumsum windows run over a DISTRIBUTED top-max(K) of the "
    "word-count aggregate (TakeOrdered) plus a plain-agg total — the "
    "single-partition window sees at most 100 rows at any corpus size.",
    tags=("text", "vocab"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    wc = _word_counts(spark, sf_dir)
    # scale note (r11): the curve needs only cum(top-K) for K <= 100 and
    # the grand total — so sort+limit the word counts FIRST (lowers to
    # TakeOrderedAndProject: each partition ships its local top-K, the
    # driver merges; distributed at any vocab size) and run the
    # rank/cumsum window over that bounded 100-row frame. The previous
    # plan windowed the ENTIRE vocabulary through one partition — fine at
    # sf0.1, a wall at a 100 TB corpus's 1e9+ raw word forms.
    kmax = max(VOCAB_CURVE_KS)
    top = wc.orderBy(F.desc("c"), "w").limit(kmax)
    w = Window.orderBy(F.desc("c"), "w").rowsBetween(Window.unboundedPreceding, 0)
    ranked = top.select(
        F.row_number().over(w).alias("r"), F.sum("c").over(w).alias("cum")
    )
    # attach the 1-row grand total JOIN-FREE: a constant-key equi-join
    # constant-folds back into a BroadcastNestedLoopJoin (the audit's
    # red-flag category), so instead union the two 1-row aggregates and
    # collapse them with one final max-aggregate
    agg = (
        ranked.agg(
            *[
                F.max(F.when(F.col("r") <= k, F.col("cum"))).alias(f"c{k}")
                for k in VOCAB_CURVE_KS
            ],
        )
        .unionByName(
            wc.agg(F.sum("c").alias("t")), allowMissingColumns=True
        )
        .agg(
            *[F.max(f"c{k}").alias(f"c{k}") for k in VOCAB_CURVE_KS],
            F.max("t").alias("t"),
        )
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("top_k"),
                        F.round(F.col(f"c{k}") * F.lit(1.0) / F.col("t"), 4).alias(
                            "coverage"
                        ),
                    )
                    for k in VOCAB_CURVE_KS
                ]
            )
        ).alias("s")
    ).select("s.*")


def bpe_train(
    spark: SparkSession, sf_dir: str, n_merges: int = 10
) -> list[tuple[str, str]]:
    """Distributed BPE training loop: learn `n_merges` merge rules over the
    corpus, returning them in order. Extends `bpe_merge_candidates` from
    one iteration to the full greedy loop the real tokenizer trainers run:

      corpus scan -> ONE map-side-combined word-count aggregate (the only
      corpus-sized pass), then per merge iteration entirely over the
      vocab-sized frame: adjacent-pair counts weighted by word frequency
      -> argmax pair (freq desc, then lexicographic — deterministic
      tie-break) -> left-to-right non-overlapping merge applied to every
      word's symbol array via F.aggregate (a Catalyst fold, no Python).

    At 100 TB the vocabulary is millions of rows, not billions — each
    iteration is a small groupBy plus a map-only transform, which is why
    corpus-scale BPE training is tractable at all. The frame is
    localCheckpoint'ed every iteration: 10 nested aggregate() transforms
    would otherwise stack into one unanalyzable mega-plan (same lineage
    discipline as the pagerank supersteps, graph.py).

    Words shorter than 2 symbols stop participating automatically (no
    adjacent pairs); training stops early if no pair remains.
    """
    # checkpoint only the symbol frame: vocab feeds it exactly once, so a
    # second pinned copy of the corpus aggregate would just hold executor
    # storage for the whole loop
    symbols = pin(
        _word_counts(spark, sf_dir).select(F.split("w", "").alias("sym"), "c"),
        "text.bpe_symbols",
    )

    return _bpe_merge_loop(symbols, n_merges)


def merge_symbols_col(sym: Column | str, a: str, b: str) -> Column:
    """Left-to-right non-overlapping BPE merge of the adjacent pair (a, b)
    in a symbol array, as a Catalyst fold: append each symbol, replacing
    the accumulator's tail when (tail, s) equals the pair. Overlap
    semantics match every reference BPE implementation:
    ["a","a","a"] + merge(a,a) -> ["aa","a"], never ["a","aa"] or
    ["aa","aa"]."""
    merged = a + b
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_merge_loop(symbols: DataFrame, n_merges: int) -> list[tuple[str, str]]:

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (
            symbols.filter(F.size("sym") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("sym") - 1),
                        lambda i: F.struct(
                            F.element_at("sym", i).alias("a"),
                            F.element_at("sym", i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
                "c",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("c").alias("freq"))
        )
        top = pairs.orderBy(F.desc("freq"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        symbols = pin(
            symbols.select(merge_symbols_col("sym", a, b).alias("sym"), "c"),
            "text.bpe_merge",
        )
    return merges


# --------------------------------------------------------------------------
# Corpus-unigram negative-log-likelihood quality score — the CCNet/
# RedPajama-class "language model filter" in its exactly-reproducible
# unigram form: score(doc) = mean over token occurrences of -ln p(w),
# p(w) = corpus_count(w) / corpus_tokens. High scores mark docs full of
# corpus-atypical tokens (mojibake, code soup, wrong-language fragments);
# the top of the ranking is the removal candidate list.
#
# Scale shape: one (doc, word) map-side-combined count, one vocab-sized
# unigram model joined back on the word key, one groupBy(doc). The corpus
# token total is a driver scalar (exact integer — same collected-literal
# discipline as the k-means centroids). Per-doc scores round at 6 before
# the ordering so the cross-engine rank is deterministic.
# --------------------------------------------------------------------------
def bpe_encode(
    df,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "tokens",
):
    """Apply trained BPE merges (from `bpe_train`) to a corpus: each row
    gains an `out_col` array of subword tokens.

    Scale shape mirrors training's insight — tokenization is VOCAB-sized
    work, not corpus-sized: the corpus explodes once into (id, pos, word)
    rows, each DISTINCT word is tokenized exactly once inside an Arrow
    batch (merge ranks broadcast; greedy lowest-rank-first, left-to-right
    non-overlapping — the published GPT-2 bpe() loop), and the token
    arrays join back by word before an order-preserving per-document
    reassembly (collect_list of (pos, toks) structs, array_sort,
    flatten). Documents with no words keep an empty array.
    """
    import pandas as pd

    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}

    def tokenize_words(batches):
        for pdf in batches:
            out = []
            for w in pdf["w"]:
                syms = list(w)
                while len(syms) > 1:
                    best = None
                    for a, b in zip(syms, syms[1:]):
                        r = ranks.get((a, b))
                        if r is not None and (best is None or r < best):
                            best = r
                    if best is None:
                        break
                    a, b = merges[best]
                    merged = []
                    i = 0
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                            merged.append(a + b)
                            i += 2
                        else:
                            merged.append(syms[i])
                            i += 1
                    syms = merged
                out.append(syms)
            yield pd.DataFrame({"w": pdf["w"], "toks": out})

    doc_words = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(words(F.col(text_col))).alias("pos", "w"),
    )
    vocab = doc_words.select("w").distinct()
    word_toks = vocab.mapInPandas(tokenize_words, "w: string, toks: array<string>")
    assembled = (
        doc_words.join(word_toks, "w")
        .groupBy("__id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias(out_col)
        )
    )
    return (
        df.join(assembled, df[id_col] == assembled["__id"], "left")
        .drop("__id")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.array().cast("array<string>")))
    )


@extra_query(
    "unigram_logprob_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ), cnt AS (
      SELECT doc_id, lang, w, count(*) AS c FROM t GROUP BY doc_id, lang, w
    ), vocab AS (
      SELECT w, count(*) AS cw FROM t GROUP BY w
    ), tot AS (
      SELECT count(*) AS tt FROM t
    ), d AS (
      SELECT cnt.doc_id, any_value(cnt.lang) AS lang,
             CAST(sum(cnt.c) AS BIGINT) AS n_tokens,
             round(sum(cnt.c * -ln(vocab.cw * 1.0 / tt)) / sum(cnt.c), 6) AS nll
      FROM cnt JOIN vocab USING (w), tot
      GROUP BY cnt.doc_id
    )
    SELECT doc_id, lang, n_tokens, nll
    FROM d ORDER BY nll DESC, doc_id LIMIT 25
    """,
    doc="Unigram-LM quality score: mean -ln p(word) per doc against the "
    "corpus unigram model; top-25 most-atypical docs (the filter list). "
    "One (doc,word) count + vocab join + one groupBy(doc).",
    tags=("text", "quality"),
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    ws = words(F.col("text"))
    posts = docs.select("doc_id", "lang", F.explode(ws).alias("w"))
    cnt = posts.groupBy("doc_id", "lang", "w").agg(F.count(F.lit(1)).alias("c"))
    # pin the vocab aggregate: the token total is sum(cw) over THIS frame
    # (exact integer — no third corpus scan), and the join below reads the
    # pinned copy instead of re-running the corpus explode
    vocab = pin(posts.groupBy("w").agg(F.count(F.lit(1)).alias("cw")), "text.vocab")
    total = vocab.agg(F.sum("cw")).first()[0]
    nll_num = F.sum(F.col("c") * -F.log(F.col("cw") * F.lit(1.0) / F.lit(total)))
    return (
        cnt.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.sum("c").alias("n_tokens"),
            F.round(nll_num / F.sum("c"), 6).alias("nll"),
        )
        .orderBy(F.desc("nll"), "doc_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Hashing-trick linear quality classifier (the model-based quality filter
# shape: fasttext-style linear text classifiers gate pretraining corpora
# in the CCNet / GPT-3-appendix-A lineage — public papers). A trained
# model is a weight vector indexed by feature hash; scoring is pure
# map-side arithmetic: hash each word into D buckets, sum the bucket
# weights, normalize by length. Here the weight table is a DETERMINISTIC
# pseudo-random function of the bucket id (md5-derived, embeddable in
# SQL) so the whole scoring path is oracle-checkable bit-for-bit; swap
# `weights` for a broadcast array of trained values in production — the
# plan shape (zero shuffles before the final top-k) is identical.
# Sigmoid is deliberately omitted: exp() differs by ULPs across engine
# libms, and the raw mean-weight score is order-equivalent.
# --------------------------------------------------------------------------
CLASSIFIER_BUCKETS = 4096


def classifier_score(text: Column) -> Column:
    """Mean hashed-bucket weight over the doc's words: the linear
    classifier margin (monotone in the sigmoid probability)."""
    ws = words(text)
    D = CLASSIFIER_BUCKETS

    def weight(w: Column) -> Column:
        bucket = hash60(w) % D
        return (
            (hash60(F.concat(F.lit("w:"), bucket.cast("string"))) % 2001 - 1000)
            / F.lit(1000.0)
        )

    total = F.aggregate(ws, F.lit(0.0), lambda acc, w: acc + weight(w))
    return total / F.size(ws)


@extra_query(
    "quality_classifier_lowscore",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), sc AS (
      SELECT doc_id, len(ws) AS n_words,
             list_aggregate(list_transform(ws, w ->
               ((('0x' || substr(md5('w:' || CAST(
                     ('0x' || substr(md5(w), 1, 15))::UBIGINT::BIGINT
                       % {CLASSIFIER_BUCKETS} AS VARCHAR)), 1, 15)
                 )::UBIGINT::BIGINT % 2001) - 1000) / 1000.0
             ), 'sum') / len(ws) AS score
      FROM t WHERE len(ws) > 0
    )
    SELECT doc_id, n_words, round(score, 6) AS score
    FROM sc ORDER BY score, doc_id LIMIT 25
    """,
    doc="Hashing-trick linear quality classifier (fasttext-style filter "
    f"shape, {CLASSIFIER_BUCKETS} buckets, deterministic md5 weights): "
    "the 25 lowest-margin docs — the slice a trained filter would drop. "
    "Zero shuffles before the final top-k; production swaps in trained "
    "weights with the identical plan.",
    tags=("text", "quality"),
)
def quality_classifier_lowscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_scan(spark, sf_dir)
    ws = words(F.col("text"))
    return (
        docs.filter(F.size(ws) > 0)
        .select(
            "doc_id",
            F.size(ws).alias("n_words"),
            F.round(classifier_score(F.col("text")), 6).alias("score"),
        )
        .orderBy("score", "doc_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Distributed logistic-regression training over hashed features: the
# TRAINED counterpart to classifier_score's deterministic demo weights.
# The model a production quality filter actually runs (fasttext-lineage
# linear classifier) is a D-bucket weight vector; training it at corpus
# scale is the same shape as train_ivf_centroids / bpe_train: per-iteration
# map-side work + one tiny aggregate, with only the D-sized weight
# vector ever reaching the driver.
#
# Per iteration (all fine-grained shuffle keys, constant plan depth):
#   1. dot(w, x_doc): explode (doc, bucket, x) joins the broadcast
#      D-row weight table, one groupBy(doc);
#   2. residual p - y per doc (sigmoid on the driver is avoided — it is
#      computed in the JVM; cross-engine exp() parity does not matter
#      here because training is not oracle-gated);
#   3. gradient per bucket: one groupBy(bucket) over residual * x;
#   4. D rows collect to the driver, weights update, loop.
# --------------------------------------------------------------------------
def train_quality_classifier(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = CLASSIFIER_BUCKETS,
    iters: int = 20,
    lr: float = 2.0,
) -> list[float]:
    """Train a logistic regression on length-normalized hashed-bucket
    counts; `label_col` is 0/1. Returns the D-element weight list (use
    `score_documents` to apply it). L2-free, full-batch gradient descent
    — deterministic given the input."""
    spark = docs.sparkSession
    ws = words(F.col(text_col))
    base = pin(
        docs.filter(F.size(ws) > 0)
        .select(
            F.col(id_col).alias("__id"),
            F.col(label_col).cast("double").alias("__y"),
            F.explode(ws).alias("__w"),
            F.size(ws).alias("__n"),
        )
        .select(
            "__id",
            "__y",
            (hash60(F.col("__w")) % n_buckets).alias("__b"),
            (F.lit(1.0) / F.col("__n")).alias("__x"),
        )
        .groupBy("__id", "__y", "__b")
        .agg(F.sum("__x").alias("__x")),
        "text.lr_features",  # reused every iteration; lineage must not grow
    )
    n_docs = base.select("__id").distinct().count()
    weights = [0.0] * n_buckets
    from railgun_spark.session import local_df

    for _ in range(iters):
        # single-partition: a plain createDataFrame would pay a 32-task
        # Python job per training iteration just to ship the weights
        wdf = local_df(
            spark, [(i, w) for i, w in enumerate(weights)],
            "__b: long, __wt: double",
        )
        dot = (
            base.join(F.broadcast(wdf), "__b")
            .groupBy("__id", "__y")
            .agg(F.sum(F.col("__x") * F.col("__wt")).alias("__dot"))
        )
        resid = dot.select(
            "__id",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__dot"))) - F.col("__y")).alias(
                "__r"
            ),
        )
        grad_rows = (
            base.join(resid, "__id")
            .groupBy("__b")
            .agg((F.sum(F.col("__r") * F.col("__x")) / n_docs).alias("__g"))
            .collect()
        )
        for r in grad_rows:
            weights[r["__b"]] -= lr * r["__g"]
    return weights


def score_documents(
    docs: DataFrame,
    weights: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, score) — classifier margin per doc under trained `weights`,
    via the same explode + broadcast-weight join as training (no giant
    literal arrays in the plan). Higher = keep."""
    spark = docs.sparkSession
    n_buckets = len(weights)
    from railgun_spark.session import local_df

    wdf = local_df(
        spark, [(i, w) for i, w in enumerate(weights)],
        "__b: long, __wt: double",
    )
    ws = words(F.col(text_col))
    tok = (
        docs.filter(F.size(ws) > 0)
        .select(
            F.col(id_col).alias("__id"),
            F.explode(ws).alias("__w"),
            F.size(ws).alias("__n"),
        )
        .select("__id", (hash60(F.col("__w")) % n_buckets).alias("__b"), "__n")
    )
    return (
        tok.join(F.broadcast(wdf), "__b")
        .groupBy("__id")
        .agg((F.sum("__wt") / F.first("__n")).alias("score"))
        .select(F.col("__id").alias(id_col), "score")
    )
