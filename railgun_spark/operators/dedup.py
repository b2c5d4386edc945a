"""Deduplication operators for training-data pipelines: exact (hash),
MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.

Beyond-reference components (the reference has only `set()` distinct over
small collections, examples/bars.dfl:10); these are designed as first-class
100 TB operators:

- Exact dedup: hash-groupBy — one shuffle on a 60-bit content hash; at
  scale the hash column is low-cardinality-skew-free by construction.
- MinHash+LSH: shingle -> K minhashes -> B bands -> bucket self-join on
  band key -> verify candidates with true Jaccard. The bucket join is the
  only O(candidate) stage; everything before it is embarrassingly parallel
  map work, and the join key (band hash) distributes uniformly unless the
  corpus contains giant duplicate clusters — those are exactly what AQE
  skew-join splitting (enabled in session.py) handles.
- SimHash: 32-bit sign-aggregated token-hash fingerprint; near-dup =
  hamming distance <= t on the fingerprint (bit_count(xor)) — pairwise
  within blocking keys only.
- All hashes use the md5-prefix hash60 (text.py) so every query here is
  bit-for-bit reproducible in the DuckDB oracle. Swap in xxhash64 for
  production speed (same plan shape).

No Python UDFs anywhere: shingling, hashing, banding are higher-order
Catalyst expressions (transform/aggregate/array_*), fully codegen'd.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


from railgun_spark.session import pin_if_big as _pin_if_big  # noqa: E402

from railgun_spark.suite import extra_query, query

NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS


def words(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), 0)


def shingles_of_words(ws: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a WORD-ARRAY column (empty if
    < n words).

    Built by zip_with over shifted copies of the word array rather than
    transform+get: index-lambda element access is interpreted per element
    and benchmarked ~14x slower at sf0.1. The final zip is against the
    (n-1)-shifted array, whose null padding marks (and drops) the partial
    grams at the tail.

    The expression references `ws` 2n times; pass a bound COLUMN (a prior
    projection's attribute), not the tokenizer expression itself —
    interpreted higher-order functions re-evaluate every embedded
    subexpression, so an inlined regexp tokenizer runs 2n times per row.
    Data paths go through `shingle_sets`; `shingles()` below is the
    one-expression form for contexts where the duplication cannot bite
    (tiny frames, tests)."""
    acc = ws
    for j in range(1, n):
        shifted = F.slice(ws, j + 1, F.greatest(F.size(ws) - j, F.lit(0)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda p, c: F.when(p.isNotNull() & c.isNotNull(), F.concat_ws(" ", p, c)),
        )
    return F.array_distinct(F.filter(acc, lambda x: x.isNotNull()))


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (empty if < n
    words) as ONE expression — see shingle_sets for the two-stage form
    data paths use."""
    return shingles_of_words(words(text), n)


def shingle_sets(
    docs: DataFrame, *keep: str, text_col: str = "text", hashed: bool = False
) -> DataFrame:
    """(*keep, sh): the distinct word-trigram shingle set of every doc
    in `docs` with >= 3 words — the one text-signature front end every
    shingle consumer (near-dup joins, MinHash bands, decontamination,
    source overlap) goes through. `hashed` stores each shingle as its
    int64 xxhash64, so set joins carry 8-byte elements instead of text;
    string shingles are kept where a hash must match the DuckDB oracle
    (md5-based MinHash, pooled overlap).

    The non-empty filter counts words (>= 3 words <=> >= 1 shingle) and
    the projection is two-stage, tokenize then shingle from the column;
    README "Text signatures" says why both keep the regexp and the
    interpreted shingle chain to one evaluation per row."""
    ws = words(F.col(text_col))
    sh = shingles_of_words(F.col("__ws"))
    if hashed:
        sh = F.transform(sh, lambda g: F.xxhash64(g))
    return (
        docs.filter(F.size(ws) >= 3)
        .select(*keep, ws.alias("__ws"))
        .select(*keep, sh.alias("sh"))
    )


def shingle_pool(sets: DataFrame) -> DataFrame:
    """(g): the distinct shingles of a `shingle_sets` frame — the pooled
    eval side `pooled_contamination` broadcasts."""
    return sets.select(F.explode("sh").alias("g")).distinct()


def _hash60_str(e: Column) -> Column:
    """60-bit hash of a string expression — delegates to text.hash60 so the
    cross-engine-parity-critical definition lives in exactly one place."""
    from railgun_spark.operators.text import hash60

    return hash60(e)


MERSENNE31 = 2147483647  # 2^31 - 1


def _affine_params(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    """Deterministic pseudo-random (A_j, B_j) for the permutation family
    perm_j(h) = (A_j * h + B_j) % MERSENNE31 — derived from md5 so they are
    stable across runs/engines and embeddable as SQL literals. A_j is odd
    and nonzero; products stay < 2^62 (no bigint overflow)."""
    import hashlib

    out = []
    for j in range(num_hashes):
        a = int(hashlib.md5(f"A{j}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"B{j}".encode()).hexdigest()[:7], 16)
        out.append((a, b))
    return out


def band_keys(sig: Column, num_bands: int = NUM_BANDS, rows: int = ROWS_PER_BAND) -> Column:
    """LSH band keys: one string key per band (band index ++ its signature slice)."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.element_at(sig, b * rows + r + 1).cast("string") for r in range(rows)],
            )
            for b in range(num_bands)
        ]
    )


def minhash_bands(sets: DataFrame, id_col: str) -> DataFrame:
    """(id_col, band_key): the NUM_BANDS LSH band keys of every shingle
    set in `sets` (id_col, sh), one row per (doc, band).

    Row form: the shingles explode so the base md5 runs ONCE per shingle
    in codegen'd row form, and the NUM_HASHES affine permutations are
    cheap integer min-aggregates. An array-expression signature inlines
    the md5 transform into each of the 16 array_min higher-order
    functions (16x the cryptographic work, interpreted per element; the
    r11 ingest grid measured 500 gate docs at 12 s that way vs < 1 s
    here). An empty set has no rows, hence no bands — a NULL-min
    signature would otherwise degenerate to the keys '0'..'3'."""
    tok = sets.select(id_col, F.explode("sh").alias("__sg")).select(
        id_col, (_hash60_str(F.col("__sg")) % MERSENNE31).alias("__h31")
    )
    sig = tok.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("__h31") + F.lit(b)) % MERSENNE31).alias(f"__h{j}")
            for j, (a, b) in enumerate(_affine_params())
        ]
    ).select(
        id_col, F.array(*[F.col(f"__h{j}") for j in range(NUM_HASHES)]).alias("__sig")
    )
    return sig.select(id_col, F.explode(band_keys(F.col("__sig"))).alias("band_key"))


def _docs_with_shingles(spark: SparkSession, sf_dir: str, hashed: bool = False) -> DataFrame:
    """(doc_id, lang, sh) over the documents table (see shingle_sets)."""
    from railgun_spark.operators.text import _docs_scan

    return shingle_sets(_docs_scan(spark, sf_dir), "doc_id", "lang", hashed=hashed)


# --------------------------------------------------------------------------
# Exact dedup via content hash.
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT count(*) AS n_docs,
           count(DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT)::BIGINT)
             AS n_unique,
           count(*) - count(DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT)::BIGINT)
             AS n_duplicates
    FROM documents
    """,
    doc="Exact dedup summary: one scan + one distinct-on-hash shuffle.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.text import hash60

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = hash60(F.col("text"))
    return docs.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_duplicates"),
    )


def dedup_exact_keep_first(
    df: DataFrame, cols: list[str], id_col: str | None = None, strict: bool = False
) -> DataFrame:
    """Production exact-dedup: keep the lowest-id row per content hash.
    `id_col` defaults to the first column.

    groupBy(hash).min is preferred over window row_number at scale: partial
    aggregation collapses duplicates map-side before the shuffle. The
    semi-join matches on BOTH (hash, id): matching on id alone would keep
    every row sharing an id with a winner, even rows whose own hash lost
    (non-unique ids across different content).

    Known edge of the default path: two PHYSICALLY duplicated rows with the
    same id AND same content both match the winning (hash, id) pair and
    both survive. Pass ``strict=True`` for exact one-survivor-per-hash
    semantics via row_number — correct even for full-row duplicates, at
    the cost of a sort within each hash's shuffle partition instead of a
    map-side-combining aggregate (hash keys are near-unique, so the
    per-key sort is tiny; prefer the default when ids are unique).
    """
    id_col = id_col or df.columns[0]
    hashed = df.withColumn("__h", F.xxhash64(*cols))
    if strict:
        from pyspark.sql import Window

        w = Window.partitionBy("__h").orderBy(F.col(id_col))
        return (
            hashed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__h", "__rn")
        )
    winners = hashed.groupBy("__h").agg(F.min(F.col(id_col)).alias("__id"))
    out = hashed.join(
        winners,
        (hashed["__h"] == winners["__h"]) & (hashed[id_col] == winners["__id"]),
        "left_semi",
    )
    return out.drop("__h")


# --------------------------------------------------------------------------
# Exact-threshold Jaccard similarity self-join via lossless prefix
# filtering (AllPairs/PPJoin, Bayardo et al. WWW'07 — public paper).
# --------------------------------------------------------------------------
# Shared prefix-filter machinery (used by jaccard_similarity_join, its
# AB variant, and containment_similarity_join — one definition of the
# tau validation, frame normalization, exact prefix-length arithmetic,
# rarest-first ranking, and the Jaccard verify scaffold).
def _check_tau(tau_num: int, tau_den: int) -> None:
    if not (0 < tau_num <= tau_den):
        raise ValueError(f"tau must be in (0, 1]: got {tau_num}/{tau_den}")


def _sets_frame(df: DataFrame, id_col: str, set_col: str, bc: list[str]) -> DataFrame:
    """(block..., __id, __set, __n) with empty sets dropped, lazily
    checkpointed — every caller reuses it for tokens AND verify sides.

    The `__n > 0` filter sits ABOVE the checkpoint barrier on purpose:
    below it, Catalyst pushes the filter under the projection by
    inlining `size(<set expression>)` — for shingle-pipeline callers
    that re-evaluates the whole interpreted zip_with chain a second
    time per row during the one materialization job. Above the barrier
    it compares the already-materialized 4-byte `__n`."""
    s = df.select(
        *bc,
        F.col(id_col).alias("__id"),
        F.col(set_col).alias("__set"),
        F.size(set_col).alias("__n"),
    ).localCheckpoint(eager=False)
    return s.filter(F.col("__n") > 0)


def _tokens(s: DataFrame, bc: list[str]) -> DataFrame:
    return s.select(*bc, "__id", "__n", F.explode("__set").alias("__t"))


def _prefix_len(tau_num: int, tau_den: int):
    """p = n - ceil(tau*n) + 1, exact integer math (float tau would
    over-round ceil and silently shorten the prefix = lost pairs)."""
    return (
        F.col("__n")
        - F.floor((tau_num * F.col("__n") + tau_den - 1) / F.lit(tau_den)).cast("long")
        + 1
    )


def _rarest_first_prefixes(
    tok: DataFrame, df_tab: DataFrame, bc: list[str], tau_num: int, tau_den: int
) -> DataFrame:
    """First p tokens of each row under the global (df, token) order —
    rarest-document-frequency-first, the AllPairs candidate-minimizing
    heuristic. `df_tab` supplies (__t -> __df); any consistent total
    order preserves losslessness, df-ascending just shrinks candidates."""
    from pyspark.sql.window import Window

    order_w = Window.partitionBy(*bc, "__id").orderBy("__df", "__t")
    return (
        tok.join(df_tab, bc + ["__t"])
        .withColumn("__rn", F.row_number().over(order_w))
        .filter(F.col("__rn") <= _prefix_len(tau_num, tau_den))
        .select(*bc, "__t", "__id", "__n")
    )


def _size_ratio_ok(na, nb, tau_num: int, tau_den: int):
    """J >= tau needs tau_den*min >= tau_num*max (inter <= min, union >= max)."""
    return F.least(na, nb) * tau_den >= F.greatest(na, nb) * tau_num


def _verify_jaccard(
    cand: DataFrame,
    s_left: DataFrame,
    s_right: DataFrame,
    tau_num: int,
    tau_den: int,
    la: str,
    lb: str,
) -> DataFrame:
    """Join the full sets back onto candidate (la, lb) pairs and keep the
    exact-Jaccard survivors; |A u B| = |A|+|B|-|A n B| so the union array
    is never built. Float comparison mirrors SQL `* 1.0 / ... >= tau`."""
    sa = s_left.select(
        F.col("__id").alias(la), F.col("__set").alias("__sha"), F.col("__n").alias("__na")
    )
    sb = s_right.select(
        F.col("__id").alias(lb), F.col("__set").alias("__shb"), F.col("__n").alias("__nb")
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.col("__na") + F.col("__nb") - F.col("__i")
    return (
        cand.join(sa, la)
        .join(sb, lb)
        .withColumn("__i", inter)
        .filter(F.col("__i") * F.lit(1.0) / union >= F.lit(tau_num) / F.lit(tau_den))
        .select(la, lb, (F.col("__i") * F.lit(1.0) / union).alias("jaccard"))
    )


def jaccard_similarity_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    tau_num: int,
    tau_den: int,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs (id_a < id_b) whose set columns have Jaccard >= tau
    (= tau_num/tau_den, kept rational so the prefix arithmetic is exact),
    optionally restricted to rows agreeing on `block_cols`. Returns
    (id_a, id_b, jaccard) — jaccard as unrounded double.

    LOSSLESS blocking, not an approximation: for J(A,B) >= tau,
    |A n B| >= ceil(tau*|A|) and >= ceil(tau*|B|) (inter >= tau*union >=
    tau*max). Under any global total order on set elements, the smallest
    element of A n B must sit within the first
    p = |X| - ceil(tau*|X|) + 1 elements of BOTH sets (otherwise the
    whole intersection fits in a suffix shorter than the required
    overlap) — so an equi-join on exploded p-element prefixes finds
    EVERY qualifying pair. Elements are ordered rarest-document-
    frequency-first (the AllPairs heuristic), which minimizes prefix
    collisions, then only candidates are verified with the real
    intersection. Candidate cost tracks sum(df^2) over RARE elements,
    never rows^2; every shuffle key (element, id) is fine-grained.

    `set_col` must hold DISTINCT elements (the union is computed as
    |A|+|B|-|A n B|). Pre-hash large string elements to 8-byte ints
    (xxhash64) — pair rows then carry int arrays, not text.
    At 100 TB this is the exact-verify complement to MinHash-LSH
    (dedup_minhash_lsh): LSH when a small false-negative rate is fine,
    this when the threshold must be exact.
    """
    _check_tau(tau_num, tau_den)
    bc = list(block_cols)
    s = _sets_frame(df, id_col, set_col, bc)
    tok = _tokens(s, bc)
    df_tab = tok.groupBy(*bc, "__t").agg(F.count(F.lit(1)).alias("__df"))
    # pin the prefixes ONCE when they are big: the candidate self-join
    # otherwise plans the whole prefix pipeline (token explode + df
    # aggregate + window) on BOTH sides — two extra shuffles and a
    # doubled corpus tokenization. Size-gated because at bench scale the
    # eager pin job costs more than the saved recompute (_pin_if_big).
    pref = _pin_if_big(_rarest_first_prefixes(tok, df_tab, bc, tau_num, tau_den))
    pa, pb = pref.alias("a"), pref.alias("b")
    cond = (
        (F.col("a.__t") == F.col("b.__t"))
        & (F.col("a.__id") < F.col("b.__id"))
        & _size_ratio_ok(F.col("a.__n"), F.col("b.__n"), tau_num, tau_den)
    )
    # SQL `=` semantics: rows with a NULL block key never pair (matches
    # the DuckDB oracle's `a.lang = b.lang`)
    for c in bc:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        pa.join(pb, cond)
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cand, s, s, tau_num, tau_den, "id_a", "id_b")


def jaccard_similarity_join_ab(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    set_col: str,
    tau_num: int,
    tau_den: int,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-table variant of jaccard_similarity_join: every (left, right)
    pair with Jaccard >= tau_num/tau_den, as (id_left, id_right, jaccard).
    Same lossless prefix-filter lemma — the smallest common element under
    a global total order must sit in BOTH rows' rarest-first prefixes —
    with document frequency computed over the UNION of both token tables
    so the ordering is consistent across sides. The canonical use is
    near-duplicate benchmark decontamination: `right` (the eval set) is
    tiny next to `left` (the corpus), so the candidate equi-join's right
    side stays small and the whole pipeline is one token-keyed join plus
    a candidate verify — never corpus x eval pairs."""
    _check_tau(tau_num, tau_den)
    bc = list(block_cols)
    L = _sets_frame(left, id_col, set_col, bc)
    R = _sets_frame(right, id_col, set_col, bc)
    ltok, rtok = _tokens(L, bc), _tokens(R, bc)
    # pin the shared document-frequency table when it is big: both
    # sides' prefix computations join it, and without the checkpoint the
    # cross-table union + aggregate (a full tokenization of BOTH
    # corpora) is planned twice — once under each prefix subtree.
    # Size-gated like the self-join prefix pin (_pin_if_big): at bench
    # scale the blocking pin job costs more than the saved recompute.
    df_tab = _pin_if_big(
        ltok.select(*bc, "__t")
        .unionByName(rtok.select(*bc, "__t"))
        .groupBy(*bc, "__t")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    pa = _rarest_first_prefixes(ltok, df_tab, bc, tau_num, tau_den).alias("a")
    pb = _rarest_first_prefixes(rtok, df_tab, bc, tau_num, tau_den).alias("b")
    cond = (F.col("a.__t") == F.col("b.__t")) & _size_ratio_ok(
        F.col("a.__n"), F.col("b.__n"), tau_num, tau_den
    )
    for c in bc:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        pa.join(pb, cond)
        .select(F.col("a.__id").alias("id_left"), F.col("b.__id").alias("id_right"))
        .distinct()
    )
    return _verify_jaccard(cand, L, R, tau_num, tau_den, "id_left", "id_right")


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (blocked pairwise verify).
# --------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM t WHERE len(ws) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    ORDER BY doc_a, doc_b
    """,
    doc="Exact-threshold Jaccard similarity self-join (J >= 0.8) via "
    "lossless prefix filtering (AllPairs/PPJoin, Bayardo et al. WWW'07, "
    "public paper): candidates come from a token-bucketed equi-join on "
    "each doc's rarest-first prefix, never an all-pairs product — the "
    "result set is provably identical to the oracle's quadratic join. "
    "(Verify-leg cost at sf0.1: 338 s -> 94 s via int-hashed shingles; "
    "-> ~3 s via prefix filtering.)",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Thin wrapper over jaccard_similarity_join (see its docstring for the
    # lossless-prefix-filter argument): shingles hash to 8-byte ints
    # map-side so candidate/verify rows carry int arrays, not ~2 KB text.
    s = _docs_with_shingles(spark, sf_dir, hashed=True)
    pairs = jaccard_similarity_join(
        s, id_col="doc_id", set_col="sh", tau_num=4, tau_den=5, block_cols=("lang",)
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 4).alias("jaccard"),
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# Exact-substring duplication fraction (the "Deduplicating Training Data
# Makes Language Models Better" filter, Lee et al. 2021, arXiv:2107.06499
# — public paper): a document is flagged when a large fraction of its
# K-word windows occur verbatim in OTHER documents. Catches copied spans
# and boilerplate that whole-document near-dup misses, without suffix
# arrays: K-word windows hash to 60-bit keys, one groupBy(hash) marks
# windows whose hash spans >= 2 DISTINCT docs, one groupBy(doc) rolls up
# the duplicated fraction. The shuffle carries 8-byte hashes, never text;
# window extraction is map-side higher-order expressions.
# --------------------------------------------------------------------------
DUP_WINDOW_K = 10
DUP_WINDOW_FRAC = 0.5


def _window_hash_array(ws: Column, k: int) -> Column:
    """hash60 of every k-word window of the word array `ws`, in order
    (non-distinct: a window repeated inside one doc appears each time).
    `ws` must be a bound column, not the tokenizer: the expression
    references it twice per window."""
    return F.transform(
        F.sequence(F.lit(1), F.size(ws) - k + 1),
        lambda i: _hash60_str(F.concat_ws(" ", F.slice(ws, i, k))),
    )


def _window_hashes(
    docs: DataFrame, id_col: str, text_col: str = "text", k: int = DUP_WINDOW_K
) -> DataFrame:
    """(id_col, h) for every k-word window of every doc with >= k words,
    tokenized in its own projection like `shingle_sets`."""
    ws = words(F.col(text_col))
    return (
        docs.filter(F.size(ws) >= k)
        .select(id_col, ws.alias("__ws"))
        .select(id_col, F.explode(_window_hash_array(F.col("__ws"), k)).alias("h"))
    )


@query(
    "duplicated_window_fraction",
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
    )
    SELECT win.doc_id,
           count(*) AS n_windows,
           sum(CASE WHEN marked.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows,
           round(sum(CASE WHEN marked.nd >= 2 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS dup_frac
    FROM win JOIN marked USING (h)
    GROUP BY win.doc_id
    HAVING sum(CASE WHEN marked.nd >= 2 THEN 1 ELSE 0 END) * 1.0
           / count(*) >= {DUP_WINDOW_FRAC}
    ORDER BY dup_frac DESC, doc_id
    """,
    doc=f"Exact-substring duplication filter (Lee et al. 2021 shape): flag "
    f"docs with >= {DUP_WINDOW_FRAC:.0%} of their {DUP_WINDOW_K}-word "
    "windows duplicated verbatim in other docs. Windows hash to 60-bit "
    "keys map-side; the shuffles carry hashes only.",
    tags=("dedup", "quality"),
)
def duplicated_window_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.session import spread_scan

    # the window explode + per-window md5 is the corpus-pass CPU floor;
    # spread a single-file scan so it does not run on one core (§2.5);
    # A/B 4.02 -> 1.69 s at sf0.1/local[32]
    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"), heavy=True)
    return (
        window_dup_frac_frame(docs)
        .filter(
            F.col("n_dup_windows") * F.lit(1.0) / F.col("n_windows") >= DUP_WINDOW_FRAC
        )
        .orderBy(F.desc("dup_frac"), "doc_id")
    )


def window_dup_frac_frame(docs: DataFrame) -> DataFrame:
    """Per-doc duplicated-window stats, unfiltered:
    (doc_id, n_windows, n_dup_windows, dup_frac) for every doc with >= K
    words. Shared by the threshold query and the per-source rollup.

    Plan: windows as positions 1..len-K+1; join K words per window,
    hash60 (non-distinct: repeated windows inside one doc each count
    toward the doc's fraction, matching the oracle's unnest semantics).
    ONE explode, repartitioned by h so the (h, doc_id) pre-aggregate
    (collapsing intra-doc window repeats) and the per-h distinct-doc
    count REUSE that partitioning: nd is a count(*) window over h —
    hashpartitioning(h) satisfies both the groupBy(h, doc_id) and the
    window's required distributions, so neither adds an exchange. The
    previous groupBy+self-join form planned the scan+explode+hash
    subtree TWICE (the corpus was window-hashed twice per run) and
    broadcast an h-cardinality table — r17 before-plan: 2 scans /
    12 exchange-or-broadcast nodes; now 1 scan / 3 exchanges, and
    nothing h-sized is ever broadcast (the join form's broadcast side
    grows with corpus windows — a 100 TB landmine AQE would demote to
    a sort-merge join, i.e. two MORE shuffles)."""
    from pyspark.sql import Window

    win = _window_hashes(docs, "doc_id")
    # r18 skew hardening (VERDICT r17 #4/#6): aggregate BEFORE anything
    # is keyed by h alone. groupBy(h, doc_id) gets Catalyst's partial
    # (map-side) aggregation, so intra-doc window repeats collapse
    # before the first exchange — r17's repartition(h) shipped every raw
    # exploded occurrence and put a mega-duplicated window's whole row
    # set on one reducer. The first exchange is keyed (h, doc_id): a hot
    # boilerplate hash spreads across its doc_ids. The second exchange
    # (the count window's hashpartitioning(h)) carries one 24-byte row
    # per DISTINCT (h, doc) — that per-h row count (docs sharing the
    # window) is intrinsic to "count docs per window" and bounds the hot
    # partition; see the hot-hash fixture test for the behavior proof.
    per = win.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    per = per.withColumn("nd", nd)
    dup = F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(0))
    total = F.sum("cnt")
    return per.groupBy("doc_id").agg(
        total.alias("n_windows"),
        dup.alias("n_dup_windows"),
        F.round(dup * F.lit(1.0) / total, 4).alias("dup_frac"),
    )


# --------------------------------------------------------------------------
# Exact-substring duplication REMOVAL (the second half of Lee et al. 2021,
# arXiv:2107.06499 — public paper): where duplicated_window_fraction only
# FLAGS documents, this rewrites them — every word covered by a K-word
# window that occurs verbatim in >= 2 distinct documents is deleted, and
# the surviving words are re-joined. Removing just the copied spans (page
# chrome, license boilerplate, quoted passages) keeps the novel remainder
# of a document in the corpus instead of dropping or keeping it whole.
# --------------------------------------------------------------------------
@query(
    "duplicated_span_removal",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), win AS (
      SELECT doc_id,
             unnest(range(1, len(ws) - {DUP_WINDOW_K} + 2)) AS i,
             unnest(list_transform(range(1, len(ws) - {DUP_WINDOW_K} + 2),
                    i -> ('0x' || substr(md5(
                        list_aggregate(ws[i:i + {DUP_WINDOW_K} - 1], 'string_agg', ' ')
                    ), 1, 15))::UBIGINT::BIGINT)) AS h
      FROM t WHERE len(ws) >= {DUP_WINDOW_K}
    ), per AS (
      SELECT h, min(doc_id) AS mn, max(doc_id) AS mx FROM win GROUP BY h
    ), dupwin AS (
      SELECT win.doc_id, win.i FROM win JOIN per USING (h) WHERE per.mn <> per.mx
    ), cov AS (
      SELECT doc_id,
             list_distinct(flatten(list_transform(list(i),
                                   s -> range(s, s + {DUP_WINDOW_K})))) AS covered
      FROM dupwin GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.ws) AS n_words,
           coalesce(len(cov.covered), 0) AS n_removed,
           coalesce(list_aggregate(
             list_transform(
               list_filter(range(1, len(t.ws) + 1),
                           i -> cov.covered IS NULL OR NOT list_contains(cov.covered, i)),
               i -> t.ws[i]),
             'string_agg', ' '), '') AS cleaned_text
    FROM t LEFT JOIN cov USING (doc_id)
    ORDER BY doc_id
    """,
    doc=f"Exact-substring span removal (Lee et al. 2021): delete every word "
    f"covered by a {DUP_WINDOW_K}-word window shared verbatim by >= 2 docs; "
    "emit the rewritten corpus with per-doc removal counts.",
    tags=("dedup", "quality"),
)
def duplicated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.session import spread_scan

    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"), heavy=True)
    return span_removal_frame(docs).orderBy("doc_id")


def span_removal_frame(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Frame form of duplicated_span_removal (unordered): duplication
    evidence comes from exactly the documents IN `docs`. Pipelines must
    pass the corpus slice whose duplication should count — e.g. the
    CLEANED corpus, not the raw one: against the raw corpus every dedup
    survivor's windows still collide with its already-removed duplicates,
    and "keep one copy" silently becomes "keep zero copies".

    Plan shape: ONE posexplode of map-side window hashes, repartitioned
    by hash; duplicated hashes detected with min(doc)!=max(doc) as
    WINDOW functions over h on that single pass (no countDistinct, no
    second window extraction — the previous groupBy+join form planned
    the explode+md5 subtree twice and broadcast an h-cardinality table,
    which at corpus scale AQE would demote to a sort-merge join that
    shuffles and sorts the window rows anyway); covered positions built
    per doc from the duplicated starts only; one left join hands each
    doc its covered set.

    Skew bound on the h-exchange (r18, VERDICT r17 #4): unlike the
    frac query, NO pre-aggregation is possible here — every (doc, i)
    occurrence row is the output (each duplicated position must be
    removed), so the exchange necessarily carries one 24-byte row per
    window occurrence. The hot-h window partition holds one row per
    occurrence of that window across the corpus; its task does a sort +
    running min/max — O(m log m) over 24-byte rows, spilling gracefully
    — and the downstream per-doc covered-set aggregate re-spreads by
    doc_id. If a corpus ever concentrates a single boilerplate window
    past task memory, the two-stage fallback is: derive the dup-h set
    via a salted (h, salt) min/max partial + per-h merge, then
    sort-merge-join win against it on h (AQE skew-split applies to
    joins) — costs one extra pass over the pinned `base`, so it is not
    the default at bench scale. Shuffles carry (hash, doc, pos) 8-byte triples
    and the final per-doc covered arrays — never window text. The
    rewrite itself is pure map-side higher-order expressions over the
    word array."""
    from pyspark.sql import Window

    k = DUP_WINDOW_K
    base = docs.select(
        F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("ws")
    )
    base = base.localCheckpoint(eager=False)  # reused: window explode + final rewrite
    win = base.filter(F.size("ws") >= k).select(
        "doc_id", F.posexplode(_window_hash_array(F.col("ws"), k)).alias("i0", "h")
    )
    wh = Window.partitionBy("h")
    dupwin = (
        win.repartition(F.col("h"))
        .withColumn(
            "dup", F.min("doc_id").over(wh) != F.max("doc_id").over(wh)
        )
        .filter("dup")
        .select("doc_id", (F.col("i0") + 1).alias("i"))
    )
    cov = dupwin.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(F.collect_list(F.sequence(F.col("i"), F.col("i") + k - 1)))
        ).alias("covered")
    )
    # guarded: sequence(1, 0) is the DESCENDING [1, 0], and element_at on
    # an empty word array then crashes the job (zero-word docs: empty,
    # punctuation-only, or non-latin text) — such docs pass through whole
    pos = F.when(
        F.size("ws") > 0, F.sequence(F.lit(1), F.size("ws"))
    ).otherwise(F.array().cast("array<int>"))
    # F.filter (not array_except) so surviving word order is guaranteed
    keep = F.filter(
        pos, lambda i: F.col("covered").isNull() | ~F.array_contains("covered", i)
    )
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.coalesce(F.size("covered"), F.lit(0)).alias("n_removed"),
        F.concat_ws(
            " ", F.transform(keep, lambda i: F.element_at("ws", i))
        ).alias("cleaned_text"),
    )


# --------------------------------------------------------------------------
# Containment near-dup pairs: C(A,B) = |A ∩ B| / |min(A,B)| over shingle
# sets. Catches SUPERSET duplication — a document embedded verbatim inside
# a longer one (quote expansion, page chrome around a reused article) —
# which symmetric Jaccard misses: a doc fully contained in one 3x its size
# has Jaccard <= 1/3 but containment 1.0.
#
# Scale shape (two-phase, like MinHash-LSH): candidates come from a
# RARE-shingle inverted-index self-join — only shingles with document
# frequency <= CONTAIN_DF_CAP participate, so per-shingle pair fan-out is
# bounded at DF_CAP^2 regardless of corpus size (the standard rare-feature
# blocking used by inverted_index_rare); then candidates verify with exact
# array intersection. Recall caveat, stated honestly: a contained pair
# whose every shared shingle is corpus-common is not produced — at 0.9
# containment such pairs need EVERY shingle of the smaller doc to be
# common, which is exactly the boilerplate class dedup should not chase.
# The contained doc is the smaller shingle set (higher doc_id on ties,
# matching the lower-id-survives discipline).
# --------------------------------------------------------------------------
CONTAIN_DF_CAP = 20
CONTAIN_THRESHOLD = 0.9


@extra_query(
    # r8 rotation: demoted to EXTRA — dedup_containment_exact (lossless
    # AND faster at sf0.1) keeps the containment row driver-certified;
    # this df-capped blocker variant stays locally gated with its recall
    # counter (containment_recall_report)
    "dedup_containment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM t WHERE len(ws) >= 3
    ), posts AS (
      SELECT doc_id, unnest(sh) AS g FROM s
    ), rare AS (
      SELECT g FROM posts GROUP BY g HAVING count(*) <= {CONTAIN_DF_CAP}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
      WHERE a.g IN (SELECT g FROM rare)
    ), verified AS (
      SELECT cand.d1, cand.d2, len(sa.sh) AS n1, len(sb.sh) AS n2,
             len(list_intersect(sa.sh, sb.sh)) AS inter
      FROM cand
      JOIN s sa ON sa.doc_id = cand.d1
      JOIN s sb ON sb.doc_id = cand.d2
    )
    SELECT CASE WHEN n1 < n2 THEN d2 ELSE d1 END AS doc_container,
           CASE WHEN n1 < n2 THEN d1 ELSE d2 END AS doc_contained,
           round(inter * 1.0 / least(n1, n2), 4) AS containment
    FROM verified
    WHERE inter * 1.0 / least(n1, n2) >= {CONTAIN_THRESHOLD}
    ORDER BY doc_contained, doc_container
    """,
    doc="Asymmetric containment near-dup pairs (|A∩B|/|smaller|): rare-"
    f"shingle inverted-index candidates (df <= {CONTAIN_DF_CAP}, bounded "
    "fan-out) + exact intersection verify. Catches docs embedded verbatim "
    "in longer docs, which symmetric Jaccard misses. See "
    "dedup_containment_exact for the LOSSLESS prefix-filter variant — "
    "measured FASTER at sf0.1 (2.8 s vs 5.5 s) with zero recall caveat; "
    "this df-capped form remains as the bounded-fan-out pattern whose "
    "candidate volume is provably corpus-size-independent per shingle.",
    tags=("dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _docs_with_shingles(spark, sf_dir).select("doc_id", "sh")
    posts = s.select("doc_id", F.explode("sh").alias("g"))
    rare = (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_DF_CAP)
        .select("g")
    )
    rare_posts = posts.join(rare, "g", "left_semi")
    # pair generation: ONE groupBy(g) shuffle into bounded posting arrays
    # (df <= CAP so each array holds <= CAP doc_ids), then all (d1 < d2)
    # pairs explode MAP-SIDE from each array — no two-sided self-join
    # shuffle. sc = |rare ∩ A ∩ B| falls out of the pair groupBy.
    # Lossless count prefilter before any array work: containment >= T over
    # FULL sets means the smaller doc M has <= (1-T)·|M| unshared shingles,
    # so at least rare_ct(M) - (1-T)·|M| of its rare shingles ARE shared —
    # pairs below that bound cannot reach T, and integer/double column math
    # on the 1M+ candidate pairs is ~100x cheaper than intersecting two
    # ~50-element arrays per pair (was 11.7 s at sf0.1, dominated by verify).
    plists = rare_posts.groupBy("g").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda d1, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda d2: F.struct(d1.alias("d1"), d2.alias("d2")),
            ),
        )
    )
    cand = (
        plists.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .agg(F.count(F.lit(1)).alias("sc"))
    )
    doc_stats = s.select("doc_id", F.size("sh").alias("n")).join(
        rare_posts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("rare_ct")),
        "doc_id",
    )
    st1 = doc_stats.select(
        F.col("doc_id").alias("d1"), F.col("n").alias("n1"), F.col("rare_ct").alias("r1")
    )
    st2 = doc_stats.select(
        F.col("doc_id").alias("d2"), F.col("n").alias("n2"), F.col("rare_ct").alias("r2")
    )
    slack = F.lit(1.0 - CONTAIN_THRESHOLD)
    bound = F.when(
        F.col("n1") <= F.col("n2"), F.col("r1") - slack * F.col("n1")
    ).otherwise(F.col("r2") - slack * F.col("n2"))
    survivors = (
        cand.join(st1, "d1")
        .join(st2, "d2")
        .filter(F.col("sc") >= bound - F.lit(1e-9))
        .select("d1", "d2")
    )
    sa = s.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    sb = s.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    n1, n2 = F.size("sh1"), F.size("sh2")
    contain = inter * F.lit(1.0) / F.least(n1, n2)
    return (
        survivors.join(sa, "d1")
        .join(sb, "d2")
        .filter(contain >= CONTAIN_THRESHOLD)
        .select(
            # strict <: on equal sizes (d1 < d2 by construction) the LOWER
            # id is the container/survivor, matching the lower-id-survives
            # discipline of every other dedup operator
            F.when(n1 < n2, F.col("d2")).otherwise(F.col("d1")).alias("doc_container"),
            F.when(n1 < n2, F.col("d1")).otherwise(F.col("d2")).alias("doc_contained"),
            F.round(contain, 4).alias("containment"),
        )
        .orderBy("doc_contained", "doc_container")
    )


# --------------------------------------------------------------------------
# Containment blocker recall counter: the df<=CAP rare-shingle block trades
# recall exactly where duplication is heaviest (a doc whose EVERY shingle
# is shared by > CAP docs has no rare shingles and is invisible to the
# candidate generator). This report makes that trade observable in
# production instead of silent: n_docs_no_rare_shingles is the count of
# blocker-invisible docs per run. Scale shape: the same posts/rare frames
# as the main operator, one extra left_anti + two counts.
# --------------------------------------------------------------------------
@extra_query(
    "containment_recall_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM t WHERE len(ws) >= 3
    ), posts AS (
      SELECT doc_id, unnest(sh) AS g FROM s
    ), rare AS (
      SELECT g FROM posts GROUP BY g HAVING count(*) <= {CONTAIN_DF_CAP}
    ), covered AS (
      SELECT DISTINCT doc_id FROM posts WHERE g IN (SELECT g FROM rare)
    )
    SELECT (SELECT count(*) FROM s) AS n_docs,
           (SELECT count(*) FROM s) - (SELECT count(*) FROM covered)
             AS n_docs_no_rare_shingles
    """,
    doc="Observability for dedup_containment's df-cap recall trade: docs "
    "with shingles but ZERO rare (df <= cap) shingles cannot appear in any "
    "candidate pair. Non-zero means the cap is excluding the most-duplicated "
    "region of the corpus — raise the cap or fall back to MinHash there.",
    tags=("dedup", "containment", "reporting"),
)
def containment_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _docs_with_shingles(spark, sf_dir).select("doc_id", "sh")
    posts = s.select("doc_id", F.explode("sh").alias("g"))
    rare = (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_DF_CAP)
        .select("g")
    )
    covered = (
        posts.join(rare, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__c", F.lit(1))
    )
    return (
        s.select("doc_id")
        .join(covered, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("__c").isNull(), 1).otherwise(0)).alias(
                "n_docs_no_rare_shingles"
            ),
        )
    )


# --------------------------------------------------------------------------
# EXACT containment self-join via one-sided prefix filtering — the
# lossless alternative to dedup_containment's df-capped blocker.
# --------------------------------------------------------------------------
def containment_similarity_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    tau_num: int,
    tau_den: int,
) -> DataFrame:
    """All pairs with containment C(A,B) = |A n B| / min(|A|,|B|) >= tau
    (= tau_num/tau_den, rational for exact prefix arithmetic). Returns
    (id_small, id_big, n_small, n_big, containment) with the SMALLER set
    first (ties broken id_small < id_big); containment unrounded double.

    LOSSLESS one-sided prefix filter: C >= tau means |A n B| >=
    ceil(tau*|A|) for the smaller set A, so under any global total order
    the smallest common element sits within A's first
    p = |A| - ceil(tau*|A|) + 1 elements — but, unlike Jaccard, it can
    sit ANYWHERE in the larger set B (no size-ratio bound exists). So
    candidates come from equi-joining the smaller side's rarest-first
    prefix against ALL tokens of larger-or-equal sets. Prefix elements
    are globally rare by the ordering, so the join output tracks
    sum over rare tokens of prefix_df * df — never rows^2 — and both
    shuffle sides are keyed by fine-grained token, never a block key.
    Unlike dedup_containment's df-cap blocker this misses NOTHING: every
    qualifying pair shares a prefix token of its smaller set.

    `set_col` must hold DISTINCT elements; pre-hash large strings to
    8-byte ints (xxhash64).
    """
    _check_tau(tau_num, tau_den)
    s = _sets_frame(df, id_col, set_col, [])
    tok = _tokens(s, [])
    df_tab = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    # pinned once — the candidate join otherwise re-plans the token
    # explode + df aggregate + prefix window under its probe side too
    # (same discipline as jaccard_similarity_join)
    pref = _pin_if_big(_rarest_first_prefixes(tok, df_tab, [], tau_num, tau_den))
    pa, tb = pref.alias("a"), tok.alias("b")
    # a is the smaller (or equal, tie-broken by id) side by construction
    smaller = (F.col("a.__n") < F.col("b.__n")) | (
        (F.col("a.__n") == F.col("b.__n")) & (F.col("a.__id") < F.col("b.__id"))
    )
    cand = (
        pa.join(tb, (F.col("a.__t") == F.col("b.__t")) & smaller)
        .select(F.col("a.__id").alias("id_small"), F.col("b.__id").alias("id_big"))
        .distinct()
    )
    sa = s.select(
        F.col("__id").alias("id_small"),
        F.col("__set").alias("__sha"),
        F.col("__n").alias("n_small"),
    )
    sb = s.select(
        F.col("__id").alias("id_big"),
        F.col("__set").alias("__shb"),
        F.col("__n").alias("n_big"),
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    return (
        cand.join(sa, "id_small")
        .join(sb, "id_big")
        .withColumn("__i", inter)
        .filter(F.col("__i") * F.lit(1.0) / F.col("n_small") >= F.lit(tau_num) / F.lit(tau_den))
        .select(
            "id_small",
            "id_big",
            "n_small",
            "n_big",
            (F.col("__i") * F.lit(1.0) / F.col("n_small")).alias("containment"),
        )
    )


@query(
    "dedup_containment_exact",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM t WHERE len(ws) >= 3
    ), verified AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, len(a.sh) AS n1, len(b.sh) AS n2,
             len(list_intersect(a.sh, b.sh)) AS inter
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT CASE WHEN n1 < n2 THEN d2 ELSE d1 END AS doc_container,
           CASE WHEN n1 < n2 THEN d1 ELSE d2 END AS doc_contained,
           round(inter * 1.0 / least(n1, n2), 4) AS containment
    FROM verified
    WHERE inter * 1.0 / least(n1, n2) >= {CONTAIN_THRESHOLD}
    ORDER BY doc_contained, doc_container
    """,
    doc="EXACT containment pairs (no df cap, zero recall loss) via the "
    "one-sided prefix filter: the smaller doc's rarest-shingle prefix "
    "joins against all shingles of larger docs — provably finds every "
    f"pair with containment >= {CONTAIN_THRESHOLD}. The lossless upgrade "
    "of dedup_containment when the recall counter reports misses.",
    tags=("dedup", "containment"),
)
def dedup_containment_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _docs_with_shingles(spark, sf_dir, hashed=True)
    # CONTAIN_THRESHOLD = 0.9 as the rational 9/10
    pairs = containment_similarity_join(s, "doc_id", "sh", tau_num=9, tau_den=10)
    # container = larger set; on equal sizes the LOWER id (= id_small by
    # the join's tie-break), matching dedup_containment's discipline
    container = F.when(
        F.col("n_small") == F.col("n_big"), F.col("id_small")
    ).otherwise(F.col("id_big"))
    contained = F.when(
        F.col("n_small") == F.col("n_big"), F.col("id_big")
    ).otherwise(F.col("id_small"))
    return pairs.select(
        container.alias("doc_container"),
        contained.alias("doc_contained"),
        F.round("containment", 4).alias("containment"),
    ).orderBy("doc_contained", "doc_container")


# --------------------------------------------------------------------------
# MinHash + LSH: the scale path for near-dup detection.
# --------------------------------------------------------------------------
def minhash_pairs_ctes(threshold: float = 0.5) -> str:
    """DuckDB CTE chain (twin of the Spark pipeline below) ending in a
    ``pairs(doc_a, doc_b, jaccard)`` CTE of verified near-dup pairs.
    Generated so the hash family and band layout stay in lock-step with
    NUM_HASHES/NUM_BANDS; reused by the CC-dedup oracle (corpus.py)."""
    p = MERSENNE31
    mh = ", ".join(
        f"min(({a} * h31 + {b}) % {p}) AS h{j}" for j, (a, b) in enumerate(_affine_params())
    )
    bands = ", ".join(
        "concat_ws(':', '%d', %s) AS band%d"
        % (b, ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)), b)
        for b in range(NUM_BANDS)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, band{b} AS band_key FROM sigb" for b in range(NUM_BANDS)
    )
    return f"""
    t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM t WHERE len(ws) >= 3
    ), tok AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(unnest(sh)), 1, 15)) AS UBIGINT)::BIGINT % {p} AS h31
      FROM s
    ), sig AS (
      SELECT doc_id, {mh} FROM tok GROUP BY doc_id
    ), sigb AS (
      SELECT doc_id, {bands} FROM sig
    ), bands AS (
      {band_union}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT doc_a, doc_b,
             round(len(list_intersect(sa.sh, sb.sh)) * 1.0
                   / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
      FROM cand JOIN s sa ON sa.doc_id = doc_a
                JOIN s sb ON sb.doc_id = doc_b
      WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {threshold}
    )"""


def _minhash_oracle() -> str:
    return f"""
    WITH {minhash_pairs_ctes(0.5)}
    SELECT doc_a, doc_b, jaccard FROM pairs
    ORDER BY doc_a, doc_b
    """


# --------------------------------------------------------------------------
# LSH recall audit: ground truth from the lossless prefix-filter join.
#
# MinHash-LSH trades a false-negative rate for bucketed candidates; the
# (NUM_BANDS, ROWS_PER_BAND) S-curve predicts it, but the honest number is
# measured, not predicted. With an exact similarity join now in the
# toolbox, recall is directly auditable: every true pair (J >= threshold)
# comes from the prefix-filter join, LSH's verified pairs left-join
# against them, and the miss count IS the false-negative set. At 100 TB
# this runs on a sampled slice as a continuous canary — band-config drift
# (or a corpus whose duplicates sit near the threshold, where the S-curve
# is shallowest) shows up as a recall drop, not as silent dup leakage.
# --------------------------------------------------------------------------
@extra_query(
    "lsh_recall_report",
    oracle=f"""
    WITH {minhash_pairs_ctes(0.5)},
    exact AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    )
    SELECT count(*) AS n_exact_pairs,
           coalesce(sum(CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_lsh_pairs,
           coalesce(sum(CASE WHEN p.doc_a IS NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_missed,
           CASE WHEN count(*) > 0 THEN
             round(sum(CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                   / count(*), 4)
           END AS recall
    FROM exact e LEFT JOIN pairs p ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b
    """,
    doc="Measured MinHash-LSH recall at J >= 0.5: exact pairs from the "
    "lossless prefix-filter join vs LSH's verified pairs; n_missed is the "
    "false-negative set. The band-config canary to run on sampled slices "
    "in production.",
    tags=("dedup", "reporting"),
)
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _docs_with_shingles(spark, sf_dir, hashed=True)
    # the ground-truth and LSH legs are independent pipelines whose
    # eager checkpoints (prefix table / signature bands) otherwise
    # materialize strictly sequentially at build time — overlap them
    # (guide-§2.6), same discipline as corpus_verdicts
    from railgun_spark.session import overlap

    exact, lsh = overlap(
        spark,
        lambda: jaccard_similarity_join(s, "doc_id", "sh", 1, 2).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
        lambda: minhash_dup_pairs(spark, sf_dir, 0.5)
        .select("doc_a", "doc_b")
        .withColumn("__hit", F.lit(1)),
    )
    # LSH's verified pairs are a subset of the exact set (same J filter),
    # so one left join carries all three counts. The zero-exact-pairs
    # corpus (the healthy steady state this canary confirms) reports NULL
    # recall instead of tripping ANSI DIVIDE_BY_ZERO.
    hit = F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return exact.join(lsh, ["doc_a", "doc_b"], "left").agg(
        n.alias("n_exact_pairs"),
        F.coalesce(hit, F.lit(0)).alias("n_lsh_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("n_missed"),
        F.when(n > 0, F.round(hit * F.lit(1.0) / n, 4)).alias("recall"),
    )


def minhash_dup_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard), unordered.

    shingle -> NUM_HASHES minhashes -> NUM_BANDS bands -> bucket self-join on
    band key -> true-Jaccard verify on candidates only. Map-only until the
    band-key equi-join; candidate count (not all pairs) bounds the join.

    The shingle frame feeds three plan branches (signatures + both verify
    sides); localCheckpoint materializes it once instead of re-scanning and
    re-shingling the corpus 3x — the same persist-signatures trade every
    production MinHash pipeline makes (23% faster at sf0.1 here)."""
    s = _docs_with_shingles(spark, sf_dir).select("doc_id", "sh").localCheckpoint()
    # materialize the band keys ONCE: the self-join otherwise plans the
    # whole signature pipeline (shingle explode + 16-permutation min
    # aggregate) on BOTH sides — the corpus was being minhashed twice.
    # The frame is NUM_BANDS rows/doc of (id, 8-byte key): far cheaper
    # to pin than to recompute at any scale.
    bands = minhash_bands(s, "doc_id").localCheckpoint()
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter * F.lit(1.0) / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc=f"shingle -> {NUM_HASHES} minhashes -> {NUM_BANDS} bands -> bucket join "
    "-> Jaccard verify. Map-only until the band-key self-join; candidates "
    "(not pairs) bound the join output.",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dup_pairs(spark, sf_dir, 0.5).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# SimHash fingerprints + hamming near-dup pairs. 32-bit fingerprint built
# from sign-aggregated token-hash bits — pure integer arithmetic, exact
# cross-engine parity.
# --------------------------------------------------------------------------
SIMHASH_BITS = 32
HAMMING_MAX = 4


def _simhash_oracle() -> str:
    return f"""
    WITH w AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), t AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS toks
      FROM w WHERE len(ws) >= 3
    ), tok AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(unnest(toks)), 1, 15)) AS UBIGINT)::BIGINT AS h
      FROM t
    ), bits AS (
      SELECT doc_id, lang, i.range AS i,
             CASE WHEN (h >> i.range) & 1 = 1 THEN 1 ELSE -1 END AS contrib
      FROM tok, range({SIMHASH_BITS}) i
    ), bitagg AS (
      SELECT doc_id, lang, i, CASE WHEN sum(contrib) > 0 THEN 1 ELSE 0 END AS bit
      FROM bits GROUP BY doc_id, lang, i
    ), fp AS (
      SELECT doc_id, lang, sum(bit * (1::BIGINT << i)) AS simhash
      FROM bitagg GROUP BY doc_id, lang
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM fp a JOIN fp b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """


def simhash_fingerprints(docs_with_shingles: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, lang, sh) -> (doc_id, lang, simhash).

    SimHash over the shingle set (shingles, not unigrams, so documents that
    merely share vocabulary land far apart in hamming space). Shape chosen
    for scale AND codegen: explode shingle hashes to rows (hash computed
    ONCE per shingle), then a single groupBy(doc) computes all `bits`
    sign-sums as conditional-sum aggregate columns — one shuffle keyed by
    doc_id, no `bits`-fold data expansion, no reuse-defeating per-row
    higher-order expressions.
    """
    tok = docs_with_shingles.select(
        "doc_id", "lang", F.explode(F.transform("sh", lambda s: _hash60_str(s))).alias("h")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("doc_id", "lang").agg(*bit_sums)
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return agg.select("doc_id", "lang", fp.alias("simhash"))


# Pigeonhole blocking: any pair with hamming <= HAMMING_MAX must agree
# exactly on at least one of HAMMING_MAX+1 disjoint bit chunks, so an
# equi-join on (chunk_idx, chunk_value) yields a LOSSLESS candidate
# superset — the oracle keeps the semantic all-pairs definition while the
# Spark plan never does an all-pairs join. (offset, width) covering all
# SIMHASH_BITS; with a 64-bit production fingerprint the chunks widen to
# ~13 bits and key cardinality grows with the corpus.
SIMHASH_CHUNKS = ((0, 7), (7, 7), (14, 6), (20, 6), (26, 6))


@extra_query(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc=f"{SIMHASH_BITS}-bit SimHash; near-dup = hamming <= {HAMMING_MAX} within "
    "lang. Fingerprint build is one explode + one doc-keyed shuffle; pairing "
    f"is pigeonhole-blocked: equi-join on one of {len(SIMHASH_CHUNKS)} "
    "fingerprint chunks (exact candidate superset), then hamming verify.",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pinned once: the banded self-join otherwise plans the shingle +
    # sign-aggregate fingerprint pipeline on both sides (one 8-byte
    # fingerprint row per doc — cheaper to pin than recompute anywhere)
    fp = simhash_fingerprints(_docs_with_shingles(spark, sf_dir)).localCheckpoint()
    chunk_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in SIMHASH_CHUNKS
        ]
    )
    ex = fp.select(
        "doc_id", "lang", "simhash", F.posexplode(chunk_vals).alias("ci", "cv")
    )
    a, b = ex.alias("a"), ex.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter((F.col("a.lang") == F.col("b.lang")) & (ham <= HAMMING_MAX))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), ham.alias("hamming")
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap against an eval set.
#
# The canonical training-data hygiene op (GPT-3 appendix C / PaLM-style):
# flag training documents sharing too many word n-grams with a benchmark
# corpus. Scale shape: the benchmark side is always tiny relative to the
# corpus (GBs vs 100 TB), so its distinct shingle set BROADCASTS — the scan
# over the training corpus is then map-side join + one groupBy(doc_id)
# shuffle. No all-pairs anything.
# --------------------------------------------------------------------------
EVAL_MOD = 17  # deterministic stand-in eval set: doc_id % 17 == 0
CONTAM_THRESHOLD = 0.1


@extra_query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM t WHERE len(ws) >= 3
    ), ev AS (
      SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % {EVAL_MOD} = 0
    ), tr AS (
      SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS g
      FROM s WHERE doc_id % {EVAL_MOD} <> 0
    ), hits AS (
      SELECT doc_id, n_shingles, count(*) AS n_overlap
      FROM tr JOIN ev USING (g)
      GROUP BY doc_id, n_shingles
    )
    SELECT doc_id, n_shingles, n_overlap,
           round(n_overlap * 1.0 / n_shingles, 4) AS contam_frac
    FROM hits
    WHERE n_overlap * 1.0 / n_shingles >= {CONTAM_THRESHOLD}
    ORDER BY doc_id
    """,
    doc="Flag training docs whose trigram-shingle overlap with the eval set "
    f"(doc_id % {EVAL_MOD} == 0 stands in for a benchmark corpus) is >= "
    f"{CONTAM_THRESHOLD}. Eval shingles broadcast; corpus side is one scan "
    "+ one groupBy(doc_id) shuffle.",
    tags=("dedup", "decontamination"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _docs_with_shingles(spark, sf_dir)
    return pooled_contamination(
        s.filter(F.col("doc_id") % EVAL_MOD != 0),
        shingle_pool(s.filter(F.col("doc_id") % EVAL_MOD == 0)),
    ).orderBy("doc_id")


def pooled_contamination(
    tr: DataFrame, ev_pool: DataFrame, threshold: float = CONTAM_THRESHOLD
) -> DataFrame:
    """Pooled-shingle decontamination of a shingled (doc_id, sh) frame
    against `ev_pool`, the distinct eval shingles (`shingle_pool`):
    training docs whose shingle overlap with the pool reaches
    `threshold`, as (doc_id, n_shingles, n_overlap, contam_frac). The
    pool broadcasts (benchmarks are tiny next to the corpus); the scan is
    a map-side join + one groupBy(doc_id). Shared by the oracle-gated
    query, the decontam CLI and the streaming twin, which pins its pool
    once per stream instead of re-aggregating it per micro-batch."""
    tok = tr.select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("g")
    )
    hits = (
        tok.join(F.broadcast(ev_pool), "g")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.col("n_overlap") / F.col("n_shingles")
    return hits.filter(frac >= threshold).select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round(frac, 4).alias("contam_frac"),
    )


# --------------------------------------------------------------------------
# Near-duplicate decontamination: per-eval-doc matching, not pooled
# overlap. decontaminate_ngram_overlap unions ALL eval shingles into one
# pool, so a training doc assembled from slivers of many benchmarks flags
# but "which benchmark did we leak?" is unanswerable, and a doc 95%
# identical to ONE small benchmark item can stay under the pooled
# threshold if that item is tiny relative to the doc. This variant flags
# training docs within Jaccard >= 0.7 of a SPECIFIC eval document via the
# cross-table prefix-filter join — exact, per-item attribution.
# --------------------------------------------------------------------------
NEARDUP_CONTAM_NUM, NEARDUP_CONTAM_DEN = 7, 10


@query(
    "decontaminate_neardup_eval",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM t WHERE len(ws) >= 3
    ), ev AS (
      SELECT * FROM s WHERE doc_id % {EVAL_MOD} = 0
    ), tr AS (
      SELECT * FROM s WHERE doc_id % {EVAL_MOD} <> 0
    ), j AS (
      SELECT tr.doc_id AS doc_id, ev.doc_id AS eval_doc_id,
             len(list_intersect(tr.sh, ev.sh)) * 1.0
               / len(list_distinct(list_concat(tr.sh, ev.sh))) AS jac
      FROM tr, ev
    )
    SELECT doc_id, eval_doc_id, round(jac, 4) AS jaccard
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY jac DESC, eval_doc_id) AS rn
      FROM j
      WHERE jac >= {NEARDUP_CONTAM_NUM} / {NEARDUP_CONTAM_DEN}
    )
    WHERE rn = 1
    ORDER BY doc_id
    """,
    doc="Per-eval-doc near-duplicate decontamination: training docs within "
    f"Jaccard >= {NEARDUP_CONTAM_NUM}/{NEARDUP_CONTAM_DEN} of a specific "
    "eval document (best match reported), via the lossless cross-table "
    "prefix-filter join — exact leak attribution the pooled-shingle "
    "overlap cannot give.",
    tags=("dedup", "decontamination"),
)
def decontaminate_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _docs_with_shingles(spark, sf_dir, hashed=True)
    return neardup_contamination(
        s.filter(F.col("doc_id") % EVAL_MOD != 0),
        s.filter(F.col("doc_id") % EVAL_MOD == 0),
    ).orderBy("doc_id")


def neardup_contamination(
    tr: DataFrame,
    ev: DataFrame,
    tau_num: int = NEARDUP_CONTAM_NUM,
    tau_den: int = NEARDUP_CONTAM_DEN,
) -> DataFrame:
    """Per-eval-doc near-dup attribution over shingled (doc_id, sh)
    frames: each training doc within Jaccard >= tau of some eval doc,
    with its best match (ties -> lowest eval id), as
    (doc_id, eval_doc_id, jaccard). Shared by the oracle-gated query,
    the streaming twin, and the decontam CLI."""
    pairs = jaccard_similarity_join_ab(tr, ev, "doc_id", "sh", tau_num, tau_den)
    from pyspark.sql.window import Window

    best = Window.partitionBy("id_left").orderBy(F.desc("jaccard"), "id_right")
    return (
        pairs.withColumn("__rn", F.row_number().over(best))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_left").alias("doc_id"),
            F.col("id_right").alias("eval_doc_id"),
            F.round("jaccard", 4).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Cluster resolution: connected components over near-dup pairs.
#
# Pairwise near-dup detection is only half of dedup — the endgame is
# resolving pairs into clusters and keeping one survivor per cluster.
# Transitivity matters: (a~b, b~c) must collapse to ONE cluster even when
# (a,c) was never a candidate pair. Distributed min-label propagation
# (the GraphX/Pregel connected-components algorithm without GraphX):
# every node starts labeled with itself; each round takes the min of its
# own and its neighbors' labels; converges in O(component diameter)
# rounds — near-dup clusters are shallow, so a handful. Each round is one
# equi-join + one groupBy; labels are localCheckpoint'ed so lineage stays
# flat (the standard Spark iterative-algorithm pattern — without it the
# plan re-derives the MinHash pipeline every round).
# --------------------------------------------------------------------------
def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """edges(a, b) undirected -> (node, label) with label = component min.
    Driver-side loop with a scalar convergence probe per round (the label
    sum decreases monotonically; fixpoint == unchanged sum).

    Each round does min-label propagation over edges PLUS a pointer-jump
    (label(v) := label(label(v))): every label value is itself a node key,
    so a self-join halves the remaining distance to the component minimum
    — convergence in O(log diameter) rounds instead of O(diameter), which
    is what makes a pathological duplicate CHAIN (each doc near-dup of the
    next) safe at corpus scale. Exhausting `max_iter` without reaching the
    fixpoint raises rather than silently returning partially-propagated
    labels: with the jump, 25 rounds cover diameters past 2^25."""
    from pyspark.sql import Observation

    sym = edges.select(F.col("a"), F.col("b")).union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    sym = sym.distinct().localCheckpoint()
    # the convergence probe (sum of labels) rides each checkpoint's
    # materialization as an observe() metric instead of a separate
    # agg job — one driver action per step, not two (the probe itself
    # is unchanged: the label sum decreases monotonically)
    obs0 = Observation()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .observe(obs0, F.sum("label").alias("s"))
        .localCheckpoint()
    )
    prev_sum = obs0.get["s"]
    for _ in range(max_iter):
        # re-alias BOTH columns: a bare F.col("label") would reuse labels'
        # attribute id, giving the union two children that share an id —
        # Catalyst's union constraint rewrite chokes on that once the
        # pointer-jump self-join is in the lineage
        msgs = sym.join(labels, sym.a == labels.node).select(
            F.col("b").alias("node"), F.col("label").alias("label")
        )
        # min-label propagation and the pointer jump compose into ONE
        # materialization per round (r17): the jump self-joins the
        # un-checkpointed union+groupBy subtree against a RENAMED
        # projection of itself — Spark 4.1's union constraint rewrite
        # handles that (the historical NoSuchElementException needed a
        # checkpoint between them; parity + convergence pinned by
        # test_cc_* and the sf0.01 oracles). Halves the node-sized
        # checkpoint writes and driver barriers per round: 2 -> 1 —
        # at corpus scale each checkpoint is a full pass over the
        # duplicate-graph node set.
        prop = labels.union(msgs).groupBy("node").agg(F.min("label").alias("label"))
        # pointer jump: labels are node keys, so label(label(v)) is total.
        # The jump side is an explicitly RENAMED projection, not a plain
        # self-alias: the alias form's dedup left the output carrying a
        # join constraint on an attribute outside its output, which the
        # NEXT round's union constraint-rewrite cannot resolve.
        jmp = prop.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        obs = Observation()
        labels = (
            prop.join(jmp, F.col("label") == F.col("jnode"))
            .select("node", F.col("jlabel").alias("label"))
            .observe(obs, F.sum("label").alias("s"))
            .localCheckpoint()
        )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge within {max_iter} rounds — "
        "with pointer jumping this needs a component diameter past "
        f"2^{max_iter}; raise max_iter only after checking the edge set "
        "for corruption"
    )


@extra_query(
    "dedup_cluster_survivors",
    oracle=f"""
    WITH RECURSIVE {minhash_pairs_ctes(0.5)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ), nodes AS (
      SELECT DISTINCT a AS node FROM edges
    ), reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ), comp AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT cluster_id, count(*) AS cluster_size, min(doc_id) AS survivor_doc
    FROM comp GROUP BY cluster_id ORDER BY cluster_id
    """,
    doc="MinHash near-dup pairs resolved into transitive clusters via "
    "distributed min-label propagation (one join + one groupBy per round, "
    "O(diameter) rounds, flat lineage via localCheckpoint); survivor = min "
    "doc_id per cluster. Oracle: DuckDB recursive CTE over the same pairs.",
    tags=("dedup", "iterative"),
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_dup_pairs(spark, sf_dir, 0.5)
    return _cluster_survivors(pairs)


def _cluster_survivors(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs -> (cluster_id, cluster_size, survivor_doc)
    via min-label connected components; survivor = min doc_id."""
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    return (
        comp.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.min("node").alias("survivor_doc"))
        .select(
            F.col("label").alias("cluster_id"), "cluster_size", "survivor_doc"
        )
        .orderBy("cluster_id")
    )


@extra_query(
    "dedup_cluster_survivors_exact",
    oracle="""
    WITH RECURSIVE t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM t WHERE len(ws) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ), nodes AS (
      SELECT DISTINCT a AS node FROM edges
    ), reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ), comp AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT cluster_id, count(*) AS cluster_size, min(doc_id) AS survivor_doc
    FROM comp GROUP BY cluster_id ORDER BY cluster_id
    """,
    doc="PROVABLY-COMPLETE duplicate clusters: transitive components over "
    "the lossless prefix-filter Jaccard join at J >= 0.5 instead of "
    "MinHash-LSH pairs — the clusters the LSH variant converges to with "
    "zero false-negative edges (lsh_recall_report measures the gap: a "
    "missed edge can split a cluster in two and admit an extra copy). "
    "Oracle: recursive CTE over the true all-pairs edges.",
    tags=("dedup", "iterative"),
)
def dedup_cluster_survivors_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _docs_with_shingles(spark, sf_dir, hashed=True)
    pairs = jaccard_similarity_join(s, "doc_id", "sh", 1, 2).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return _cluster_survivors(pairs)


# --------------------------------------------------------------------------
# Incremental exact dedup: continual-ingestion mode. A pretraining corpus
# is built in batches; each new batch must dedup against EVERYTHING seen
# before without rescanning it. The seen-set is a parquet fingerprint
# index (one bigint column) that grows append-only:
#   - intra-batch dedup first (map-side-combining groupBy, as always),
#   - then a left_anti equi-join against the index scan — column-pruned to
#     8 bytes/row, and at PB scale bucketed/z-ordered by hash so the join
#     co-locates without a full shuffle of the index,
#   - survivors' hashes append to the index (the only write amplification
#     is the batch's own size).
# --------------------------------------------------------------------------
_BACKUP_SUFFIX = ".compact_backup"
_LOCK_SUFFIX = ".compact.lock"
_LOCK_STALE_S = 3600.0  # a compaction pass at index scale is minutes, not hours
# Final backstop when holder identity can't be verified beyond "some
# process with that pid exists" (no /proc, or a pre-identity lock format):
# if the OS recycled a SIGKILLed compactor's pid into an unrelated
# long-lived process, the lock still breaks after this cap instead of
# wedging the index until manual intervention.
_LOCK_HARD_CAP_S = 24 * 3600.0


def _proc_identity(pid: int) -> "str | None":
    """Stable identity for a live process: kernel boot id + the process
    start time from /proc/<pid>/stat field 22 (clock ticks since boot).
    A recycled pid gets a different start time, and a rebooted machine a
    different boot id — so identity equality proves THE SAME process,
    which a bare os.kill(pid, 0) existence probe cannot. None when /proc
    is unavailable (non-Linux) or the process vanished mid-read."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        # comm (field 2) is parenthesized and may itself contain spaces
        # or parens; fields 3+ start after the LAST ')'
        start_ticks = int(stat.rsplit(b")", 1)[1].split()[19])
        with open("/proc/sys/kernel/random/boot_id") as f:
            boot_id = f.read().strip()
        return f"{boot_id}:{start_ticks}"
    except (OSError, ValueError, IndexError):
        return None


def _acquire_compact_lock(local: str) -> "tuple[str, str]":
    """Atomic lockfile serializing compactors on one index: two concurrent
    `compact_index` runs would otherwise interleave the tmp-dir double
    rename (the second's rename(live->backup) fails mid-swap, or worse, a
    racing `_recover_index` restores the backup between the winner's two
    renames and aborts it).

    The lock carries {pid, ts, token, identity} and is created by
    hardlinking a fully-written unique temp file into place — link(2) is
    atomic and fails on an existing target like O_EXCL, but the lockfile
    carries its COMPLETE payload from the instant it exists, so a reader
    can never observe the empty window between an O_EXCL create and its
    write (which would misread a freshly-created live lock as corrupt).
    Filesystems without hardlinks fall back to O_EXCL + write.

    Staleness is decided by HOLDER IDENTITY first: the payload records
    the holder's (boot id, process start time) identity, and a lock is
    treated as held only while a process with BOTH that pid and that
    identity is alive — never broken even past the TTL, because a
    compaction legitimately running long is 'in progress', and breaking
    it would recreate the exact double-rename race the lock exists to
    prevent. A pid that exists but with a DIFFERENT identity is a
    recycled pid: the holder is provably dead, broken immediately. When
    identity is unverifiable (no /proc, pre-identity lock format) a live
    pid holds the lock up to the 24h hard cap — the pid-reuse backstop.
    No usable pid at all -> the 1h TTL decides, measured from the payload
    ts, or from the file's mtime when the payload is unreadable (a
    corrupt lock younger than the TTL is NOT broken on sight).

    Returns (lock_path, token); pair with `_release_compact_lock` so only
    the acquisition that wrote the lock can remove it. The
    read-check-unlink break has the usual ABA window (a fresh lock
    recreated between read and unlink could be broken) — acceptable: it
    requires a second compactor to appear inside that microsecond window
    on an index whose contract is 'one maintenance process', and the
    loser of the subsequent atomic create still fails loudly."""
    import json
    import os
    import time
    import uuid

    lock = local.rstrip("/") + _LOCK_SUFFIX
    token = uuid.uuid4().hex
    payload = json.dumps({
        "pid": os.getpid(),
        "ts": time.time(),
        "token": token,
        "identity": _proc_identity(os.getpid()),
    }).encode()
    tmp = f"{lock}.{os.getpid()}.{token[:8]}.tmp"
    with open(tmp, "wb") as f:
        f.write(payload)
    try:
        for attempt in range(2):
            try:
                os.link(tmp, lock)  # atomic: fails if lock exists
                return lock, token
            except FileExistsError:
                pass
            except OSError:
                # filesystem without hardlink support: O_EXCL fallback
                # (reopens the tiny empty-payload window; better than no
                # lock at all)
                try:
                    fd = os.open(
                        lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644
                    )
                    try:
                        os.write(fd, payload)
                    finally:
                        os.close(fd)
                    return lock, token
                except FileExistsError:
                    pass
            if attempt:  # the break below already ran once
                break
            now = time.time()
            held_identity = None
            try:
                with open(lock) as f:
                    info = json.load(f)
                pid, ts = int(info.get("pid", -1)), float(info.get("ts", 0.0))
                held_identity = info.get("identity")
            except FileNotFoundError:
                continue  # holder released between link and read: retry
            except (OSError, ValueError):
                pid = -1  # unreadable/corrupt payload: age by file mtime
                try:
                    ts = os.stat(lock).st_mtime
                except FileNotFoundError:
                    continue
            if pid > 0:
                try:
                    os.kill(pid, 0)  # signal 0: existence probe only
                    exists = True
                except ProcessLookupError:
                    exists = False
                except PermissionError:
                    exists = True  # exists, owned by someone else
                if not exists:
                    stale = True  # provably dead holder
                else:
                    current = _proc_identity(pid)
                    if held_identity and current is not None:
                        # identity-verified: same process -> held forever;
                        # different -> the pid was recycled, holder is dead
                        stale = current != held_identity
                    else:
                        # liveness beyond existence unverifiable: hard cap
                        stale = (now - ts) > _LOCK_HARD_CAP_S
            else:
                # no usable pid: the TTL is the only signal left
                stale = (now - ts) > _LOCK_STALE_S
            if not stale:
                raise RuntimeError(
                    f"index compaction already in progress (lock {lock!r} "
                    f"held by live pid {pid}, "
                    f"age {now - ts:.0f}s); one compactor per index"
                ) from None
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass  # holder finished between read and unlink: retry wins
        raise RuntimeError(
            f"could not acquire compaction lock {lock!r} after breaking a "
            f"stale holder — another compactor grabbed it first"
        )
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def _release_compact_lock(lock: str, token: str) -> None:
    """Unlink the lockfile only if it still carries OUR acquisition token.
    If this compactor's lock was stale-broken (possible only via the
    unknowable-liveness TTL path) and re-acquired by a waiting compactor,
    an unconditional unlink would delete the successor's lock and admit a
    third compactor mid-swap. A mismatched or unreadable lock is left
    alone — it belongs to someone else now."""
    import json
    import os

    try:
        with open(lock) as f:
            if json.load(f).get("token") != token:
                return  # successor's lock: not ours to remove
    except FileNotFoundError:
        return
    except (OSError, ValueError):
        return  # unreadable: cannot prove ownership, leave it
    try:
        os.unlink(lock)
    except FileNotFoundError:
        pass  # raced with a stale-break: already gone


def _local_index_path(index_path: str) -> str:
    """Resolve a local filesystem path from an index URI; raise on remote
    schemes (the driver-side os.rename swap in `compact_index` only makes
    sense on a local filesystem — on s3/hdfs, compaction is a job-committer
    concern, not a rename)."""
    from urllib.parse import urlparse

    parsed = urlparse(index_path)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"index path must be a local path or file: URI, got scheme "
            f"{parsed.scheme!r} in {index_path!r}"
        )
    return parsed.path if parsed.scheme else index_path


def _recover_index(local: str) -> None:
    """If a prior `compact_index` crashed between its two renames, the live
    path is absent but the backup holds the complete pre-compaction index;
    restore it so membership checks never silently see an empty index."""
    import os

    backup = local.rstrip("/") + _BACKUP_SUFFIX
    if not os.path.exists(local) and os.path.exists(backup):
        os.rename(backup, local)


def _read_index_or_none(spark: SparkSession, index_path: str, merge_schema: bool = False):
    """Read a fingerprint/band index, distinguishing 'does not exist yet'
    (first batch: return None) from 'exists but unreadable' (raise). A
    permissions blip or corrupt footer must NOT silently disable dedup —
    swallowing it would admit every duplicate from then on.
    ``merge_schema`` forces a deterministic union schema for indexes whose
    column set evolved (e.g. the embedding band index gained a ``dim``
    column); without it, which file's schema wins is nondeterministic."""
    from urllib.parse import urlparse

    from pyspark.errors import AnalysisException

    if urlparse(index_path).scheme in ("", "file"):
        _recover_index(_local_index_path(index_path))
    try:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(index_path)
    except AnalysisException as e:
        # classify by the STRUCTURED error class, not message wording
        # (which changes across Spark versions); substring match only for
        # builds predating error classes — see railgun_spark.errors
        from railgun_spark.errors import is_path_not_found

        if is_path_not_found(e):
            return None
        raise


def _content_hash60(df: DataFrame, col: str):
    """60-bit content hash for the EXACT ingest gate: text columns go
    through the shared UTF-8 hash60 (cross-engine parity); BINARY
    columns (media payloads) hash their raw bytes via the same
    hash60_bytes definition. Only the exact gate is binary-safe — the
    span gate word-splits text and is refused for binary content in
    ingest_batch."""
    from pyspark.sql.types import BinaryType

    from railgun_spark.operators.text import hash60, hash60_bytes

    if isinstance(df.schema[col].dataType, BinaryType):
        return hash60_bytes(F.col(col))
    return hash60(F.col(col))


def _batch_unique(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Intra-batch exact dedup (lowest id per content hash), keeping the
    `__h` column for the subsequent index anti-join / append."""
    hashed = df.withColumn("__h", _content_hash60(df, text_col))
    winners = hashed.groupBy("__h").agg(F.min(F.col(id_col)).alias("__keep"))
    return hashed.join(
        winners,
        (hashed["__h"] == winners["__h"]) & (hashed[id_col] == winners["__keep"]),
    ).select(hashed["*"])


def dedup_against_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of `df` whose content hash is new (not in batch-earlier rows,
    not in the index). Call `append_to_index` with the result to commit."""
    batch_unique = _batch_unique(df, text_col, id_col)
    seen = _read_index_or_none(df.sparkSession, index_path)
    if seen is None:  # first batch: no index yet
        return batch_unique
    return batch_unique.join(seen.select(F.col("h").alias("__h")), "__h", "left_anti")


def append_to_index(survivors: DataFrame, index_path: str) -> None:
    """Append the survivors' fingerprints; idempotent per batch content."""
    survivors.select(F.col("__h").alias("h")).write.mode("append").parquet(index_path)


# --------------------------------------------------------------------------
# Incremental exact-substring filter: the continual-ingestion form of the
# Lee et al. duplicated-window filter. The batch operator needs the whole
# corpus to mark a window duplicated; at ingest time the question becomes
# one-sided — "is this arriving doc assembled from spans we already
# hold?" — answered by a window-hash index (8-byte rows, same
# recover/append discipline as the content-hash index). A doc admitted
# first is NOT retro-flagged when copies arrive later; the copies are.
# Within one batch, cross-doc duplication still counts both ways (same
# min!=max trick as the batch operator).
# --------------------------------------------------------------------------
def span_dup_against_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DUP_WINDOW_K,
    frac: float = DUP_WINDOW_FRAC,
) -> DataFrame:
    """Docs whose duplicated-window fraction vs the index PLUS intra-batch
    cross-doc duplication reaches `frac`:
    (id, n_windows, n_dup_windows, dup_frac). Admit the complement, then
    `append_window_hashes_to_index` with the admitted docs to commit.
    Shuffles carry (h, id) 8-byte pairs; the index join is a left semi on
    the hash column only."""
    win = _window_hashes(df.select(F.col(id_col).alias("__id"), text_col), "__id", text_col, k)
    per = win.groupBy("h", "__id").agg(F.count(F.lit(1)).alias("cnt"))
    # intra-batch duplicated hashes: seen in >= 2 docs of this batch
    batch_dup = (
        per.groupBy("h")
        .agg((F.min("__id") != F.max("__id")).alias("d"))
        .filter("d")
        .select("h")
    )
    seen = _read_index_or_none(df.sparkSession, index_path)
    # NO distinct over the union: the left_semi consumer is unaffected by
    # duplicate build-side rows, and a distinct here would re-shuffle the
    # ENTIRE history index on every batch
    dup_h = batch_dup if seen is None else batch_dup.unionByName(seen.select("h"))
    hit = per.join(dup_h, "h", "left_semi").groupBy("__id").agg(
        F.sum("cnt").alias("n_dup_windows")
    )
    totals = per.groupBy("__id").agg(F.sum("cnt").alias("n_windows"))
    out_frac = F.col("n_dup_windows") * F.lit(1.0) / F.col("n_windows")
    return (
        totals.join(hit, "__id")
        .filter(out_frac >= frac)
        .select(
            F.col("__id").alias(id_col),
            "n_windows",
            "n_dup_windows",
            F.round(out_frac, 4).alias("dup_frac"),
        )
    )


def append_window_hashes_to_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DUP_WINDOW_K,
) -> None:
    """Append the admitted docs' DISTINCT window hashes (8 bytes/row).
    Replays re-append the same hashes — semi-join consumers are unaffected
    by physical duplicates, and compact_index() folds them away."""
    _window_hashes(df, id_col, text_col, k).select("h").distinct().write.mode(
        "append"
    ).parquet(index_path)


# --------------------------------------------------------------------------
# Bucketed index: the PB-scale form of the fingerprint index. A plain
# parquet index must SHUFFLE on every batch's anti-join; a table bucketed
# by hash has HashPartitioning(h, n) as its native layout, so the join
# plans ZERO exchange on the index side — only the (small) incoming batch
# shuffles into the bucket scheme. At a billion admitted documents that is
# the difference between re-shuffling 8 GB of index per batch and none.
# Appends preserve bucketing (insertInto keeps the table's bucket spec).
# --------------------------------------------------------------------------
def bucketize_index(
    spark: SparkSession, index_path: str, table: str, n_buckets: int = 64
) -> int:
    """Materialize a parquet fingerprint index as a managed table bucketed
    by hash (one-time migration; thereafter append with
    `append_to_bucketed_index`). Returns the distinct row count."""
    local = _local_index_path(index_path)
    _recover_index(local)  # a crash-interrupted compaction is recoverable
    idx = spark.read.parquet(local).select("h").distinct()
    idx.write.mode("overwrite").format("parquet").bucketBy(n_buckets, "h").saveAsTable(
        table
    )
    return spark.table(table).count()


def dedup_against_bucketed_index(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """`dedup_against_index` against a bucketed index table: same result,
    but the index side of the anti-join scans in place (no Exchange) —
    verify with .explain(): the only shuffle is the batch side."""
    batch_unique = _batch_unique(df, text_col, id_col)
    seen = df.sparkSession.table(table).select(F.col("h").alias("__h"))
    return batch_unique.join(seen, "__h", "left_anti")


def append_to_bucketed_index(survivors: DataFrame, table: str) -> None:
    """Append survivors' fingerprints preserving the table's bucket spec."""
    survivors.select(F.col("__h").alias("h")).write.mode("append").insertInto(table)


# --------------------------------------------------------------------------
# Incremental NEAR-dup (MinHash-LSH) against a persisted band index — the
# continual-ingestion twin of `minhash_dup_pairs`. The index stores one row
# per (band_key) of every admitted document: ~NUM_BANDS short strings per
# doc, orders of magnitude smaller than the corpus. A new document is
# rejected if ANY of its band keys collides with the index (same criterion
# a band collision feeds the verify step in the batch path; here collision
# alone rejects — the standard recall/cost trade for ingestion gates).
# Intra-batch, a doc is rejected if it collides with a LOWER-id doc in the
# same batch (greedy by id: deterministic, one self-join, no connected
# components). All signature work is per-row higher-order expressions —
# zero shuffle until the index join, which at PB scale is a bucketed
# equi-join on uniformly-distributed band hashes.
# --------------------------------------------------------------------------
def near_dup_against_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of `df` with no LSH band collision against the index nor
    against a smaller-id row of this batch. Commit survivors with
    `append_bands_to_index`. Docs with < 3 words have no bands, so they
    never near-dup match and always survive (exact dedup handles them).

    Fault-tolerance tradeoff: the eager localCheckpoint below stores the
    band blocks on executors WITHOUT lineage — an executor loss mid-job
    makes this batch unrecoverable and the caller must re-run it. That is
    the right trade for the single-JVM ingest gate (batches are small,
    re-running one is cheap, and checkpoint dodges a triple re-hash of the
    shingles). On a multi-node cluster where executor loss is routine,
    swap for `persist(StorageLevel.MEMORY_AND_DISK)` + a count() kick:
    recoverable via lineage at the cost of keeping the shingle re-hash
    plan alive."""
    spark = df.sparkSession
    # three plan branches consume the bands (both intra-batch join sides
    # + the index semi-join): materialize once instead of re-hashing the
    # batch's shingles per branch
    sets = shingle_sets(df.select(F.col(id_col).alias("__id"), text_col), "__id", text_col=text_col)
    bands = minhash_bands(sets, "__id").localCheckpoint()
    a, b = bands.alias("a"), bands.alias("b")
    intra_hits = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("b.__id") < F.col("a.__id")))
        .select(F.col("a.__id").alias("__id"))
        .distinct()
    )
    drops = intra_hits
    seen = _read_index_or_none(spark, index_path)
    if seen is not None:
        index_hits = bands.join(seen.select("band_key"), "band_key", "left_semi").select(
            "__id"
        )
        drops = drops.union(index_hits).distinct()
    return df.join(drops, df[id_col] == drops["__id"], "left_anti")


def append_bands_to_index(
    survivors: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append the survivors' band keys (recomputed map-only; the index
    stays ~NUM_BANDS rows/doc regardless of document size)."""
    sets = shingle_sets(survivors, id_col, text_col=text_col)
    minhash_bands(sets, id_col).select("band_key").write.mode("append").parquet(index_path)


def compact_index(spark: SparkSession, index_path: str, n_files: int | None = None) -> int:
    """Rewrite the append-only fingerprint/band index as distinct, evenly
    sized files. Append-only indexes accrete small files and duplicate
    entries (idempotent re-appends after retries); compaction is the
    standard maintenance pass — run it when file count or dup ratio grows,
    not per batch. Returns the compacted row count.

    Durability: the rewrite lands in a temp dir created as a SIBLING of the
    index (same filesystem, so every move below is a true os.rename, never a
    copy+delete window), then swaps via rename(live->backup),
    rename(tmp->live), rmtree(backup). A crash at any point leaves either
    the old index live or the backup recoverable — `_recover_index` (run by
    every index read and by the next compaction) restores it, so membership
    answers are never lost. Readers racing the swap see the old or new
    listing, both of which answer membership identically.

    Concurrent compactors are serialized by an O_EXCL lockfile
    (`_acquire_compact_lock`): without it, a second compactor's (or a
    concurrent `_read_index_or_none`'s `_recover_index`) running between
    rename(live->backup) and rename(tmp->live) would restore the backup
    and make the second rename fail, aborting the compaction (index still
    valid, work lost). A lock whose holder is dead or older than the
    staleness TTL is broken, so a SIGKILLed compactor cannot wedge the
    index. Readers never take the lock — they see the old or new listing
    across the swap, both of which answer membership identically."""
    local = _local_index_path(index_path)
    if n_files is not None and n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    lock, lock_token = _acquire_compact_lock(local)
    try:
        _recover_index(local)
        idx = spark.read.parquet(local)
        parts = n_files if n_files is not None else max(1, idx.rdd.getNumPartitions() // 8)

        def write(tmp: str) -> int:
            # Eager: this job scans the live index and writes tmp before
            # any rename touches the live path.
            idx.distinct().repartition(parts).write.mode("overwrite").parquet(tmp)
            return spark.read.parquet(tmp).count()

        n = _swap_compacted(local, write)
    finally:
        _release_compact_lock(lock, lock_token)
    return n


def _swap_compacted(live: str, write: Callable[[str], int | None]) -> int | None:
    """Replace the index directory `live` by what `write(tmp)` stages in
    a sibling temp dir, with the crash-safe swap `compact_index`
    documents; returns what `write` returns. tmp gets `live`'s mode
    back (Spark's overwrite recreates it with umask perms). The caller
    holds the compaction lock."""
    import os
    import shutil
    import stat
    import tempfile

    src_mode = stat.S_IMODE(os.stat(live).st_mode)
    parent = os.path.dirname(os.path.abspath(live.rstrip("/")))
    tmp = tempfile.mkdtemp(prefix=".idx_compact_", dir=parent)
    try:
        out = write(tmp)
        os.chmod(tmp, src_mode)
        backup = live.rstrip("/") + _BACKUP_SUFFIX
        if os.path.exists(backup):
            shutil.rmtree(backup)
        os.rename(live, backup)
        os.rename(tmp, live)
        shutil.rmtree(backup)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out
