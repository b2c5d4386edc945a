"""Similarity search over embedding columns (`array<float>`).

Beyond-reference components (the reference has no vector operations):
- `knn_brute_force`: exact top-k cosine neighbors of a query vector.
  Baseline path; the scan is embarrassingly parallel, the top-k is a
  TakeOrdered (no full sort). At 100 TB this is the per-partition inner
  loop of the IVF path below.
- `embedding_near_dup_pairs`: pairs above a cosine threshold among banded
  sign-LSH candidates (share any band -> equi-join, then exact verify) —
  the embedding leg of dedup, with a blocking key whose cardinality scales.
- `ann_lsh`: random-hyperplane LSH bucketing (sign-bit sketch over
  deterministic hyperplanes) -> candidate buckets -> exact re-rank within
  bucket. The scale path: candidates per query ~ N / 2^bits instead of N.

Per-row dot products use native higher-order functions (zip_with +
aggregate), computed in double precision with sequential fold order so the
DuckDB oracle (list_dot_product over DOUBLE[]) agrees to well below the
rounding cutoff. LSH projections are the one place Python wins: a single
Arrow-batched pandas_udf matmul per batch (BLAS), never per-row Python.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from railgun_spark.session import local_df, overlap, pin, spread_scan
from railgun_spark.suite import extra_query, query


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


@extra_query(
    # r8 rotation: demoted to EXTRA — the exact-cosine baseline is the
    # canary's ground-truth leg; ANN stays driver-certified by the
    # lsh/ivf/pq entries while the recall canary takes this gate slot
    "knn_brute_force",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v FROM e WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           round(list_dot_product(e.v, q.v)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v))),
                 6) AS cos_sim
    FROM e, q
    WHERE e.vec_id != 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="Exact top-k cosine: broadcast the query vector, TakeOrdered(k).",
    tags=("similarity", "topk"),
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("q")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# ANN via random-hyperplane LSH. Hyperplane h_j dimension d weight is a
# deterministic pseudo-random +-1 derived from md5(j:d) — reproducible
# across engines and rounds, no RNG state. The projection is a single
# Arrow-batched pandas_udf matrix multiply (n x dim) @ (dim x bits): wide
# vectors (768-4096 dims) stay one BLAS call instead of a dim x bits
# Catalyst expression tree. The same hyperplanes are emitted as SQL DOUBLE[]
# literals for the DuckDB oracle, so bucketing is oracle-checked.
# --------------------------------------------------------------------------
ANN_BITS = 8
EMB_DIM = 64  # dimension of the testdata embeddings (all SFs)


def _hyperplane_sign(j: int, d: int) -> int:
    import hashlib

    h = hashlib.md5(f"{j}:{d}".encode()).hexdigest()
    return 1 if int(h[:2], 16) % 2 == 0 else -1


def _signs(bits: int, dim: int):
    return np.array(
        [[float(_hyperplane_sign(j, d)) for d in range(dim)] for j in range(bits)]
    )  # bits x dim


def lsh_bucket_col(vec: Column, dim: int = EMB_DIM, bits: int = ANN_BITS) -> Column:
    """Sign-bit LSH bucket id: bit j = sign(<v, h_j>). Vectorized: one
    numpy matmul per Arrow batch (pandas_udf), not per-row expression."""
    H = _signs(bits, dim).T  # dim x bits
    pow2 = (1 << np.arange(bits)).astype("int64")

    @F.pandas_udf("int")
    def _bucket(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype="int32")
        M = np.vstack(col.to_numpy())  # n x dim
        return pd.Series(((M @ H) > 0).astype("int64") @ pow2).astype("int32")

    return _bucket(vec)


def lsh_bands_col(vec: Column, bands: int, band_bits: int, dim: int = EMB_DIM) -> Column:
    """Banded sign-LSH: `bands` band values of `band_bits` bits each
    (hyperplane j = band*band_bits + bit). One matmul per Arrow batch;
    returns array<int> of length `bands` for posexplode -> equi-join."""
    H = _signs(bands * band_bits, dim).T  # dim x (bands*band_bits)
    pow2 = (1 << np.arange(band_bits)).astype("int64")

    @F.pandas_udf("array<int>")
    def _bands(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype="object")
        M = np.vstack(col.to_numpy())  # n x dim
        bits = ((M @ H) > 0).astype("int64").reshape(-1, bands, band_bits)
        vals = (bits @ pow2).astype("int32")  # n x bands
        return pd.Series(list(vals))

    return _bands(vec)


def _sql_plane(j: int, dim: int) -> str:
    return "[" + ",".join(f"{float(_hyperplane_sign(j, d)):.1f}" for d in range(dim)) + "]::DOUBLE[]"


def _sql_bucket(vexpr: str, bits: int, dim: int, first_plane: int = 0) -> str:
    """DuckDB expression mirroring lsh_bucket_col / one band of lsh_bands_col."""
    terms = [
        f"(CASE WHEN list_dot_product({vexpr}, {_sql_plane(first_plane + b, dim)}) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def _lsh_oracle() -> str:
    cos = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, label, v, {_sql_bucket("v", ANN_BITS, EMB_DIM)} AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.label, {cos.format(a="b.v", b="qv")} AS cos_sim
    FROM b, q
    WHERE b.vec_id != 0 AND b.bucket = q.qb
    ORDER BY cos_sim DESC, b.vec_id
    LIMIT 10
    """


@extra_query(
    # demoted r16: the ANN gate window now holds IVF / IVF-PQ / rerank /
    # wide-PQ persistent-index entries; the LSH bucket shape stays
    # certified here and by emb_near_dup_pairs' banded sign-LSH
    "ann_lsh_topk",
    oracle=_lsh_oracle(),
    doc=f"ANN: {ANN_BITS}-bit hyperplane LSH bucket, exact re-rank within the "
    "query's bucket. Candidates ~ N/2^bits; bucket id is a shuffle-free "
    "derived column, so at scale this is a bucket-pruned scan.",
    tags=("similarity", "ann"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT spread_scan'd: the single bucket-hash pass is too
    # light to repay the exchange (A/B min-of-5: 0.74 -> 0.78 s)
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label", to_double(F.col("embedding")).alias("v"))
        .withColumn("bucket", lsh_bucket_col(F.col("v")))
    )
    qrow = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"), F.col("bucket").alias("qb"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qrow), F.col("bucket") == F.col("qb"))
        .select("vec_id", "label", F.round(cosine(F.col("v"), F.col("q")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Embedding near-dup: banded sign-LSH candidate generation + exact cosine
# verify. Each vector gets NEAR_DUP_BANDS band values; candidates = pairs
# sharing any band (equi-join on (band_idx, band_val)), verified at
# >= NEAR_DUP_COS. The blocking key cardinality grows with the corpus
# (2^band_bits per band, more bands/bits at scale), unlike a label/lang
# block which degenerates to O(n^2)-within-block. The oracle computes the
# same bands from the same hyperplanes, so candidate semantics are checked.
#
# Geometry vs threshold (sign-LSH S-curve): a pair at cosine c agrees with
# one hyperplane w.p. p_bit = 1 - acos(c)/pi; collides in one band w.p.
# p_bit^bits; is a candidate w.p. 1 - (1 - p_bit^bits)^bands. The config
# below MUST satisfy >=0.95 predicted recall AT the default threshold —
# r7's 4x4 config predicted (and the canary measured) ~0.5 at cos 0.4.
# 16 bands x 3 bits: p_bit(0.4)=0.631, band p=0.251, recall
# 1-(1-0.251)^16 = 0.990 (canary-verified each round). The honest cost:
# at a threshold this low the S-curve is shallow — background pairs at
# cos~0 still collide w.p. 1-(1-0.5^3)^16 = 0.88, so banding prunes
# almost nothing, and the 3-bit band-value space (bands * 2^bits keys)
# makes a band equi-join quadratic per key. The pairs query therefore
# EXECUTES as the commuted intersection — blocked-matmul exact pairs
# filtered to band-colliders map-side — which preserves banded
# semantics at blocked-matmul cost (see embedding_near_dup_pairs).
# Banding as a JOIN STRATEGY pays at HIGH thresholds (at cos 0.8+,
# FP(0) drops fast with wider bands); pick geometry per threshold with
# band_geometry(), and below the banding regime prefer
# embedding_neardup_exact_pairs (recall 1.0 at the same cost).
# --------------------------------------------------------------------------
NEAR_DUP_BANDS = 16
NEAR_DUP_BAND_BITS = 3
NEAR_DUP_COS = 0.4


def band_geometry(
    tau: float, target_recall: float = 0.95, max_bands: int = 32
) -> tuple[int, int, float]:
    """Pick (bands, bits, predicted_recall) for sign-LSH at threshold
    ``tau``: the WIDEST bands (fewest false candidates) whose band count
    for ``target_recall`` stays within ``max_bands``. Recall model:
    1 - (1 - p_bit^bits)^bands with p_bit = 1 - acos(tau)/pi."""
    import math

    p_bit = 1.0 - math.acos(tau) / math.pi
    best = None
    for bits in range(1, 33):
        p_band = p_bit**bits
        if p_band >= 1.0:  # tau == 1.0
            return (1, bits, 1.0)
        bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
        if bands <= max_bands:
            best = (bands, bits, 1.0 - (1.0 - p_band) ** bands)
        else:
            break  # wider bands only need more bands
    if best is None:
        raise ValueError(
            f"no sign-LSH geometry reaches recall {target_recall} at tau {tau} "
            f"within {max_bands} bands; raise max_bands or use the exact path"
        )
    return best


def _near_dup_ctes() -> str:
    """CTE chain ending in ``ndpairs(vec_a, vec_b, cos_sim)`` — the
    verified banded-LSH near-dup pairs; reused by the pairs query and the
    recall canary. Cosine as dot-of-prenormalized vectors — the same
    expression shape the Spark side computes (one norm per VECTOR, one
    dot per PAIR), so rounded values match across engines."""
    cos = "round(list_dot_product({a}, {b}), 6)"
    band_selects = "\n      UNION ALL ".join(
        f"SELECT vec_id, {i} AS band_idx, "
        f"{_sql_bucket('v', NEAR_DUP_BAND_BITS, EMB_DIM, first_plane=i * NEAR_DUP_BAND_BITS)}"
        f" AS band_val FROM e"
        for i in range(NEAR_DUP_BANDS)
    )
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    en AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
      FROM e
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       AND x.vec_id < y.vec_id
    ),
    ndpairs AS (
      SELECT vec_a, vec_b, {cos.format(a="a.vn", b="b.vn")} AS cos_sim
      FROM cand JOIN en a ON a.vec_id = vec_a JOIN en b ON b.vec_id = vec_b
      WHERE {cos.format(a="a.vn", b="b.vn")} >= {NEAR_DUP_COS}
    )"""


def _near_dup_oracle() -> str:
    return f"""
    WITH {_near_dup_ctes()}
    SELECT vec_a, vec_b, cos_sim FROM ndpairs
    ORDER BY vec_a, vec_b
    """


@query(
    "embedding_near_dup_pairs",
    oracle=_near_dup_oracle(),
    doc=f"Cosine near-dup pairs via {NEAR_DUP_BANDS}x{NEAR_DUP_BAND_BITS}-bit "
    "banded sign-LSH candidates + exact verify — candidate volume scales "
    "with bucket occupancy, never all-pairs-within-block.",
    tags=("similarity", "dedup"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semantics: banded sign-LSH candidates (pairs sharing ANY band)
    # verified at >= NEAR_DUP_COS. Computed via the commuted
    # intersection: (banded candidates) INTERSECT (pairs >= tau) equals
    # (pairs >= tau) FILTERED to band-colliders — so the execution
    # never materializes the banded candidate join at all. That matters
    # twice at this recall-faithful geometry: the S-curve admits ~88%
    # of background pairs (verify wall), and 3-bit bands have only
    # bands*2^bits distinct keys, so the band equi-join ITSELF is
    # quadratic-in-n per key (measured 67 s at 16k vectors). Here the
    # blocked-matmul generator (BLAS, slack-loosened, lossless superset)
    # produces the ~true pairs, the shared Catalyst fold decides them,
    # and a map-side zip_with over the two 16-int signatures applies the
    # band-collision condition per surviving pair. The recall canary
    # still measures exactly the banding misses.
    import math

    emb, emb_n = _unit_embeddings(spark, sf_dir)
    # pinned: sig feeds both band-filter join sides (16 ints/vector);
    # its bands·bits hyperplane dots per row are a CPU-heavy pass too
    sig = pin(
        emb.select(
            "vec_id",
            lsh_bands_col(F.col("v"), NEAR_DUP_BANDS, NEAR_DUP_BAND_BITS).alias("sig"),
        ),
        "similarity.near_dup_sig",
    )
    n = emb_n.count()
    n_blocks = max(1, math.ceil(n / EXACT_BLOCK_ROWS))
    cand = exact_cosine_candidate_pairs(emb_n, NEAR_DUP_COS, n_blocks)
    a = emb_n.select(F.col("vec_id").alias("vec_a"), F.col("vn").alias("vna"))
    b = emb_n.select(F.col("vec_id").alias("vec_b"), F.col("vn").alias("vnb"))
    sa = sig.select(F.col("vec_id").alias("vec_a"), F.col("sig").alias("siga"))
    sb = sig.select(F.col("vec_id").alias("vec_b"), F.col("sig").alias("sigb"))
    shares_band = F.exists(
        F.zip_with("siga", "sigb", lambda p, q: p == q), lambda eq: eq
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cos_sim", F.round(dot(F.col("vna"), F.col("vnb")), 6))
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
        .join(sa, "vec_a")
        .join(sb, "vec_b")
        .filter(shares_band)
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    )


# --------------------------------------------------------------------------
# EXACT cosine self-join via blocked matmul — the lossless complement to
# the banded operator above (the embedding twin of the text suite's
# lossless prefix-filter Jaccard join). At tau this low the sign-LSH
# S-curve admits ~88% of background pairs, so the banded verify leg is
# quasi-quadratic in PAIR-ROWS (each candidate row ships two vectors
# through a shuffle). The block join pays the same O(n^2 d) arithmetic —
# irreducible for exact low-tau similarity — but in BLAS inside Arrow
# batches, and its SHUFFLE is linear: each vector is replicated to its
# (n_blocks+1) block-pair tasks, 16-byte candidate rows come out, and
# only the few TRUE pairs ever ship vectors again (the borderline-exact
# Catalyst re-verify below). numpy pre-filters with slack; every
# surviving pair is decided by the same fold expression the oracle runs,
# so boundary pairs classify identically across engines (the
# lsh-recall-canary discipline).
# --------------------------------------------------------------------------
EXACT_BLOCK_ROWS = 4096  # target vectors per block: 2 blocks x 4096 x dim
# doubles per Arrow task stays ~4 MB at dim=64


def exact_cosine_candidate_pairs(
    emb_n: DataFrame, tau: float, n_blocks: int
) -> DataFrame:
    """Candidate (vec_a, vec_b) pairs with numpy-dot >= tau - 1e-5 over
    normalized vectors (vec_id, vn), via block-pair matmul tasks. Callers
    re-verify with the shared Catalyst fold at full precision."""
    spark = emb_n.sparkSession
    rows = emb_n.select(
        "vec_id",
        "vn",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int").alias("bid"),
    )
    tasks = local_df(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "ti: int, tj: int",
    )
    a = rows.join(F.broadcast(tasks), rows.bid == tasks.ti).select(
        "ti", "tj", F.lit(0).alias("side"), "vec_id", "vn"
    )
    b = rows.join(F.broadcast(tasks), rows.bid == tasks.tj).select(
        "ti", "tj", F.lit(1).alias("side"), "vec_id", "vn"
    )
    both = a.unionByName(b)
    tau_loose = tau - 1e-5

    def block_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = key
        A = pdf[pdf["side"] == 0]
        B = pdf[pdf["side"] == 1]
        empty = pd.DataFrame(
            {"vec_a": pd.Series([], dtype="int64"), "vec_b": pd.Series([], dtype="int64")}
        )
        if A.empty or B.empty:
            return empty
        ida, idb = A["vec_id"].to_numpy(), B["vec_id"].to_numpy()
        S = np.vstack(A["vn"].to_numpy()) @ np.vstack(B["vn"].to_numpy()).T
        mask = S >= tau_loose
        if ti == tj:  # same rows on both sides: strict upper triangle
            mask &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(mask)
        if not len(ii):
            return empty
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ida[ii], idb[jj]),
                "vec_b": np.maximum(ida[ii], idb[jj]),
            }
        )

    return both.groupBy("ti", "tj").applyInPandas(
        block_pairs, "vec_a: long, vec_b: long"
    )


@extra_query(
    # r8 rotation: promoted to the driver gate — the round's novel
    # lossless operator, certified directly (asof_join_forward demoted;
    # its backward sibling keeps that row certified)
    "embedding_neardup_exact_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    en AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
      FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.vn, b.vn), 6) AS cos_sim
    FROM en a JOIN en b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.vn, b.vn), 6) >= {NEAR_DUP_COS}
    ORDER BY vec_a, vec_b
    """,
    doc=f"LOSSLESS cosine near-dup pairs at >= {NEAR_DUP_COS} via the "
    "blocked-matmul self-join: recall 1.0 by construction, BLAS compute, "
    "linear shuffle — the scale path when the threshold sits below the "
    "regime banded sign-LSH can serve (see the geometry note).",
    tags=("similarity", "dedup"),
)
def embedding_neardup_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb_n = _unit_embeddings(spark, sf_dir)[1]
    n = emb_n.count()
    n_blocks = max(1, math.ceil(n / EXACT_BLOCK_ROWS))
    cand = exact_cosine_candidate_pairs(emb_n, NEAR_DUP_COS, n_blocks)
    a = emb_n.select(F.col("vec_id").alias("vec_a"), F.col("vn").alias("vna"))
    b = emb_n.select(F.col("vec_id").alias("vec_b"), F.col("vn").alias("vnb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cos_sim", F.round(dot(F.col("vna"), F.col("vnb")), 6))
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    )


# --------------------------------------------------------------------------
# Incremental embedding near-dup gate — the continual-ingestion twin of
# `embedding_near_dup_pairs`, completing the modality set next to the text
# gates (dedup.dedup_against_index / near_dup_against_index). The
# persisted index stores one (band_idx, band_val) row per admitted vector
# per band — NEAR_DUP_BANDS ints/vector, independent of dimension. A new
# vector is rejected if ANY of its bands collides with the index (same
# collision-rejects trade as the text band gate); intra-batch, greedy by
# id. All signature work is one Arrow-batch matmul per batch partition —
# zero shuffle until the index equi-join, which at PB scale is a bucketed
# join on uniformly distributed band values.
#
# The gate has its OWN geometry, decoupled from the pairs query: the index
# stores only (band_idx, band_val) — no per-vector ids — so its band-value
# space bounds useful capacity: every admitted vector claims GATE_BANDS
# values out of 2^GATE_BAND_BITS per band, and a NEW vector false-rejects
# w.p. ~1-(1-N/2^bits)^bands ~= bands*N/2^bits. Wide 24-bit bands (int32-
# safe) put that at ~4N/16.7M — 2.4% per million admitted vectors — while
# rejection stays sharp exactly where an id-free gate can be sharp:
# identical vectors reject with certainty (identical sign patterns), and
# the S-curve gives ~0.99 at cos 0.999, ~0.80 at cos 0.99, falling fast
# below (threshold-faithful near-dup detection is the pairs query /
# canary above, which CAN verify). NEAR_DUP_BAND_BITS=3 here would
# saturate at 8 values per band — do not couple these constants; r8
# widened the gate from 4x4 bits, whose 64-key space saturated into
# reject-everything after a few dozen admitted vectors.
# --------------------------------------------------------------------------
GATE_BANDS = 4
GATE_BAND_BITS = 24


def _embedding_band_rows(
    df: DataFrame, vec_col: str, id_col: str, dim: int = EMB_DIM
) -> DataFrame:
    # the dim column tags every band row: band values from different
    # hyperplane sets share the same small value space, so an index fed
    # by mixed dimensions would otherwise produce silent false collisions
    # the bits column tags the GEOMETRY: band values from different
    # (bands, bits) configs share the same value space, so an index built
    # under one geometry is silently inert (or falsely colliding) under
    # another — the gate refuses mismatches instead
    return (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(
                lsh_bands_col(
                    to_double(F.col(vec_col)), GATE_BANDS, GATE_BAND_BITS, dim=dim
                )
            ).alias("band_idx", "band_val"),
        )
        .withColumn("dim", F.lit(dim))
        .withColumn("bits", F.lit(GATE_BAND_BITS))
    )


def embedding_dedup_against_index(
    df: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMB_DIM,
) -> DataFrame:
    """Rows of `df` with no sign-LSH band collision against the index nor
    against a smaller-id row of this batch. Commit survivors with
    `append_embedding_bands_to_index`. `dim` must match the vector
    length — any numeric array column works, including decoded MEDIA
    features (multimodal.decode_media), which makes this the near-dup
    gate for images/audio/video payloads too."""
    from railgun_spark.operators.dedup import _read_index_or_none

    spark = df.sparkSession
    bands = _embedding_band_rows(df, vec_col, id_col, dim=dim)
    a, b = bands.alias("a"), bands.alias("b")
    intra_hits = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("b.__id") < F.col("a.__id")),
        )
        .select(F.col("a.__id").alias("__id"))
        .distinct()
    )
    drops = intra_hits
    seen = _read_index_or_none(spark, index_path, merge_schema=True)
    if seen is not None:
        # an index whose rows lack the geometry tag (or carry a different
        # one) was built under another (bands, bits) config: its values
        # can NEVER collide meaningfully with this session's signatures,
        # so treating it as history would silently admit every duplicate
        # it holds. Refuse loudly (same fail-closed discipline as an
        # unreadable index) — rebuild the index under the current
        # geometry instead.
        if "bits" not in seen.columns:
            raise ValueError(
                f"embedding band index {index_path} predates the geometry "
                f"tag (built with a pre-r8 gate config); rebuild it under "
                f"the current {GATE_BANDS}x{GATE_BAND_BITS}-bit geometry"
            )
        foreign = seen.filter(
            F.col("bits").isNull() | (F.col("bits") != GATE_BAND_BITS)
        ).limit(1)
        if foreign.count():
            raise ValueError(
                f"embedding band index {index_path} contains rows from a "
                f"different gate geometry; rebuild it under the current "
                f"{GATE_BANDS}x{GATE_BAND_BITS}-bit geometry"
            )
        seen = seen.filter(F.col("dim") == dim)
        index_hits = bands.join(
            seen.select("band_idx", "band_val"), ["band_idx", "band_val"], "left_semi"
        ).select("__id")
        drops = drops.union(index_hits).distinct()
    return df.join(drops, df[id_col] == drops["__id"], "left_anti")


def append_embedding_bands_to_index(
    survivors: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMB_DIM,
) -> None:
    """Append the survivors' band rows (recomputed map-only; the index grows
    GATE_BANDS rows per admitted vector)."""
    _embedding_band_rows(survivors, vec_col, id_col, dim=dim).select(
        "band_idx", "band_val", "dim", "bits"
    ).write.mode("append").parquet(index_path)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse centroids partition the corpus; a query
# probes only its nearest `NPROBE` centroid buckets. Centroids here are
# deterministic (the vectors with vec_id 1..K) so the whole pipeline —
# assignment argmax included — is SQL-expressible and oracle-checked; a
# production build would k-means them, changing only the centroid source.
# At 100 TB: assignment is a map-only pass against K broadcast literals,
# data gets written partitioned by cid, and a query scans NPROBE/K of it.
# --------------------------------------------------------------------------
IVF_K = 8
IVF_NPROBE = 2

# the oracles' rounded cosine and rounded squared distance (DuckDB)
_SQL_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)
_SQL_SQD = (
    "round(list_aggregate(list_transform({a}, "
    "(x, i) -> (x - {b}[i]) * (x - {b}[i])), 'sum'), 6)"
)


def _embeddings(spark: SparkSession, sf_dir: str, col: str = "v",
                label: bool = True) -> DataFrame:
    """The embeddings table as (vec_id[, label], <col>: array<double>)."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", *(["label"] if label else []),
        to_double(F.col("embedding")).alias(col),
    )


def _unit_rows(df: DataFrame, vec: str, out: str, *keys: str) -> DataFrame:
    """(keys..., out) with `out` = `vec` / ||vec||: the norm is computed
    once per row as its own column, never inside the per-element lambda."""
    nrm = F.sqrt(dot(F.col(vec), F.col(vec))).alias("nrm")
    return df.select(*keys, nrm, vec).select(
        *keys, F.transform(vec, lambda x: x / F.col("nrm")).alias(out)
    )


def _unit_embeddings(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(emb, emb_n): the embeddings scan (vec_id, v) spread across the
    cores (§2.5: the norm and signature passes are CPU-heavy) and its
    unit vectors (vec_id, vn), pinned once — the count, both block-matmul
    replication sides and both verify-join sides otherwise each re-plan
    the scan + norm pass (12 scans in the r17 before-plan)."""
    emb = spread_scan(_embeddings(spark, sf_dir, label=False), heavy=True)
    return emb, pin(_unit_rows(emb, "v", "vn", "vec_id"), "similarity.unit_embeddings")


def _lit_vec(values) -> Column:
    """Literal double-array Column in ONE py4j round-trip: the SQL text
    parses JVM-side, vs one F.lit call per element (~0.5 ms each — a
    K=16 x 64-dim centroid set cost ~0.5 s of pure DRIVER time per
    query build, more than the query's executor time). repr() round-
    trips doubles exactly and the D suffix pins DoubleType, so the
    Literal is value-identical to the F.array(F.lit(...)) form (pinned
    by test). Non-finite values (never produced by the quantizer/
    centroid math, but cheap to guard) take the element-wise path —
    'inf'/'nan' have no SQL literal spelling."""
    vals = [float(x) for x in values]
    if all(math.isfinite(x) for x in vals):
        return F.expr("array(" + ",".join(repr(x) + "D" for x in vals) + ")")
    return F.array(*[F.lit(x) for x in vals])


def _ivf_oracle() -> str:
    cos = _SQL_COS
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {IVF_K}),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    assign AS (
      SELECT vec_id, label, v, cid FROM (
        SELECT e.vec_id, e.label, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos.format(a="e.v", b="c.cv")} DESC, c.cid) AS rn
        FROM e, c WHERE e.vec_id <> 0
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY {cos.format(a="qv", b="c.cv")} DESC, c.cid) AS rn
        FROM c, q
      ) WHERE rn <= {IVF_NPROBE}
    )
    SELECT a.vec_id, a.label, a.cid, {cos.format(a="a.v", b="qv")} AS cos_sim
    FROM assign a JOIN probes USING (cid), q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@extra_query(
    # a strict subset of the gated ann_ivf_index_topk
    "ann_ivf_topk",
    oracle=_ivf_oracle(),
    doc=f"IVF ANN: {IVF_K} coarse centroids, map-only nearest-centroid "
    f"assignment (rounded-cosine argmax, lowest-cid tiebreak), query probes "
    f"{IVF_NPROBE} buckets, exact re-rank inside them.",
    tags=("similarity", "ann"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    # one pushdown-pruned job fetches query vector + centroids together
    small = {
        int(r["vec_id"]): [float(x) for x in r["v"]]
        for r in emb.filter(F.col("vec_id") <= IVF_K).collect()
    }
    cents = sorted((cid, v) for cid, v in small.items() if cid >= 1)
    return _in_memory_ivf(emb, cents, small[0], IVF_NPROBE, 10, 0)


def _pycos(a: list[float], b: list[float]) -> float:
    """Rounded cosine on the driver, folded left to right like `cosine`."""
    num = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(x * x for x in b) ** 0.5
    return round(num / (na * nb), 6)


def _in_memory_ivf(
    emb: DataFrame, cents: list, qv: list, nprobe: int, k: int, query_vec_id: int
) -> DataFrame:
    """IVF search for one driver-held query vector: map-only assignment
    against the [(cid, vector)] centroids, probe selection client-side
    over the K tiny centroids (as in real IVF), exact cosine re-rank
    inside the probed cells only."""
    probes = [
        cid for cid, _ in sorted(cents, key=lambda c: (-_pycos(c[1], qv), c[0]))[:nprobe]
    ]
    # deliberately NOT spread_scan'd: the one assignment+rerank pass is
    # light enough that the exchange round-trip loses (A/B min-of-5:
    # 1.29 -> 1.43 s with the spread)
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .withColumn("cid", _assign_cid(F.col("v"), cents))
        .filter(F.col("cid").isin(probes))
        .select("vec_id", "label", "cid",
                F.round(cosine(F.col("v"), _lit_vec(qv)), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


# --------------------------------------------------------------------------
# Per-label centroids: the aggregation leg of embedding clustering (IVF
# training / cluster QA). explode(pos, x) -> groupBy(label, pos) is ONE
# shuffle whose key cardinality is labels x dims — balanced regardless of
# corpus size; the per-label summary is a second tiny shuffle.
# --------------------------------------------------------------------------
@extra_query(
    "embedding_centroid_stats",
    oracle=f"""
    WITH x AS (
      SELECT label, i.range AS pos, embedding[i.range + 1]::DOUBLE AS x
      FROM embeddings, range({EMB_DIM}) i
    ), m AS (
      SELECT label, pos, avg(x) AS m FROM x GROUP BY label, pos
    ), n AS (
      SELECT label, count(*)::BIGINT AS n_vecs FROM embeddings GROUP BY label
    )
    SELECT m.label AS label, any_value(n.n_vecs) AS n_vecs,
           round(sqrt(sum(m.m * m.m)), 6) AS centroid_norm
    FROM m JOIN n ON m.label = n.label
    GROUP BY m.label
    ORDER BY m.label
    """,
    doc="Element-wise mean vector per label via posexplode -> groupBy"
    "(label, pos): one balanced shuffle keyed by labels x dims, then a "
    "tiny per-label reduce. Emits scalar summaries (count, centroid L2 "
    "norm) for cross-engine comparison.",
    tags=("similarity", "agg"),
)
def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exploded = emb.select(
        "label", F.posexplode(to_double(F.col("embedding"))).alias("pos", "x")
    )
    means = exploded.groupBy("label", "pos").agg(
        F.avg("x").alias("m"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        means.groupBy("label")
        .agg(
            F.first("cnt").alias("n_vecs"),
            F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# K-means (Lloyd's, fixed 2 iterations, deterministic init = first K
# vectors). The iterative-algorithm template at scale: each iteration is
# (a) a MAP-ONLY assignment against K broadcast-literal centroids — K*dim
# doubles on the driver, same legitimate driver-edge as the IVF coarse
# quantizer — and (b) one (cluster, pos) partial-agg shuffle for the new
# centroids (shuffle key cardinality = K * dim, independent of corpus
# size). Nothing corpus-sized ever sits on the driver.
#
# Cross-engine determinism: distances fold sequentially in double and are
# round()ed to 6 before the argmin (ties break to the lowest cluster id);
# recomputed centroids are round()ed to 4 on BOTH engines, re-synchronizing
# any last-ulp drift from aggregation order before the next iteration.
# --------------------------------------------------------------------------
KMEANS_K = 4


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    lit_c = _lit_vec(centroid)  # one py4j round-trip, not one per element
    diff2 = F.zip_with(vec, lit_c, lambda x, y: (x - y) * (x - y))
    return F.round(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x), 6)


# the k-means oracles' rounded squared distance of e to centroid c
_SQL_KMEANS_SQD = """round(list_aggregate(
               list_transform(e, (x, i) -> (x - c[i]) * (x - c[i])), 'sum'), 6)"""
# ... and the unit-normalized assigned vectors (a1 -> a1n)
_SQL_A1N = """a1n AS (
      SELECT vec_id, cluster,
             list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS en
      FROM a1
    )"""


def _sql_assign_pass(first_k, dist: str = _SQL_KMEANS_SQD) -> str:
    """The oracles' CTE chain of one k-means assignment pass: emb, the
    first-K init c0 (vec_id < first_k), d1 (rounded distance of every
    vector to every centroid) and a1 (argmin, lowest-cid ties)."""
    return f"""emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), c0 AS (
      SELECT vec_id AS cid, e AS c FROM emb WHERE vec_id < {first_k}
    ), d1 AS (
      SELECT vec_id, e, cid,
             {dist}
               AS dist
      FROM emb CROSS JOIN c0
    ), a1 AS (
      SELECT vec_id, e, cid AS cluster FROM (
        SELECT vec_id, e, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    )"""


def assign_clusters(
    emb: DataFrame, centroids: dict[int, list[float]], arrow: bool | None = None
) -> DataFrame:
    """Map-only L2 argmin over broadcast-literal centroids, lowest-id
    ties: (vec_id, e) -> (vec_id, e, cluster, dist), distances rounded
    to 6. `arrow` forces a form; by default _arrow_form decides by K.
    The expression form stages the distances as named columns in their
    OWN projection, so each of the K interpreted folds evaluates once per
    row, not twice (least() and the when-chain; ~2x at K=16). The Arrow
    form is one BLAS argmin per batch, ||x||^2 - 2xC^T + ||c||^2 (SemDeDup
    scale: K in the tens of thousands); its summation ORDER differs, so
    an exact rounded tie could in principle pick another cluster
    (parity-tested on the fixture data)."""
    cids = sorted(centroids)
    if arrow is None:
        arrow = _arrow_form(len(cids))
    if arrow:
        C = np.array([centroids[c] for c in cids], dtype="float64")  # K x dim
        c_sq = (C**2).sum(axis=1)  # K
        cid_arr = _int32_cids(cids)

        @F.pandas_udf("struct<cluster: int, dist: double>")
        def _assign(col: pd.Series) -> pd.DataFrame:
            if col.empty:
                return pd.DataFrame({"cluster": [], "dist": []})
            M = np.vstack(col.to_numpy()).astype("float64")  # n x dim
            d = _np_round6((M**2).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + c_sq[None, :])
            idx = d.argmin(axis=1)  # first minimum = lowest cid (cids sorted)
            return pd.DataFrame(
                {"cluster": cid_arr[idx], "dist": d[np.arange(len(idx)), idx]}
            )

        return emb.select("vec_id", "e", _assign("e").alias("a")).select(
            "vec_id",
            "e",
            F.col("a.cluster").alias("cluster"),
            F.col("a.dist").alias("dist"),
        )
    staged = emb.select(
        "vec_id",
        "e",
        *[_sq_dist(F.col("e"), centroids[cid]).alias(f"__d{cid}") for cid in cids],
    )
    dists = {cid: F.col(f"__d{cid}") for cid in cids}
    mind = F.least(*dists.values())
    cluster = F.when(dists[cids[0]] == mind, cids[0])
    for cid in cids[1:]:
        cluster = cluster.when(dists[cid] == mind, cid)
    return staged.select("vec_id", "e", cluster.alias("cluster"), mind.alias("dist"))


def recompute_centroids(assigned: DataFrame) -> dict[int, list[float]]:
    """One (cluster, pos) shuffle; K*dim rows to the driver, rounded to 4."""
    rows = (
        assigned.select("cluster", F.posexplode("e").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("x"), 4).alias("m"))
        .collect()
    )
    out: dict[int, dict[int, float]] = {}
    for r in rows:
        out.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
    return {cid: [by_pos[p] for p in sorted(by_pos)] for cid, by_pos in out.items()}


@extra_query(
    "kmeans_embeddings",
    oracle=f"""
    WITH {_sql_assign_pass(KMEANS_K)}, c1pos AS (
      SELECT cluster, pos, round(avg(val), 4) AS m FROM (
        SELECT cluster, generate_subscripts(e, 1) AS pos, unnest(e) AS val
        FROM a1) GROUP BY cluster, pos
    ), c1 AS (
      SELECT cluster AS cid, list(m ORDER BY pos) AS c FROM c1pos GROUP BY cluster
    ), d2 AS (
      SELECT vec_id, cid,
             {_SQL_KMEANS_SQD}
               AS dist
      FROM emb CROSS JOIN c1
    ), a2 AS (
      SELECT vec_id, cid AS cluster, dist FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    )
    SELECT cluster, count(*) AS n_points, round(avg(dist), 4) AS avg_dist
    FROM a2 GROUP BY cluster ORDER BY cluster
    """,
    doc="Lloyd's k-means, 2 fixed iterations, first-K init: map-only "
    "assignment vs broadcast-literal centroids + one K*dim-key shuffle per "
    "iteration; centroids rounded each iteration to re-sync engines.",
    tags=("similarity", "clustering"),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir, "e", label=False)
    init_rows = (
        emb.filter(F.col("vec_id") < KMEANS_K).orderBy("vec_id").collect()
    )
    c0 = {int(r["vec_id"]): list(r["e"]) for r in init_rows}
    # deliberately NOT spread_scan'd: each assignment pass re-executes
    # scan + exchange, and at K=8 the distance folds are too light to
    # repay two round-trips (A/B min-of-5: 0.96 -> 1.43 s with the
    # spread) — contrast semantic_dedup_pairs (K=16 + checkpoint pin,
    # one pass, 4.32 -> 1.78 s WITH it)
    a1 = assign_clusters(emb, c0)
    c1 = recompute_centroids(a1)
    a2 = assign_clusters(emb, c1)
    return (
        a2.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) ANN — the byte-code compression scale path
# beyond IVF. Each vector is split into PQ_M subvectors; each subvector is
# quantized to the id of its nearest sub-codebook centroid, so a
# 64-dim float vector compresses to PQ_M small codes. A query scores
# candidates with an ADC (asymmetric distance computation) lookup table:
# per subspace, the distance from the query's subvector to EVERY centroid
# is precomputed (PQ_M x PQ_KS values, driver-side — the table is tiny),
# and a vector's approximate distance is the sum of table entries selected
# by its codes.
#
# 100 TB shape: encoding is map-only against broadcast-literal centroids
# (train_pq_codebooks trains them per subspace); scoring touches only the
# PQ_M-byte codes, and the top-k is a TakeOrdered. Squared distances are
# rounded at 6 before the argmin (lowest-centroid tiebreak).
# --------------------------------------------------------------------------
PQ_M = 4  # subspaces
PQ_DS = EMB_DIM // PQ_M  # dims per subspace
PQ_KS = 4  # centroids per sub-codebook (init = subvectors of vec_id 1..KS)


def _sql_sub(ds: int, m: int) -> str:
    """The oracles' per-subspace rows of e: (vec_id, label, m, sv)."""
    return f"""sub AS (
      SELECT vec_id, label, m.range AS m,
             v[m.range * {ds} + 1 : m.range * {ds} + {ds}] AS sv
      FROM e, range(0, {m}) m
    )"""


def _pq_oracle() -> str:
    sqd = _SQL_SQD
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    {_sql_sub(PQ_DS, PQ_M)},
    cent AS (SELECT vec_id AS j, m, sv AS cv FROM sub
             WHERE vec_id BETWEEN 1 AND {PQ_KS}),
    q AS (SELECT m, sv AS qv FROM sub WHERE vec_id = 0),
    codes AS (
      SELECT vec_id, label, m, j AS code FROM (
        SELECT s.vec_id, s.label, s.m, c.j,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {sqd.format(a="s.sv", b="c.cv")}, c.j) AS rn
        FROM sub s JOIN cent c ON s.m = c.m
        WHERE s.vec_id <> 0
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT c.m, c.j, {sqd.format(a="q.qv", b="c.cv")} AS qd
      FROM cent c JOIN q ON c.m = q.m
    )
    SELECT codes.vec_id, any_value(codes.label) AS label,
           string_agg(codes.code, '-' ORDER BY codes.m) AS code,
           round(sum(lut.qd), 6) AS adc_dist
    FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.j
    GROUP BY codes.vec_id
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """


@extra_query(
    "ann_pq_topk",
    oracle=_pq_oracle(),
    doc=f"Product-quantization ANN: {PQ_M}x{PQ_DS}-dim subspaces, "
    f"{PQ_KS}-entry sub-codebooks (first-K init), map-only encoding vs "
    "broadcast centroids, ADC scoring via a driver-built lookup table — "
    "candidates are scored from codes alone, never the raw vectors.",
    tags=("similarity", "ann"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    # one pushdown-pruned job fetches query + codebook-init vectors
    small = {
        int(r["vec_id"]): [float(x) for x in r["v"]]
        for r in emb.filter(F.col("vec_id") <= PQ_KS).collect()
    }
    qv = small[0]
    # books[m] = [(j, subvector)] for subspace m, ascending j
    books = {
        m: [(j, small[j][m * PQ_DS : (m + 1) * PQ_DS]) for j in range(1, PQ_KS + 1)]
        for m in range(PQ_M)
    }

    def _py_sqd(a: list[float], b: list[float]) -> float:
        # same left-to-right fold order as _sq_dist / list_aggregate 'sum'
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return round(acc, 6)

    # deliberately NOT spread_scan'd: the tiny 4x4 oracle geometry's
    # encode pass is too light to repay the exchange (A/B min-of-5:
    # 0.81 -> 0.84 s; the production-geometry builds DO spread)
    codes = _pq_code_cols(F.col("v"), books)
    adc = F.lit(0.0)
    for m, code in enumerate(codes):
        # ADC lookup table row, driver-side: PQ_KS rounded distances
        lut = [_py_sqd(qv[m * PQ_DS : (m + 1) * PQ_DS], cv) for _, cv in books[m]]
        adc = adc + F.element_at(_lit_vec(lut), code)
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.concat_ws("-", *codes).alias("code"),
                F.round(adc, 6).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style, Abbas et al. 2023, arXiv:2303.09540 —
# public paper): k-means clusters as the blocking structure, exact cosine
# within clusters. Complements `embedding_near_dup_pairs`' sign-LSH
# blocking with the opposite recall profile: LSH bands can miss true pairs
# whose signs straddle hyperplanes, cluster blocking misses only pairs
# split across centroids (rare for genuine semantic duplicates, which is
# the paper's observation). At 100 TB the paper's own recipe bounds the
# within-cluster work: K scales with the corpus so expected cluster size
# stays constant, and the pairing is an equi-join on cluster id — shuffle
# by cluster, pair within partitions, never corpus x corpus. Assignment
# reuses the map-only broadcast-centroid argmin certified by
# `kmeans_embeddings`.
# --------------------------------------------------------------------------
SEMDEDUP_COS = 0.4
SEMDEDUP_K = 16  # blocking clusters — the paper's scale knob: K grows with
# the corpus so expected cluster size (hence within-cluster pair count)
# stays bounded; 16 keeps sf0.1 clusters at ~125 vectors / ~8k pairs each


def semdedup_pairs_ctes() -> str:
    """DuckDB CTE chain ending in ``sempairs(cluster, vec_a, vec_b,
    cos_sim)`` — twin of the Spark pipeline in `semantic_dedup_pairs`;
    shared by the pairs oracle and the survivors (CC) oracle so the two
    stay in lock-step. Cosine is the dot of prenormalized vectors — the
    SAME expression shape the Spark side computes (normalize once per
    vector, dot once per pair), so rounded values match across engines."""
    cos = "round(list_dot_product({a}, {b}), 6)"
    return f"""{_sql_assign_pass(SEMDEDUP_K)}, {_SQL_A1N}, sempairs AS (
      SELECT x.cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
             {cos.format(a="x.en", b="y.en")} AS cos_sim
      FROM a1n x JOIN a1n y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE {cos.format(a="x.en", b="y.en")} >= {SEMDEDUP_COS}
    )"""


def _semdedup_oracle() -> str:
    return f"""
    WITH {semdedup_pairs_ctes()}
    SELECT cluster, vec_a, vec_b, cos_sim FROM sempairs
    ORDER BY vec_a, vec_b
    """


@extra_query(
    "semantic_dedup_pairs",
    oracle=_semdedup_oracle(),
    doc="SemDeDup-style semantic near-dup pairs: k-means cluster blocking "
    f"(first-{SEMDEDUP_K} init, one assignment pass) + exact within-cluster "
    f"cosine >= {SEMDEDUP_COS}. Equi-join on cluster id — work scales with "
    "cluster occupancy; K grows with the corpus to bound it.",
    tags=("similarity", "dedup"),
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir, "e", label=False)
    init_rows = emb.filter(F.col("vec_id") < SEMDEDUP_K).orderBy("vec_id").collect()
    c0 = {int(r["vec_id"]): list(r["e"]) for r in init_rows}
    # the K interpreted distance folds per row are the CPU-heavy stage;
    # a single-file scan would run them on ONE core (§2.5) — same spread
    # semantic_dedup_scaled applies before its BLAS argmin
    a = assign_clusters(spread_scan(emb, heavy=True), c0).select(
        "vec_id", "e", "cluster"
    )
    return _pairs_within_clusters(a)


def _pairs_within_clusters(a: DataFrame) -> DataFrame:
    """Shared SemDeDup tail: (vec_id, e, cluster) assignment frame ->
    within-cluster cosine pairs >= SEMDEDUP_COS. Normalize ONCE per vector
    (n norm computations, not n^2: the norm of every vector was being
    recomputed inside every pair's cosine), then a pair costs a single dot
    product, computed once via the named column (sim in both filter and
    project was evaluated twice) — 19.5 s -> ~3 s at sf0.1, oracle
    mirrored to the identical expression shape."""
    # pin: both join sides read this frame — without it the cluster
    # assignment (K distance evaluations per row) executes twice, and
    # that, not the pair dots, dominates the plan
    an = pin(_unit_rows(a, "e", "en", "cluster", "vec_id"), "similarity.cluster_units")
    x = an.select("cluster", F.col("vec_id").alias("vec_a"), F.col("en").alias("ena"))
    y = an.select("cluster", F.col("vec_id").alias("vec_b"), F.col("en").alias("enb"))
    return (
        x.join(y, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.round(dot(F.col("ena"), F.col("enb")), 6))
        .filter(F.col("cos_sim") >= SEMDEDUP_COS)
        .select("cluster", "vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    )


def ivf_search(
    spark: SparkSession,
    sf_dir: str,
    centroids: list,
    nprobe: int = 2,
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """`ann_ivf_topk`'s body against TRAINED centroids ([(cid, vector)],
    e.g. from train_ivf_centroids). `nprobe=len(centroids)` probes
    everything and therefore equals brute force."""
    emb = _embeddings(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == query_vec_id).first()
    if qrow is None:
        raise ValueError(f"query vector vec_id={query_vec_id} not found in {sf_dir}")
    qv = [float(x) for x in qrow["v"]]
    return _in_memory_ivf(emb, sorted(centroids), qv, nprobe, k, query_vec_id)


@extra_query(
    "semantic_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {semdedup_pairs_ctes()},
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM sempairs
      UNION ALL
      SELECT vec_b AS a, vec_a AS b FROM sempairs
    ), nodes AS (
      SELECT DISTINCT a AS node FROM edges
    ), reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ), comp AS (
      SELECT node AS vec_id, min(label) AS group_id FROM reach GROUP BY node
    )
    SELECT group_id, count(*) AS group_size, min(vec_id) AS survivor_vec
    FROM comp GROUP BY group_id ORDER BY group_id
    """,
    doc="Semantic-dedup pairs resolved into transitive groups via the same "
    "distributed min-label propagation as the text clusters; survivor = "
    "min vec_id per group — the embedding-modality twin of "
    "dedup_cluster_survivors. Oracle: DuckDB recursive CTE over the shared "
    "sempairs chain.",
    tags=("similarity", "dedup", "iterative"),
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.dedup import connected_components

    pairs = semantic_dedup_pairs(spark, sf_dir)
    comp = connected_components(
        pairs.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    )
    return (
        comp.groupBy("label")
        .agg(F.count(F.lit(1)).alias("group_size"), F.min("node").alias("survivor_vec"))
        .select(F.col("label").alias("group_id"), "group_size", "survivor_vec")
        .orderBy("group_id")
    )


SEMDEDUP_DOCS_PER_CLUSTER = 125  # the paper's scale knob: K = max(16,
# n // 125) keeps expected cluster occupancy (hence within-cluster pair
# work, sum cluster_size^2 ~ n^2/K) constant as the corpus grows
_SQL_SCALED_K = (
    f"(SELECT GREATEST({SEMDEDUP_K}, COUNT(*) // {SEMDEDUP_DOCS_PER_CLUSTER}) FROM emb)"
)
# assign_clusters' Arrow-form distance expansion, term for term
_SQL_BLAS_SQD = """round(list_dot_product(e, e) - 2 * list_dot_product(e, c)
                   + list_dot_product(c, c), 6)"""


@query(
    "semantic_dedup_scaled",
    # The oracle recomputes the corpus-scaled K as a scalar subquery and
    # mirrors assign_clusters' Arrow-form BLAS distance expansion term-for-term
    # (||x||^2 - 2<x,c> + ||c||^2, rounded to 6) instead of the K=16 leg's
    # elementwise (x-c)^2 fold — each engine's summation shape matches the
    # side it certifies.
    oracle=f"""
    WITH {_sql_assign_pass(_SQL_SCALED_K, _SQL_BLAS_SQD)}, {_SQL_A1N}
    SELECT x.cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
           round(list_dot_product(x.en, y.en), 6) AS cos_sim
    FROM a1n x JOIN a1n y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    WHERE round(list_dot_product(x.en, y.en), 6) >= {SEMDEDUP_COS}
    ORDER BY vec_a, vec_b
    """,
    doc="SemDeDup PRODUCTION path, oracle-certified: corpus-scaled K "
    f"(max({SEMDEDUP_K}, n/{SEMDEDUP_DOCS_PER_CLUSTER})) through "
    "assign_clusters' Arrow-batched BLAS argmin — the fan-out "
    "configuration SEMDEDUP_K_r11.json measured flat (K=160 at 10x "
    "vectors: 2.8 s vs 43-52 s for the fixed-K certification legs). "
    "Retires the 'probe-only' status of the scaled-K knob.",
    tags=("similarity", "dedup", "pandas-udf"),
)
def semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir, "e", label=False)
    n = emb.count()
    k = max(SEMDEDUP_K, n // SEMDEDUP_DOCS_PER_CLUSTER)
    c0 = {
        int(r["vec_id"]): list(r["e"])
        for r in emb.filter(F.col("vec_id") < k).collect()
    }
    # single-file parquet = ONE input partition; the BLAS argmin is the
    # CPU-heavy Python stage, so spread it across the executor cores first
    spread = emb.repartition(spark.sparkContext.defaultParallelism)
    a = assign_clusters(spread, c0, arrow=True).select("vec_id", "e", "cluster")
    return _pairs_within_clusters(a)


# --------------------------------------------------------------------------
# Embedding LSH recall canary — the vector-modality twin of
# dedup.lsh_recall_report. Ground truth is the lossless blocked-matmul
# pair set (exact_cosine_candidate_pairs + the shared Catalyst fold —
# the same certified machinery as embedding_neardup_exact_pairs, fully
# distributed: no driver-broadcast matrix, so the canary itself is
# scale-shaped); banding's misses are exactly the true pairs that share
# NO sign-LSH band, tested map-side per pair over the two signatures.
# One matmul pass serves both legs. Band-config drift shows as a recall
# drop instead of silent dup leakage — this canary is what caught r7's
# 4x4 config at recall 0.516 and certifies the current geometry at its
# own default threshold.
# --------------------------------------------------------------------------
@extra_query(
    # r8 rotation: promoted to the driver gate — this canary is what
    # certifies the retuned 16x3-bit band geometry (recall 0.9891 at the
    # default threshold, vs 0.516 for the r7 config it caught)
    "embedding_lsh_recall_report",
    oracle=None,  # assigned below: composes the shared ndpairs CTE chain
    doc=f"Measured sign-LSH recall at cos >= {NEAR_DUP_COS}: blocked-matmul "
    "ground truth vs band-colliding pairs; n_missed is the sign-LSH "
    "false-negative set. "
    f"The {NEAR_DUP_BANDS}x{NEAR_DUP_BAND_BITS}-bit S-curve "
    f"predicts 0.990 recall at cos {NEAR_DUP_COS} "
    "(1-(1-(1-acos(c)/pi)^bits)^bands); measured 0.9891 at sf0.1.",
    tags=("similarity", "dedup", "reporting"),
)
def embedding_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb, emb_n = _unit_embeddings(spark, sf_dir)
    # sig is left unpinned: its two cheap map-side uses don't repay a
    # checkpoint job — measured neutral-to-negative at sf0.1
    sig = emb.select(
        "vec_id",
        lsh_bands_col(F.col("v"), NEAR_DUP_BANDS, NEAR_DUP_BAND_BITS).alias("sig"),
    )
    n = emb_n.count()
    n_blocks = max(1, math.ceil(n / EXACT_BLOCK_ROWS))
    cand = exact_cosine_candidate_pairs(emb_n, NEAR_DUP_COS, n_blocks)
    a = emb_n.select(F.col("vec_id").alias("vec_a"), F.col("vn").alias("__vna"))
    b = emb_n.select(F.col("vec_id").alias("vec_b"), F.col("vn").alias("__vnb"))
    sa = sig.select(F.col("vec_id").alias("vec_a"), F.col("sig").alias("__siga"))
    sb = sig.select(F.col("vec_id").alias("vec_b"), F.col("sig").alias("__sigb"))
    shares_band = F.exists(
        F.zip_with("__siga", "__sigb", lambda p, q: p == q), lambda eq: eq
    )
    exact = (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .filter(F.round(dot(F.col("__vna"), F.col("__vnb")), 6) >= NEAR_DUP_COS)
        .join(sa, "vec_a")
        .join(sb, "vec_b")
        .withColumn("__hit", shares_band)
    )
    hit = F.sum(F.when(F.col("__hit"), 1).otherwise(0))
    n_pairs = F.count(F.lit(1))
    return exact.agg(
        n_pairs.alias("n_exact_pairs"),
        F.coalesce(hit, F.lit(0)).alias("n_lsh_pairs"),
        F.coalesce(
            F.sum(F.when(~F.col("__hit"), 1).otherwise(0)), F.lit(0)
        ).alias("n_missed"),
        F.when(n_pairs > 0, F.round(hit * F.lit(1.0) / n_pairs, 4)).alias("recall"),
    )


# the oracle composes the shared CTE chain; assigned post-definition so it
# reuses _near_dup_ctes() exactly (the decorator literal cannot)
from railgun_spark import suite as _suite  # noqa: E402

_suite.EXTRA["embedding_lsh_recall_report"].oracle = f"""
    WITH {_near_dup_ctes()},
    exact AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM en a JOIN en b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.vn, b.vn), 6) >= {NEAR_DUP_COS}
    )
    SELECT count(*) AS n_exact_pairs,
           coalesce(sum(CASE WHEN p.vec_a IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_lsh_pairs,
           coalesce(sum(CASE WHEN p.vec_a IS NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_missed,
           CASE WHEN count(*) > 0 THEN
             round(sum(CASE WHEN p.vec_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                   / count(*), 4)
           END AS recall
    FROM exact e LEFT JOIN ndpairs p ON e.vec_a = p.vec_a AND e.vec_b = p.vec_b
    """


# --------------------------------------------------------------------------
# The vector-quantizer family: every persistent IVF / IVF-PQ index is an
# IVFSpec over one assignment (rounded-cosine argmax, lowest-cid ties),
# one probe (a query's nprobe best centroids), one PQ encoder / ADC
# lookup table (per subspace, the rounded squared distance to every
# codeword; codes = first min), one Lloyd loop, and one build, search
# and append. Each kernel has an expression form (oracle-certified) and
# an Arrow-batched numpy form; _arrow_form alone picks between them.
#
# vecs/ holds the assigned rows PARTITIONED BY CENTROID (raw vectors, or
# PQ codes), so a search probing `nprobe` lists is directory-level
# PARTITION PRUNING: the unprobed (k - nprobe)/k of the corpus is never
# read (FAISS's inverted-list seek). The assignment pass is paid once
# per build. Probes are Column algebra over the k literal centroids, so
# one search serves a query BATCH: probes explode to (qid, cid) pairs,
# candidates join on cid, a per-qid window takes the top k. PQ scores
# come from the codes alone (asymmetric distance): per-query lookup
# tables built from the literal codebooks ride the probes join.
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class IVFSpec:
    """One IVF / IVF-PQ configuration: `k` coarse centroids, `nprobe`
    lists probed per query; `m` > 0 makes an IVF-PQ index of `m`
    subspaces x `ks` codewords (0 keeps raw vectors in the lists);
    `residual` encodes v - centroid(cid) (IVFADC); `store_raw` keeps the
    exact vectors in raw/ so a search can `rerank` its ADC top-R by exact
    cosine. build_index reads the build fields; search_index and
    append_to_index take only the layout, `nprobe` and `rerank`, since
    the geometry and encoding are the stored index's."""

    k: int = IVF_K
    nprobe: int = IVF_NPROBE
    m: int = 0
    ks: int = PQ_KS
    residual: bool = False
    store_raw: bool = False
    rerank: int = 0

    def __post_init__(self) -> None:
        if not self.pq and (self.residual or self.store_raw or self.rerank):
            raise ValueError(
                "residual, store_raw and rerank apply to IVF-PQ specs (m > 0) only"
            )

    @property
    def pq(self) -> bool:
        return self.m > 0


# The expression forms build one fold per centroid or per (subspace,
# codeword) cell, so analysis and codegen grow with them; past these caps
# the Arrow kernels do the same math as one matmul/broadcast per batch.
# Every oracle-gated geometry but ann_ivf_pq_wide_topk (8x64, the Arrow
# encode/LUT certificate) stays on the expression path. The float
# summation ORDER differs between forms, so an exact rounded tie at the
# 1e-6 boundary could in principle resolve differently.
_IVF_COLUMN_PATH_MAX_K = 64
_PQ_COLUMN_PATH_MAX_CELLS = 256


def _arrow_form(n: int, cells: bool = False) -> bool:
    """The one expression-vs-Arrow routing rule: True past the cap for
    `n` centroids (or, with `cells`, `n` = m*ks PQ cells)."""
    return n > (_PQ_COLUMN_PATH_MAX_CELLS if cells else _IVF_COLUMN_PATH_MAX_K)


def _np_round6(x: "np.ndarray") -> "np.ndarray":
    """Round to 6 decimals with HALF_UP (half away from zero) — the mode
    Spark's F.round and DuckDB's round() use. np.round is half-to-even,
    so a sim/distance landing exactly on the 1e-6 midpoint would round
    DIFFERENTLY on the Arrow kernels than on the certified Column path
    (a value change, not just a tie-break flip); this keeps the two
    forms' only divergence the documented summation-order effect.
    Magnitudes here are sims in [-1, 1] and squared distances of
    unit-ish embeddings, so |x|*1e6 is far below 2^53 and the
    floor(+0.5) form is exact."""
    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6


def _int32_cids(cids: list) -> "np.ndarray":
    """Centroid/cluster ids as int32, validated: the index format stores
    cid as int (centroids/ schema, vecs/ partition column), so an id
    past int32 cannot round-trip — and a silent numpy cast would
    truncate only on the wide-K kernel path, where a truncated key never
    matches the driver-side cents dict and Lloyd training would silently
    no-op. Fail loudly instead."""
    arr = np.asarray(cids, dtype="int64")
    if arr.size and (arr.max() > 2**31 - 1 or arr.min() < -(2**31)):
        raise ValueError(
            "centroid ids must fit in int32 (the index format stores cid "
            f"as int): got range [{arr.min()}, {arr.max()}]"
        )
    return arr.astype("int32")


def _cos_kernel(cents: list, nprobe: int = 0):
    """Arrow form of the rounded-cosine ops over [(cid, vector)]
    centroids, one BLAS matmul per batch: the nearest cid (int; first
    argmax over cid-ascending columns = the lowest-cid tiebreak) or, with
    `nprobe`, the nprobe best cids (array<int>; a stable argsort keeps
    ties on the lowest cid)."""
    cids = _int32_cids([cid for cid, _ in cents])
    C = np.array([cv for _, cv in cents], dtype="float64")
    c_n = np.sqrt((C ** 2).sum(axis=1))

    @F.pandas_udf("array<int>" if nprobe else "int")
    def kernel(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object if nprobe else "int32")
        M = np.vstack(col.to_numpy()).astype("float64")
        sims = _np_round6(
            (M @ C.T) / (np.sqrt((M ** 2).sum(axis=1))[:, None] * c_n[None, :])
        )
        if not nprobe:
            return pd.Series(cids[sims.argmax(axis=1)])
        return pd.Series(list(cids[np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]]))

    return kernel


def _assign_cid(v: Column, cents: list) -> Column:
    """Nearest-centroid cid as a Column: rounded-cosine argmax with the
    lowest-cid tiebreak (array_position returns the FIRST max)."""
    if _arrow_form(len(cents)):
        return _cos_kernel(cents)(v)
    sims = F.array(*_cos_sims(v, cents))
    cid_of = F.array(*[F.lit(cid) for cid, _ in cents])
    return F.element_at(cid_of, F.array_position(sims, F.array_max(sims)).cast("int"))


def _cos_sims(v: Column, cents: list) -> list:
    """Expression form of _cos_kernel: v's rounded cosine to each centroid."""
    return [F.round(cosine(v, _lit_vec(cv)), 6) for _, cv in cents]


def _probed_queries(queries: DataFrame, cents: list, nprobe: int, carry: dict) -> DataFrame:
    """(qid, *carry, cid) — one row per (query, probed inverted list).
    `carry` maps output names to per-query columns of `queries`, computed
    in the projection that explodes the probes. The expression form is
    the oracle-certified K-struct array_sort."""
    if _arrow_form(len(cents)):
        return queries.select(
            "qid", *carry.values(),
            F.explode(_cos_kernel(cents, nprobe)(F.col("v"))).alias("cid"),
        )
    ex = F.explode(F.slice(F.array_sort(F.array(*[
        F.struct((-sim).alias("negsim"), F.lit(cid).alias("cid"))
        for (cid, _), sim in zip(cents, _cos_sims(F.col("v"), cents))
    ])), 1, nprobe)).alias("p")
    return queries.select("qid", *carry.values(), ex).select(
        "qid", *carry, F.col("p.cid").alias("cid")
    )


def _pq_geometry(books: dict) -> tuple[list[int], int, int]:
    """(ascending subspace ids, dims per subspace, codewords per
    subspace) of a codebooks dict {m: [(j, subvector)]}: the geometry
    rides the stored codebooks, never a constant."""
    ms = sorted(books)
    ds = len(books[ms[0]][0][1])
    return ms, ds, len(books[ms[0]])


def _sqd_kernel(books: dict, luts: bool = False):
    """Arrow form of the PQ encoder and lookup tables: per row and
    subspace, the rounded squared distance to every codeword as one
    numpy broadcast over row chunks sized to bound the (chunk, ks, ds)
    intermediate (a full ~10k-row Arrow batch at 8x256 would transiently
    allocate ~160MB per subspace). Returns the 1-based first-min codes
    (array<int>) or, with `luts`, the tables (array<array<double>>:
    outer index = subspace, inner = codeword j)."""
    ms, ds, _ = _pq_geometry(books)
    mats = [np.asarray([cv for _, cv in books[m]], dtype="float64") for m in ms]

    @F.pandas_udf("array<array<double>>" if luts else "array<int>")
    def kernel(vs: pd.Series) -> pd.Series:
        if vs.empty:
            return pd.Series([], dtype=object)
        X = np.asarray(vs.tolist(), dtype="float64")
        out: list = []
        for lo in range(0, len(X), 1024):
            chunk = X[lo:lo + 1024]
            d = np.stack([
                _np_round6(
                    ((chunk[:, m * ds:(m + 1) * ds][:, None, :] - mats[i][None, :, :]) ** 2)
                    .sum(-1)
                )
                for i, m in enumerate(ms)
            ], axis=1)  # (chunk, M, ks)
            if luts:
                out.extend([list(row) for row in q] for q in d)
            else:
                out.extend((d.argmin(2) + 1).astype("int32"))
        return pd.Series(out)

    return kernel


def _sub_sqd(v: Column, books: dict) -> list:
    """Expression form of _sqd_kernel: per subspace, the array of rounded
    squared distances from v's subvector to each codeword (ascending j)."""
    ms, ds, _ = _pq_geometry(books)
    return [
        F.array(*[_sq_dist(F.slice(v, m * ds + 1, ds), cv) for _, cv in books[m]])
        for m in ms
    ]


def _pq_code_cols(v: Column, books: dict) -> list:
    """One 1-based code Column per subspace: first-min squared distance,
    lowest-j tiebreak."""
    return [F.array_position(d, F.array_min(d)).cast("int") for d in _sub_sqd(v, books)]


def _pq_codes_col(v: Column, books: dict) -> Column:
    """The codes array of one vector column (build and append share it,
    so an index always encodes appends the way it was built)."""
    ms, _, ks = _pq_geometry(books)
    if _arrow_form(len(ms) * ks, cells=True):
        return _sqd_kernel(books)(v)
    return F.array(*_pq_code_cols(v, books))


def _lut_cols(src: Column, books: dict) -> dict:
    """{f"lut{m}": the query's ADC lookup table for subspace m}."""
    ms, _, ks = _pq_geometry(books)
    if _arrow_form(len(ms) * ks, cells=True):
        all_luts = _sqd_kernel(books, luts=True)(src)
        tables = [F.element_at(all_luts, i + 1) for i in range(len(ms))]
    else:
        tables = _sub_sqd(src, books)
    return {f"lut{m}": t.alias(f"lut{m}") for m, t in zip(ms, tables)}


def _centroid_vec_col(cents: list) -> Column:
    """The assigned centroid's vector as a Column, looked up from a
    K-entry map literal on the row's cid — the residual subtraction's
    vector side (K is quantizer-sized, never corpus-sized)."""
    return F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(int(cid)) for cid, _ in cents]),
            F.array(*[_lit_vec(cv) for _, cv in cents]),
        ),
        F.col("cid"),
    )


def _residual_col(v: Column, cents: list) -> Column:
    """v - centroid(cid), reading the row's cid column (the map literal
    carries K*dim literal nodes — fine at oracle K, an analysis blob at
    production list counts). Both forms are exact double subtraction."""
    if _arrow_form(len(cents)):
        return _residual_pandas(cents)(v, F.col("cid"))
    return F.zip_with(v, _centroid_vec_col(cents), lambda x, y: x - y)


def _residual_pandas(cents: list):
    cids = np.array([cid for cid, _ in cents], dtype="int64")  # ascending
    C = np.array([cv for _, cv in cents], dtype="float64")

    @F.pandas_udf("array<double>")
    def res(v: pd.Series, cid: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        M = np.vstack(v.to_numpy()).astype("float64")
        idx = np.searchsorted(cids, cid.to_numpy().astype("int64"))
        return pd.Series(list(M - C[idx]))

    return res


# Lloyd training inputs are bounded to ~this many vectors per centroid/
# codeword (FAISS's guidance: quantizer quality saturates around
# 256 points per cell; training past that buys nothing but wall time).
TRAIN_SAMPLE_PER_CENTROID = 256
# ... but never fewer than this many vectors total, so small-K quantizers
# still see a corpus-shaped sample
TRAIN_SAMPLE_MIN = 100_000


def _training_sample(emb: DataFrame, target: int) -> DataFrame:
    """Bounded deterministic Lloyd-training input: if the corpus exceeds
    `target` rows, keep a ~target-row hash bucket (xxhash64 of vec_id —
    a pure function of row identity, stable across runs, partitionings
    and appends). Either way the result is localCheckpoint'd, so every
    training iteration scans a MATERIALIZED bounded frame (~target rows
    x dim doubles, executor-resident) instead of re-reading the corpus:
    at 100 TB, one sampling pass instead of m*iters full-corpus passes."""
    n = emb.count()
    if n > target:
        # integer-permille keep decision — exact fraction arithmetic on
        # the hash, no float sampling nondeterminism
        denom = 1_000_000
        keep = int(target * denom // n)
        emb = emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(denom)) < F.lit(keep)
        )
    return pin(emb, "similarity.training_sample")


def _train_frame(emb: DataFrame, width: int, sample: int | None) -> DataFrame:
    """The (vec_id, e) Lloyd input of a (vec_id, v) frame, bounded by
    `sample` (_training_sample): 0 auto-sizes it to max(256*width, 100k)
    vectors, an int is the bound, None keeps the full frame. Trainers
    take their init from the FULL frame, so when the bound doesn't bind
    the result is identical to full-corpus training."""
    base = emb.select("vec_id", F.col("v").alias("e"))
    if sample == 0:
        sample = max(TRAIN_SAMPLE_PER_CENTROID * width, TRAIN_SAMPLE_MIN)
    return base if sample is None else _training_sample(base, sample)


_LLOYD_TOL = 1e-4  # one rounded (4-place) centroid coordinate step


def _lloyd(base: DataFrame, cents: dict, iters: int) -> dict:
    """The one Lloyd loop over a (vec_id, e) frame: up to `iters` rounds
    of map-only assignment against broadcast-literal centroids
    (assign_clusters, routed by K) plus one K*dim-row (cluster, pos)
    shuffle each, stopping once no coordinate moves by _LLOYD_TOL. A cluster
    that captures no points keeps its centroid (the quantizer stays K
    wide); the plan depth is constant per iteration."""
    for _ in range(iters):
        new = recompute_centroids(assign_clusters(base, cents))
        new = {cid: new.get(cid, cv) for cid, cv in cents.items()}
        movement = max(
            max(abs(a - b) for a, b in zip(cents[cid], new[cid])) for cid in cents
        )
        cents = new
        if movement < _LLOYD_TOL:
            break
    return cents


def train_ivf_centroids(
    emb: DataFrame, k: int = IVF_K, iters: int = 5, sample: int | None = 0,
) -> list:
    """Lloyd-train a coarse quantizer from the first-K init of `emb`
    (vec_id, v) for up to `iters` rounds; `sample` bounds the
    input (_train_frame). Returns [(cid, vector)] for build_index's
    `centroids` override or ivf_search. On clustered data this is what
    turns IVF pruning into recall-efficient pruning
    (ANN_RECALL_CLUSTERED_r15: recall@10 = 0.775 at 3.1% of lists
    scanned vs ~= scanned-fraction untrained)."""
    base = _train_frame(emb, k, sample)
    return sorted(_lloyd(base, dict(_centroid_rows(emb, k)), iters).items())


def residual_frame(emb: DataFrame, centroids: list) -> DataFrame:
    """(vec_id, v=residual-against-assigned-centroid) — the training
    frame for a residual (IVFADC) build's codebooks:
    train_pq_codebooks(residual_frame(emb, cents), m, ks) trains
    sub-codebooks on exactly the vectors the index will encode."""
    return emb.select(
        "vec_id", "v", _assign_cid(F.col("v"), centroids).alias("cid")
    ).select("vec_id", _residual_col(F.col("v"), centroids).alias("v"))


def train_pq_codebooks(
    emb: DataFrame, m: int = PQ_M, ks: int = PQ_KS, iters: int = 10,
    sample: int | None = 0,
) -> dict:
    """Per-subspace PQ codebooks {m: [(j, subvector)]}, 1-based ascending
    j: the ks lowest-vec_id vectors of `emb` (vec_id, v), sliced into m
    subspaces and Lloyd-trained on the sliced frame for up to `iters`
    rounds each (0 = the first-K codebooks). The m loops share one
    bounded sample (_train_frame): without it, m subspaces x iters
    iterations are m*iters FULL-CORPUS passes (160 at m=16, iters=10)."""
    base = _train_frame(emb, ks, sample)
    init_rows = _centroid_rows(emb, ks)
    ds = len(init_rows[0][1]) // m
    books: dict = {}
    for mm in range(m):
        sub = base.select("vec_id", F.slice(F.col("e"), mm * ds + 1, ds).alias("e"))
        init = {vid: v[mm * ds:(mm + 1) * ds] for vid, v in init_rows}
        trained = _lloyd(sub, init, iters)
        books[mm] = [(j, trained[vid]) for j, vid in enumerate(sorted(trained), 1)]
    return books


def _centroid_rows(emb: DataFrame, k: int) -> list:
    """Deterministic first-K quantizer: the k lowest-vec_id vectors OF
    THE GIVEN SET as [(vec_id, vector)] (ann_ivf_topk's convention
    generalized to arbitrary id ranges; the init of every Lloyd run).
    Refuses loudly on fewer than k vectors: an empty/short quantizer
    would silently build a degenerate index."""
    rows = emb.select("vec_id", "v").orderBy("vec_id").limit(k).collect()
    if len(rows) < k:
        raise ValueError(
            f"cannot build a {k}-centroid IVF quantizer from "
            f"{len(rows)} vectors"
        )
    return sorted((int(r["vec_id"]), [float(x) for x in r["v"]]) for r in rows)


def _read_quantizer(spark: SparkSession, index_path: str, pq: bool) -> tuple:
    """(centroids [(cid, vector)], codebooks {m: [(j, subvector)]} or
    None, encoding 'raw'/'residual' or None) of a stored index. The
    three K-bounded PQ reads are independent collects, overlapped
    (guide-§2.6) instead of three sequential driver round trips."""
    def rows(name: str) -> list:
        return spark.read.parquet(f"{index_path}/{name}").collect()

    books = encoding = None
    if not pq:
        cents_rows = rows("centroids")
    else:
        cents_rows, books_rows, encoding = overlap(
            spark, lambda: rows("centroids"), lambda: rows("codebooks"),
            lambda: _ivf_pq_encoding(spark, index_path),
        )
        books = {}
        for r in books_rows:
            books.setdefault(int(r["m"]), []).append((int(r["j"]), [float(x) for x in r["cv"]]))
        books = {m: sorted(entries) for m, entries in books.items()}
    cents = sorted((int(r["cid"]), [float(x) for x in r["cv"]]) for r in cents_rows)
    return cents, books, encoding


def _coded(assigned: DataFrame, cents: list, books: dict | None, residual: bool) -> DataFrame:
    """The rows vecs/ stores for (vec_id, label, v, cid) rows: the rows
    themselves for an IVF index; (vec_id, label, cid, codes) for IVF-PQ,
    the codes of v or, for a residual index, of v - centroid(cid)."""
    if books is None:
        return assigned
    enc_v = _residual_col(F.col("v"), cents) if residual else F.col("v")
    return assigned.select(
        "vec_id", "label", "cid", _pq_codes_col(enc_v, books).alias("codes")
    )


def _write_lists(rows: DataFrame, target: str, mode: str) -> None:
    """Inverted lists: one shuffle keyed by cid so each list lands in few
    files (a task per cid, not per (task, cid) — 32 upstream partitions
    would otherwise spray k files each); at production scale raise
    spark.sql.shuffle.partitions so hot lists split across tasks."""
    rows.repartition(F.col("cid")).write.mode(mode).partitionBy("cid").parquet(target)


# raw/ is written with page-sized parquet row groups (~50-100 rows at
# 64-dim doubles) and rows sorted by vec_id within each file, so the
# rerank leg's pushed In(vec_id) shortlist filter prunes at row-group
# granularity — see _write_raw_store. Point-lookup stores want SMALL
# groups (the DiskANN/ScaNN page-size discipline): each shortlisted id
# costs one group read, so the pruned read is ids x group-bytes and the
# group must be far smaller than an inverted list for pruning to win.
RAW_STORE_BLOCK_BYTES = 32 * 1024

# max ids per pushed In filter on the refine read — parquet evaluates the
# or(eq, ...) chain Spark builds for a pushed In recursively, and chains
# past ~1000 terms overflow the scan task's stack; bigger shortlists are
# split into unioned scans of this size. The ids are chunked SORTED and
# contiguous, so each branch's value range maps to a contiguous band of
# the vec_id-sorted row groups — branches prune to near-disjoint group
# sets and the union reads the same groups one wide filter would.
_RAW_IN_PUSHDOWN_CHUNK = 128


def _raw_probed_bytes(spark: SparkSession, index_path: str,
                      cids: list) -> int:
    """Total bytes under the probed raw/cid=... directories — the
    driver-side metadata read (one content summary per probed list,
    K-bounded) behind the refine read's prune-or-scan decision. Works
    on local and remote schemes through the Hadoop FileSystem. A
    missing dir (empty list) contributes 0; every other failure (a
    permission error, an unsupported scheme, a gateway fault) raises
    rather than steer the search to the full-scan branch."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for c in cids:
        p = jvm.org.apache.hadoop.fs.Path(
            f"{index_path.rstrip('/')}/raw/cid={int(c)}"
        )
        try:
            total += int(
                p.getFileSystem(conf).getContentSummary(p).getLength()
            )
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
                raise
    return total


def _write_raw_store(rows: DataFrame, target: str, mode: str) -> None:
    """The refine store's layout discipline, shared by build, append,
    and compaction: cid-partitioned like the codes, rows SORTED by
    vec_id within each file, small parquet row groups
    (RAW_STORE_BLOCK_BYTES). Sorted + small groups is what makes the
    rerank shortlist's pushed In(vec_id) filter a point lookup: each
    shortlisted id intersects one row group's min/max, so the refine
    read materializes ~rows-per-group rows per shortlisted id —
    O(queries x rerank) — instead of the probed lists' ENTIRE raw
    partitions, the one search cost that tracked index size in the
    lifecycle grid (INGEST_GRID_ANN_r16: PQ+rerank p50 7.1 -> 15.1 s
    at 50k -> 500k)."""
    (rows.repartition(F.col("cid"))
         .sortWithinPartitions("cid", "vec_id")
         .write.mode(mode)
         .option("parquet.block.size", RAW_STORE_BLOCK_BYTES)
         .partitionBy("cid")
         .parquet(target))


def _ivf_pq_encoding(spark: SparkSession, index_path: str) -> str:
    """'residual' or 'raw' — read from the index's meta/, which the
    build writes LAST as the commit marker (after every overlapped
    artifact write has joined). A missing meta/ therefore means an
    INCOMPLETE build — a crash between the concurrent vecs/codebooks/
    centroids/raw writes and commit — and is rejected loudly: the old
    default-to-'raw' path would LUT a residual-coded index against the
    wrong frame and make append encode raw rows into it, silently
    corrupting search results. Every other read failure also stays loud
    (errors.py discipline)."""
    from pyspark.errors import AnalysisException

    from railgun_spark.errors import is_path_not_found

    try:
        rows = spark.read.parquet(f"{index_path}/meta").collect()
    except AnalysisException as e:
        if is_path_not_found(e):
            raise ValueError(
                f"IVF-PQ index at {index_path!r} has no meta/ commit "
                "marker: the build did not complete (crash between the "
                "overlapped artifact writes and commit?). Rebuild the "
                "index; do not search or append an uncommitted layout."
            ) from e
        raise
    return {r["key"]: r["value"] for r in rows}.get("encoding", "raw")


def build_index(
    emb: DataFrame, index_path: str, spec: IVFSpec = IVFSpec(),
    exclude_ids: tuple = (),
    centroids: list | None = None,
    codebooks: dict | None = None,
) -> int:
    """Build a `spec` index of `emb` (vec_id, label, v:array<double>)
    minus `exclude_ids` and return the number of indexed vectors: assign
    every vector to its nearest coarse centroid, write vecs/ (by cid) and
    centroids/; an IVF-PQ spec encodes in the same pass, stores (vec_id,
    label, codes) ONLY and writes codebooks/ and, last, meta/. Trained
    `centroids` [(cid, vector)] (train_ivf_centroids) and `codebooks`
    {m: [(j, subvector)]}, ascending 1-based j (train_pq_codebooks; for a
    residual build over residual_frame) override the first-K ones of the
    indexed set; a production build wants M=8, Ks=256 trained codebooks.
    `residual` (IVFADC) codes v - centroid(cid), so the sub-codebooks
    spend their resolution on INTRA-list structure; `store_raw` writes
    the exact vectors to raw/ under the SAME cid partitioning (the
    FAISS-refine / DiskANN pattern) for a search's `rerank`."""
    from pyspark.sql import Observation

    if codebooks is not None and not spec.pq:
        raise ValueError("codebooks apply to IVF-PQ specs (m > 0) only")
    spark = emb.sparkSession
    base = emb
    if exclude_ids:
        base = base.filter(~F.col("vec_id").isin(list(exclude_ids)))
    cents = sorted(centroids) if centroids is not None else _centroid_rows(base, spec.k)
    # deliberately NOT spread_scan'd: the A/B regressed hard (build
    # entries 24.9 -> 43.3 s sum-of-mins) — the extra round-robin
    # exchange ahead of the cid repartition costs more than the
    # parallelized assignment saves on the build's multi-consumer plan
    assigned = base.select(
        "vec_id", "label", "v", _assign_cid(F.col("v"), cents).alias("cid")
    )
    books = None
    if spec.pq and codebooks is not None:
        books = {mm: sorted(entries) for mm, entries in codebooks.items()}
    elif spec.pq:
        train_on = base if not spec.residual else assigned.select(
            "vec_id", _residual_col(F.col("v"), cents).alias("v")
        )
        books = train_pq_codebooks(train_on, spec.m, spec.ks, iters=0, sample=None)
    # The artifact writes are independent of each other; run them from a
    # thread pool (guide-§2.6 overlap): the lists and raw stores are the
    # two heavy jobs (each a full assignment pass), the tiny metadata
    # writes fill their scheduling gaps. The indexed-vector count rides
    # the lists write as an observe() metric instead of a read-back
    # count() over the freshly written index.
    obs = Observation()

    def small(name: str, rows: list, schema: str) -> None:
        local_df(spark, rows, schema).write.mode("overwrite").parquet(f"{index_path}/{name}")

    jobs = [
        lambda: _write_lists(
            _coded(assigned, cents, books, spec.residual).observe(
                obs, F.count(F.lit(1)).alias("n")
            ),
            f"{index_path}/vecs", "overwrite",
        ),
        lambda: small("centroids", cents, "cid: int, cv: array<double>"),
    ]
    if books is not None:
        jobs.append(lambda: small(
            "codebooks", [(m, j, cv) for m, entries in books.items() for j, cv in entries],
            "m: int, j: int, cv: array<double>",
        ))
    if books is not None and spec.store_raw:
        # the SAME assigned frame as the codes — a divergent
        # re-derivation here would break the rerank join's cid equality
        jobs.append(
            lambda: _write_raw_store(assigned, f"{index_path}/raw", "overwrite")
        )
    overlap(spark, *jobs)
    if books is not None:
        # meta/ is the COMMIT MARKER: written only after every overlapped
        # artifact write has joined, so a crash mid-build leaves an index
        # with no meta/, which readers reject as incomplete
        # (_ivf_pq_encoding)
        small("meta", [("encoding", "residual" if spec.residual else "raw")],
              "key: string, value: string")
    return int(obs.get["n"])


def _probed_vecs(spark: SparkSession, index_path: str, cids: list) -> DataFrame:
    """The probed inverted lists only: an isin over the cid PARTITION
    column prunes unprobed directories at plan time (inputFiles shrinks
    with nprobe — pinned by test)."""
    _recover_ivf(index_path)
    return spark.read.parquet(f"{index_path}/vecs").filter(
        F.col("cid").isin([int(c) for c in cids])
    )


def _ranked(scored: DataFrame, score: str, n: int, rank: str = "rnk") -> DataFrame:
    """Per-query top `n` of scored candidates: cosine descending or ADC
    ascending, ties on the lowest vec_id, then the lowest cid."""
    from pyspark.sql import Window

    order = F.desc(score) if score == "cos_sim" else F.col(score)
    w = Window.partitionBy("qid").orderBy(order, F.col("vec_id"), F.col("cid"))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def _cos_scored(cand: DataFrame) -> DataFrame:
    """(qid, vec_id, label, cid, cos_sim) of candidates carrying v and
    the query's qv. At-least-once appends (crash-replayed streaming
    batches) may duplicate index rows; identical candidates fold here
    so a vector never double-fills the top-k (compact_ivf_index
    reclaims the storage)."""
    return cand.select(
        "qid", "vec_id", "label", "cid",
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
    ).distinct()


def search_index(
    spark: SparkSession,
    queries: DataFrame,
    index_path: str,
    pq: bool = False,
    nprobe: int = IVF_NPROBE,
    rerank: int = 0,
    topk: int = 10,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Batch ANN search of (qid, v) query rows against a build_index
    layout (IVF-PQ when `pq`; the other layout is refused): per query,
    the `nprobe` nearest centroids, a scan of ONLY those partitions, and
    the top-`topk` — (qid, vec_id, label, cid, cos_sim, rnk) by exact
    rounded cosine for IVF; (..., adc_dist, rnk) by ADC from the codes
    for IVF-PQ, against per-query lookup tables (per probed list, on the
    query's residual, for a residual index). `rerank` = R (store_raw
    builds) re-scores each query's ADC top-R by exact cosine against the
    raw vectors of the probed partitions (cosine schema): pure ADC caps
    recall at the quantizer's resolution, the refine leg costs R raw rows
    per query. Ties break on the lowest vec_id, then cid.
    `broadcast_probes` ships the probes to the pruned scan with no
    index-side shuffle; set it False for a cluster-scale query batch (a
    shuffle join on cid)."""
    if rerank and not pq:
        raise ValueError("rerank applies to IVF-PQ searches only (raw IVF "
                         "already ranks by exact cosine)")
    cents, books, encoding = _read_quantizer(spark, index_path, pq)
    # per-query probe list exploded to (qid, cid) pairs carrying what the
    # scoring needs; checkpointed so the probe pass over the query batch
    # runs ONCE (the distinct-cid collect below and the candidate join
    # would otherwise re-evaluate the whole lineage)
    if books is None:
        probes = _probed_queries(queries, cents, nprobe, {"v": "v"}).select(
            "qid", F.col("v").alias("qv"), "cid"
        )
    elif encoding == "residual":
        # IVFADC: the LUT for a probed list is computed on the QUERY'S
        # RESIDUAL against that list's centroid, matching the stored
        # codes' frame — per (qid, cid) row, after the probe explode
        probes = _probed_queries(queries, cents, nprobe, {"v": "v"}).select(
            "qid", "cid", *_lut_cols(_residual_col(F.col("v"), cents), books).values()
        )
    else:
        # the LUTs are computed per query, before the probe explode
        probes = _probed_queries(queries, cents, nprobe, _lut_cols(F.col("v"), books))
    probes = pin(probes, "similarity.probes")
    # static partition pruning: the union of probed cids is bounded by k
    # (tiny), so one driver-side distinct keeps the scan pruned even
    # without runtime DPP
    probed_cids = [r["cid"] for r in probes.select("cid").distinct().collect()]
    if broadcast_probes:
        probes = F.broadcast(probes)
    cand = _probed_vecs(spark, index_path, probed_cids).join(probes, "cid")
    if books is None:
        return _ranked(_cos_scored(cand), "cos_sim", topk).select(
            "qid", "vec_id", "label", "cid", "cos_sim", "rnk"
        )
    adc = F.lit(0.0)
    for i, m in enumerate(sorted(books)):
        adc = adc + F.element_at(
            F.col(f"lut{m}"), F.element_at(F.col("codes"), i + 1)
        )
    scored = cand.select(
        "qid", "vec_id", "label", "cid", F.round(adc, 6).alias("adc_dist")
    ).distinct()  # duplicate-safe under at-least-once appends
    if not rerank:
        return _ranked(scored, "adc_dist", topk).select(
            "qid", "vec_id", "label", "cid", "adc_dist", "rnk"
        )
    if not _ivf_has(spark, index_path, "raw"):
        raise ValueError(
            f"rerank={rerank} needs raw vectors: build the index with "
            f"store_raw=True (no raw/ under {index_path!r})"
        )
    # materialized once: the id collect below and the refine join must
    # not re-run the whole ADC leg
    shortlist = pin(
        _ranked(scored, "adc_dist", rerank, rank="arnk")
        .join(queries.select("qid", F.col("v").alias("qv")), "qid")
        .select("qid", "vec_id", "label", "cid", "qv"),
        "similarity.rerank_shortlist",
    )
    # shortlist-shaped refine read: the survivors' vec_ids (<= queries x
    # rerank) are pushed into the raw scan as In filters, which prune
    # the vec_id-sorted small row groups (_write_raw_store) to ~one group
    # per id, in unioned _RAW_IN_PUSHDOWN_CHUNK-id scans
    sl_ids = sorted(
        int(r["vec_id"])
        for r in shortlist.select("vec_id").distinct().collect()
    )
    base_raw = spark.read.parquet(f"{index_path}/raw").filter(
        F.col("cid").isin([int(c) for c in probed_cids])
    )
    # prune-or-scan decision: the pruned read costs ~one row group per
    # shortlisted id, so it only wins when ids x group-bytes is well
    # under the probed lists' total bytes. Below that (small index or
    # corpus-scale query batches, where the ids blanket every group),
    # a single scan with a plain row-level In filter is strictly
    # cheaper — no union branches, no per-group predicate evaluation.
    probed_bytes = _raw_probed_bytes(spark, index_path, probed_cids)
    if sl_ids and len(sl_ids) * RAW_STORE_BLOCK_BYTES * 2 < probed_bytes:
        # below this threshold Spark pushes In as OR-of-eq; past it, as
        # a min/max RANGE, which prunes nothing for ids sprinkled
        # across a list — pin it just above the chunk size (session
        # conf)
        thr = int(spark.conf.get(
            "spark.sql.parquet.pushdown.inFilterThreshold", "10"))
        if thr <= _RAW_IN_PUSHDOWN_CHUNK:
            spark.conf.set(
                "spark.sql.parquet.pushdown.inFilterThreshold",
                str(_RAW_IN_PUSHDOWN_CHUNK + 1),
            )
        chunks = [
            sl_ids[i:i + _RAW_IN_PUSHDOWN_CHUNK]
            for i in range(0, len(sl_ids), _RAW_IN_PUSHDOWN_CHUNK)
        ]
        scans = [base_raw.filter(F.col("vec_id").isin(c)) for c in chunks]
        raw = scans[0]
        for s in scans[1:]:
            raw = raw.unionByName(s)
    else:
        raw = base_raw.filter(F.col("vec_id").isin(sl_ids))
    # raw/ may carry at-least-once duplicate rows too
    refined = _cos_scored(raw.join(F.broadcast(shortlist), ["cid", "vec_id", "label"]))
    return _ranked(refined, "cos_sim", topk).select(
        "qid", "vec_id", "label", "cid", "cos_sim", "rnk"
    )


def append_to_index(new_vecs: DataFrame, index_path: str, pq: bool = False) -> int:
    """Grow a build_index layout (IVF-PQ when `pq`) by `new_vecs`
    (vec_id, label, v), assigned (and encoded, in the stored encoding)
    with the STORED quantizer and codebooks — immutable for the index's
    lifetime — and appended to their cid partitions; a store_raw index
    grows raw/ in the same append, or reranked top-k would drop every
    appended vector. Returns the number appended. Refuses the other
    layout and holds the maintenance lock across the write, so an append
    cannot race a compaction swap."""
    from railgun_spark.operators.dedup import _release_compact_lock

    spark = new_vecs.sparkSession
    lock, token = _ivf_append_guard(spark, index_path, pq)
    try:
        cents, books, encoding = _read_quantizer(spark, index_path, pq)
        cid = _assign_cid(F.col("v"), cents).alias("cid")
        assigned = pin(new_vecs.select("vec_id", "label", "v", cid), "similarity.append_assigned")
        _write_lists(
            _coded(assigned, cents, books, encoding == "residual"),
            f"{index_path}/vecs", "append",
        )
        if pq and _ivf_has(spark, index_path, "raw"):
            _write_raw_store(assigned, f"{index_path}/raw", "append")
        return assigned.count()
    finally:
        if lock is not None:
            _release_compact_lock(lock, token)


IVF_INDEX_QUERY_IDS = (0, 9, 10)
PQ_RERANK = 25  # ADC shortlist width for the exact-refine leg
PQ_WIDE_M = 8  # production-shaped geometry: 8 subspaces x 64 codewords
PQ_WIDE_KS = 64


_SQL_SEP = ",\n    "


def _index_oracle(spec: IVFSpec) -> str:
    """The all-in-one SQL definition of _index_gate(spec): first-K
    quantizer and codebooks of the indexed set (query ids held out),
    the same assignment, probes, codes and lookup tables, one window per
    query. A rerank spec takes its book from vec_ids 1..ks directly (the
    first ks indexed ids at these query ids); a residual spec codes,
    books and LUTs v - centroid(assigned cid), so each candidate is
    scored by the LUT of ITS OWN probed list (the lut CTE carries cid)."""
    cos, sqd = _SQL_COS.format, _SQL_SQD.format
    qids = ", ".join(str(q) for q in IVF_INDEX_QUERY_IDS)
    ds, m, ks = (EMB_DIM // spec.m, spec.m, spec.ks) if spec.pq else (0, 0, 0)
    v, ev, qv, qqv = ("", "", "", "") if spec.pq else ("v, ", "e.v, ", "qv, ", "q.qv, ")
    head = [
        "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {IVF_K})",
        f"q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN ({qids}))",
    ]
    assign = f"""assign AS (
      SELECT vec_id, label, {v}cid FROM (
        SELECT e.vec_id, e.label, {ev}c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos(a="e.v", b="c.cv")} DESC, c.cid) AS rn
        FROM e, c WHERE e.vec_id NOT IN ({qids})
      ) WHERE rn = 1
    )"""
    probes = f"""probes AS (
      SELECT qid, {qv}cid FROM (
        SELECT q.qid, {qqv}c.cid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {cos(a="qv", b="c.cv")} DESC, c.cid) AS rn
        FROM c, q
      ) WHERE rn <= {IVF_NPROBE}
    )"""
    if not spec.pq:
        return f"""
    WITH {_SQL_SEP.join([*head, assign, probes])}
    SELECT qid, vec_id, label, cid, cos_sim, rnk FROM (
      SELECT p.qid, a.vec_id, a.label, a.cid,
             {cos(a="a.v", b="p.qv")} AS cos_sim,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY {cos(a="a.v", b="p.qv")} DESC, a.vec_id, a.cid)
               AS rnk
      FROM assign a JOIN probes p USING (cid)
    ) WHERE rnk <= 10
    ORDER BY qid, rnk
    """
    bids = f"""bids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS j
      FROM e WHERE vec_id NOT IN ({qids})
      ORDER BY vec_id LIMIT {ks}
    ),
    book AS (SELECT b.j, s.m, s.sv AS bv
             FROM sub s JOIN bids b USING (vec_id))"""
    where = "" if spec.residual else f"WHERE s.vec_id NOT IN ({qids})"
    codes = f"""codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, b.j,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {sqd(a="s.sv", b="b.bv")}, b.j) AS rn
        FROM sub s JOIN book b ON s.m = b.m
        {where}
      ) WHERE rn = 1
    )"""
    if spec.residual:
        ctes = [*head, assign, f"""resid AS (
      SELECT a.vec_id, a.label, a.cid,
             list_transform(e.v, (x, i) -> x - c.cv[i]) AS rv
      FROM assign a JOIN e USING (vec_id) JOIN c USING (cid)
    )""", f"""sub AS (
      SELECT vec_id, m.range AS m,
             rv[m.range * {ds} + 1 : m.range * {ds} + {ds}] AS sv
      FROM resid, range(0, {m}) m
    )""", bids, codes, probes, f"""qsub AS (
      SELECT p.qid, p.cid, m.range AS m,
             list_transform(q.qv, (x, i) -> x - c.cv[i])
               [m.range * {ds} + 1 : m.range * {ds} + {ds}] AS sv
      FROM probes p JOIN q USING (qid) JOIN c USING (cid),
           range(0, {m}) m
    )""", f"""lut AS (
      SELECT qs.qid, qs.cid, b.m, b.j,
             {sqd(a="qs.sv", b="b.bv")} AS qd
      FROM qsub qs JOIN book b ON qs.m = b.m
    )""", """adc AS (
      SELECT l.qid, a.vec_id, a.label, a.cid,
             round(sum(l.qd), 6) AS adc_dist
      FROM assign a
      JOIN probes p USING (cid)
      JOIN codes cd ON cd.vec_id = a.vec_id
      JOIN lut l ON l.qid = p.qid AND l.cid = a.cid
                AND l.m = cd.m AND l.j = cd.code
      GROUP BY l.qid, a.vec_id, a.label, a.cid
    )"""]
        return f"""
    WITH {_SQL_SEP.join(ctes)}
    SELECT qid, vec_id, label, cid, adc_dist, rnk FROM (
      SELECT qid, vec_id, label, cid, adc_dist,
             row_number() OVER (PARTITION BY qid
               ORDER BY adc_dist, vec_id, cid) AS rnk
      FROM adc
    ) WHERE rnk <= 10
    ORDER BY qid, rnk
    """
    if spec.rerank:
        book = f"""book AS (SELECT vec_id AS j, m, sv AS bv FROM sub
             WHERE vec_id BETWEEN 1 AND {ks})"""
    else:
        book = f"""-- the ks LOWEST vec_ids OF THE INDEXED SET (query ids held out),
    -- re-keyed 1..ks — matches _pq_codebooks' first-K convention even
    -- when ks exceeds a held-out id
    {bids}"""
    ctes = [*head, _sql_sub(ds, m), book, assign, codes, f"""lut AS (
      SELECT qs.vec_id AS qid, b.m, b.j,
             {sqd(a="qs.sv", b="b.bv")} AS qd
      FROM sub qs JOIN book b ON qs.m = b.m
      WHERE qs.vec_id IN ({qids})
    )""", probes, """adc AS (
      SELECT l.qid, cd.vec_id, round(sum(l.qd), 6) AS adc_dist
      FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.j
      GROUP BY l.qid, cd.vec_id
    )"""]
    ranked = """FROM assign a
      JOIN probes p USING (cid)
      JOIN adc d ON d.qid = p.qid AND d.vec_id = a.vec_id"""
    if not spec.rerank:
        return f"""
    WITH {_SQL_SEP.join(ctes)}
    SELECT qid, vec_id, label, cid, adc_dist, rnk FROM (
      SELECT p.qid, a.vec_id, a.label, a.cid, d.adc_dist,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY d.adc_dist, a.vec_id, a.cid) AS rnk
      {ranked}
    ) WHERE rnk <= 10
    ORDER BY qid, rnk
    """
    ctes.append(f"""shortlist AS (
      SELECT qid, vec_id, cid FROM (
        SELECT p.qid, a.vec_id, a.cid,
               row_number() OVER (PARTITION BY p.qid
                 ORDER BY d.adc_dist, a.vec_id, a.cid) AS arnk
        {ranked}
      ) WHERE arnk <= {spec.rerank}
    )""")
    return f"""
    WITH {_SQL_SEP.join(ctes)}
    SELECT qid, vec_id, label, cid, cos_sim, rnk FROM (
      SELECT s.qid, s.vec_id, e.label, s.cid,
             {cos(a="e.v", b="q.qv")} AS cos_sim,
             row_number() OVER (PARTITION BY s.qid
               ORDER BY {cos(a="e.v", b="q.qv")} DESC, s.vec_id, s.cid)
               AS rnk
      FROM shortlist s
      JOIN e ON e.vec_id = s.vec_id
      JOIN q ON q.qid = s.qid
    ) WHERE rnk <= 10
    ORDER BY qid, rnk
    """


def _index_gate(spark: SparkSession, sf_dir: str, spec: IVFSpec) -> DataFrame:
    """Build a `spec` index over the embeddings with the query ids held
    out, then search it with the 3-query batch."""
    import tempfile

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(
        F.col("vec_id").isin(list(IVF_INDEX_QUERY_IDS))
    ).select(F.col("vec_id").alias("qid"), "v")
    with tempfile.TemporaryDirectory(prefix="ivf_gate_") as d:
        build_index(emb, d, spec, exclude_ids=IVF_INDEX_QUERY_IDS)
        return pin(
            search_index(
                spark, queries, d, pq=spec.pq, nprobe=spec.nprobe, rerank=spec.rerank
            ).orderBy("qid", "rnk"),
            "similarity.index_gate_rows",
        )


IVF_INDEX = IVFSpec()
IVF_PQ_INDEX = IVFSpec(m=PQ_M)
IVF_PQ_RERANK = IVFSpec(m=PQ_M, store_raw=True, rerank=PQ_RERANK)
IVF_PQ_RESIDUAL = IVFSpec(m=PQ_M, residual=True)
IVF_PQ_WIDE = IVFSpec(m=PQ_WIDE_M, ks=PQ_WIDE_KS)


@query(
    "ann_ivf_index_topk",
    oracle=_index_oracle(IVF_INDEX),
    doc=f"Persistent-IVF ANN search: build a cid-partitioned index "
    f"(coarse quantizer = vec_ids 1..{IVF_K}, held-out query ids "
    f"{IVF_INDEX_QUERY_IDS}), then run a 3-query batch probing "
    f"{IVF_NPROBE} inverted lists each with partition-pruned scans and "
    "a per-query windowed top-10 — must match the all-in-one SQL "
    "definition exactly.",
    tags=("similarity", "ann"),
)
def ann_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index_gate(spark, sf_dir, IVF_INDEX)


@extra_query(
    "ann_ivf_pq_index_topk",
    oracle=_index_oracle(IVF_PQ_INDEX),
    doc=f"Persistent IVF-PQ ANN: codes-only inverted lists ({PQ_M} ints "
    f"per vector), per-query ADC lookup tables as Column algebra, "
    f"{IVF_NPROBE}-list probes over a {IVF_K}-centroid quantizer with "
    f"held-out query ids {IVF_INDEX_QUERY_IDS} — the partition-pruned "
    "build + batch search must match the all-in-one SQL definition "
    "exactly.",
    tags=("similarity", "ann"),
)
def ann_ivf_pq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index_gate(spark, sf_dir, IVF_PQ_INDEX)


@query(
    "ann_ivf_pq_rerank_topk",
    oracle=_index_oracle(IVF_PQ_RERANK),
    doc=f"IVF-PQ with exact refine: ADC ranks a {PQ_RERANK}-deep "
    f"shortlist per query, then the survivors re-score by exact cosine "
    f"against raw vectors stored under the same cid partitioning "
    "(store_raw=True) and read from only the probed partitions — the "
    "FAISS-refine pattern that removes the PQ resolution cap on recall. "
    "Must match the all-in-one SQL definition exactly.",
    tags=("similarity", "ann"),
)
def ann_ivf_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index_gate(spark, sf_dir, IVF_PQ_RERANK)


@query(
    "ann_ivf_pq_residual_topk",
    oracle=_index_oracle(IVF_PQ_RESIDUAL),
    doc=f"IVFADC residual encoding at the tiny oracle geometry "
    f"({PQ_M}x{PQ_KS}): codes, codebooks and per-(query, probed-list) "
    "lookup tables computed on v - centroid(cid) — the FAISS default "
    "form whose recall numbers live in ANN_RECALL_CLUSTERED. Certifies "
    "the residual Column algebra end-to-end against the all-in-one SQL "
    "definition.",
    tags=("similarity", "ann"),
)
def ann_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index_gate(spark, sf_dir, IVF_PQ_RESIDUAL)


@query(
    # certifies the Arrow encode/LUT kernels (m*ks=512 > the cell cap)
    "ann_ivf_pq_wide_topk",
    oracle=_index_oracle(IVF_PQ_WIDE),
    doc=f"Production-shaped IVF-PQ ADC search: {PQ_WIDE_M} subspaces x "
    f"{PQ_WIDE_KS}-entry sub-codebooks (first-K init so the SQL oracle "
    "can derive identical codebooks), where encoding and the per-query "
    "lookup tables route to the Arrow-batched numpy kernels instead of "
    "per-codeword Column folds — the same math (rounded squared "
    "distance, first-min/lowest-j), certified end-to-end against the "
    "all-in-one SQL definition. Trained-codebook recall at M=8, Ks=256 "
    "is evidenced by the clustered probe (ANN_RECALL_CLUSTERED).",
    tags=("similarity", "ann"),
)
def ann_ivf_pq_wide_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index_gate(spark, sf_dir, IVF_PQ_WIDE)


def _recover_ivf(index_path: str) -> None:
    """Restore a crashed compaction's backup before any vecs/ or raw/
    read (the same discipline as dedup._read_index_or_none): if
    compact_ivf_index died between its two renames, the live dir is
    absent but the backup holds the complete pre-compaction layout.
    No-op on remote schemes."""
    from urllib.parse import urlparse

    from railgun_spark.operators.dedup import _recover_index

    if urlparse(index_path).scheme in ("", "file"):
        _recover_index(_ivf_local(index_path, "vecs"))
        _recover_index(_ivf_local(index_path, "raw"))


def _ivf_append_guard(spark: SparkSession, index_path: str, expect_pq: bool):
    """The append preamble: verify the stored layout matches the rows
    this append writes — codebooks/ marks an IVF-PQ index, and raw rows
    in a codes index (or codes in a raw one) would read back as nulls,
    sorting null adc_dist FIRST in every query's top-k — restore a
    crashed compaction's backup, and take the SAME lock compaction takes
    so an append racing a compactor's double rename fails loudly instead
    of writing into a directory about to be renamed away. Returns (lock,
    token) for _release_compact_lock; on remote schemes (s3/hdfs)
    returns (None, None) — locking and driver-side recovery are
    local-filesystem concerns, remote appends rely on the store's
    committer."""
    from urllib.parse import urlparse

    from railgun_spark.operators.dedup import _acquire_compact_lock, _release_compact_lock

    if urlparse(index_path).scheme not in ("", "file"):
        return None, None
    is_pq = _ivf_has(spark, index_path, "codebooks")
    if is_pq != expect_pq:
        have = "IVF-PQ (codes-only)" if is_pq else "raw-vector IVF"
        want = "IVF-PQ" if expect_pq else "raw-vector IVF"
        raise ValueError(
            f"index layout mismatch at {index_path!r}: the stored index is "
            f"{have} but this append writes {want} rows — mixed rows would "
            "read back as nulls and corrupt every query's top-k. Append "
            "with the index's layout (ann CLI: check the --pq flag)."
        )
    lock, token = _acquire_compact_lock(_ivf_local(index_path, "vecs"))
    try:
        _recover_ivf(index_path)
    except Exception:
        _release_compact_lock(lock, token)
        raise
    return lock, token


def _ivf_has(spark: SparkSession, index_path: str, sub: str) -> bool:
    """True iff the index has a `sub` directory: codebooks/ (the IVF-PQ
    marker) or raw/ (the refine store). Local schemes probe the driver
    filesystem; remote schemes (s3/hdfs) ask the Hadoop FileSystem, so
    remote PQ appends and reranks work against a remote store_raw
    index."""
    from urllib.parse import urlparse

    if urlparse(index_path).scheme in ("", "file"):
        import os

        return os.path.isdir(_ivf_local(index_path, sub))
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{index_path.rstrip('/')}/{sub}")
    return bool(jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath))


def _ivf_local(index_path: str, sub: str) -> str:
    """Local filesystem path of an index's `sub` directory; vecs/ is the
    unit the maintenance lock and the backup/recover swap operate on.
    Raises on remote schemes (driver-side os.rename only makes sense
    locally; on s3/hdfs, compaction is a job-committer concern — same
    contract as dedup._local_index_path)."""
    import os

    from railgun_spark.operators.dedup import _local_index_path

    return os.path.join(_local_index_path(index_path).rstrip("/"), sub)


def compact_ivf_index(spark: SparkSession, index_path: str) -> int:
    """Fold duplicate rows of an IVF / IVF-PQ vecs layout (at-least-once
    appends: a crash between a streaming append and its checkpoint
    replays the batch and double-appends it) and rewrite preserving the
    cid partitioning. Returns the distinct row count. Search is already
    duplicate-SAFE (candidates are distinct-ed before ranking);
    compaction reclaims the storage and scan cost.

    Durability and concurrency follow dedup.compact_index exactly: the
    rewrite stages in a temp dir created as a SIBLING of the index (same
    filesystem — every move is a true os.rename, never a copy+delete
    window), swaps via rename(live->backup) / rename(tmp->live) /
    rmtree(backup), and a crash at any point leaves the old index live
    or the backup recoverable (`_recover_index`, run by every search and
    append and by the next compaction). Compactors AND appenders are
    serialized by the same O_EXCL-style lockfile, so a concurrent
    append+compact fails loudly instead of racing the swap."""
    import os

    from railgun_spark.operators.dedup import (
        _acquire_compact_lock,
        _recover_index,
        _release_compact_lock,
        _swap_compacted,
    )

    vecs, raw = _ivf_local(index_path, "vecs"), _ivf_local(index_path, "raw")
    lock, lock_token = _acquire_compact_lock(vecs)
    try:
        _recover_index(vecs)
        _recover_index(raw)
        n = None
        # a store_raw index folds its refine store in the same pass —
        # both layouts accrete the same at-least-once duplicates
        for live in ([vecs, raw] if os.path.isdir(raw) else [vecs]):
            distinct = pin(spark.read.parquet(live).distinct(), "similarity.compact_rows")
            if n is None:
                n = distinct.count()

            # raw/ keeps the refine store's point-lookup layout (vec_id
            # sort + small row groups)
            writer = _write_raw_store if live == raw else _write_lists
            _swap_compacted(live, lambda tmp: writer(distinct, tmp, "overwrite"))
    finally:
        _release_compact_lock(lock, lock_token)
    return n
